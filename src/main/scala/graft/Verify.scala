package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    // Queries are independent — run 4 at a time. Spark's scheduler handles
    // concurrent actions on one session (FIFO across jobs), and every query
    // is self-contained (q12's temp views are uniquely named per run), so
    // this is pure wall-clock: small queries fill the cores a big query's
    // tail stages leave idle.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val futures = SparkEntry.queries.toSeq.map { case (name, fn) =>
      scala.concurrent.Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          failures.add(name)
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          // A failing query must still produce a GATE ENTRY: an empty
          // single-column parquet can never hash-match an oracle nor pass
          // a rows>0 check, so the gate records a failure instead of the
          // entry silently vanishing (round 7: 12 analysis-broken queries
          // dropped out of CORRECTNESS entirely and the file looked green).
          try spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("__verify_error",
                org.apache.spark.sql.types.StringType))))
            .write.mode("overwrite").parquet(s"$outDir/$name")
          catch { case e2: Throwable =>
            System.err.println(s"[verify] $name error-marker write failed: ${e2.getMessage}")
          }
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    // Entry-count invariant, loud on both channels: every declared query
    // has an output dir, failed or not — the gate can narrow to "failed",
    // never to "absent".
    val missing = SparkEntry.queries.keySet
      .filterNot(n => Files.exists(Paths.get(s"$outDir/$n")))
    println(s"[verify] declared=${SparkEntry.queries.size} " +
      s"written=${SparkEntry.queries.size - missing.size} " +
      s"failed=${failures.size}${if (failures.isEmpty) "" else failures.toArray.mkString(" [", ",", "]")}")
    require(missing.isEmpty, s"[verify] missing output dirs: $missing")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
