package graft

import graft.sources.ParquetRowReader
import org.apache.spark.sql.SparkSession

/** Local micro-bench: time ONE query N times in a single JVM/session.
  * Usage: graft.BenchOne <queryName> <sfDir> [n=3]. Complements Bench (the
  * driver's whole-suite run) for per-query plan iteration — run-to-run
  * variance on a busy box makes single whole-suite timings unreliable.
  * A name of the form `rows:<table>:<col,col,...>` times a `getRows` stream
  * over `<sfDir>/<table>.parquet` instead: every row pivoted to its map.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val n = if (args.length > 2) args(2).toInt else 3
    // SPARK_GRAFT_SHUFFLE_PARTITIONS: size reduce-side partitions to the
    // scale factor (the 100 TB sizing rule — a fixed 32 means per-task
    // hash-relation builds grow with the corpus; q36's shuffle_hash build
    // side exceeded task memory at the sf100x decade). Defaults to cpus,
    // the gate-SF contract.
    val spark = LocalSession(
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", LocalSession.cpus))
    name.split(":", 3) match {
      case Array("rows", table, cols) =>
        val columns = cols.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        timeRows(spark, name, s"$sfDir/$table.parquet", columns, n)
      case _ =>
        timeQuery(spark, name, sfDir, n)
    }
    spark.stop()
  }

  private def timeRows(spark: SparkSession, name: String,
      path: String, cols: Seq[String], n: Int): Unit =
    (1 to n).foreach { i =>
      val t0 = System.nanoTime()
      val it = ParquetRowReader.fromPath(spark, path).getRows(cols)
      var rows = 0L
      while (it.hasNext) { it.next(); rows += 1 }
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"$name run$i: $secs%.2fs ($rows rows, ${rows / secs}%.0f rows/s)")
    }

  private def timeQuery(spark: SparkSession, name: String,
      sfDir: String, n: Int): Unit = {
    val fn = SparkEntry.queries(name)
    // SPARK_GRAFT_WARMUP=<query>[,<query>...]: run DIFFERENT queries once,
    // untimed and in order, before timing the target. Suite-cold budgets
    // (tools/cold_budget.sh) are measured in a JVM whose session/codegen/
    // page-cache warmup was absorbed by earlier queries; an isolated run1
    // without this pays ~3 s of JVM warmup and over-reads every cheap
    // query's cold time. The list form exists for CACHE-SHARING queries
    // (tools/budget_gate.py's upstream map): a layout/incremental query's
    // suite-cold assumes the suite-order upstream already built the shared
    // memoized state, so its isolated rerun must warm with that exact
    // upstream or it re-measures the upstream's build as its own breach.
    for (ws <- sys.env.get("SPARK_GRAFT_WARMUP").toSeq;
         w <- ws.split(',').map(_.trim) if w.nonEmpty && w != name;
         wfn <- SparkEntry.queries.get(w)) {
      wfn(spark, sfDir).count()
    }
    // SPARK_GRAFT_EXPLAIN=1: dump the optimized + executed plan before timing
    // (plan-iteration aid — spot expression duplication, lost pushdowns).
    if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1")) {
      val qe = fn(spark, sfDir).queryExecution
      println("=== optimized ===\n" + qe.optimizedPlan.toString.take(8000))
      println("=== executed ===\n" + qe.executedPlan.toString.take(8000))
    }
    // Each run also prints the codegen classes it compiled: a warm run that
    // still compiles is losing its classes from Spark's codegen cache.
    def compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    (1 to n).foreach { i =>
      val c0 = compiles
      val t0 = System.nanoTime()
      val rows = fn(spark, sfDir).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"$name run$i: $secs%.2fs ($rows rows, ${compiles - c0} codegen compiles)")
    }
  }
}
