package graft

import org.apache.spark.sql.execution.FormattedMode

/** Dump `.explain("formatted")` for named queries to files — the plan
  * evidence the optimization rounds commit under plans/rNN/. Usage:
  *   graft.ExplainDump <outDir> <suffix> <query>[,<query>...] [sfDir]
  * Writes <outDir>/<query>_<suffix>.txt per query. The session is Bench's
  * ([[LocalSession]]), so the dumped plan is the plan the bench actually
  * runs.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(',').map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = LocalSession()
    // Warm any upstream memoized state first so the dumped plan is the
    // steady-state one (a layout query's first call plans the BUILD; its
    // standing plan reads the memo).
    for (ws <- sys.env.get("SPARK_GRAFT_WARMUP").toSeq;
         w <- ws.split(',').map(_.trim) if w.nonEmpty;
         wfn <- SparkEntry.queries.get(w)) {
      wfn(spark, sfDir).count()
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"wrote $outDir/${name}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
