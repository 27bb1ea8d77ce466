package graft

import graft.sources.ParquetRowReader
import org.apache.spark.JobCounter
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.FormattedMode

/** The per-query dev bench: time queries N times each in one JVM/session.
  * Usage: graft.BenchOne <query>[,<query>...] <sfDir> [n=3]. Complements
  * Bench (the driver's whole-suite run) for per-query plan iteration —
  * run-to-run variance on a busy box makes single whole-suite timings
  * unreliable. A name of the form `rows:<table>:<col,col,...>` times a
  * `getRows` stream over `<sfDir>/<table>.parquet` instead: every row
  * pivoted to its map.
  *
  * Each query run line splits its wall time into driver phases —
  * construct (the imperative body plus analysis), optimize, physical and
  * execute — to tell plan-walk overhead from real work. Optimize and
  * physical are read from the [[QueryPlanningTracker]] of the plan the run
  * then executes, so the query is planned once per run. Each line also
  * counts the Spark jobs the run started, construction included.
  *
  * `SPARK_GRAFT_EXPLAIN=1` prints each query's formatted plan (the one
  * `plans/rNN/` commits) after the warmup; the scan/join/exchange/aggregate
  * skeleton is a `grep` of it.
  */
object BenchOne {
  /** One timed run, in seconds. A `rows:` stream has no plan of its own:
    * its phases and compiles stay 0; its jobs are counted. */
  final case class Run(name: String, run: Int, secs: Double, rows: Long,
      construct: Double = 0, optimize: Double = 0, physical: Double = 0,
      execute: Double = 0, compiles: Long = 0, jobs: Long = 0) {
    // The `<name> runN: <secs>s (` prefix is what tools/budget.py and
    // tools/sweep parse.
    def line: String =
      if (name.startsWith("rows:"))
        f"$name run$run: $secs%.2fs ($rows rows, ${rows / secs}%.0f rows/s, $jobs jobs)"
      else
        f"$name run$run: $secs%.2fs ($rows rows, $compiles codegen compiles, $jobs jobs; " +
          f"construct=$construct%.2f optimize=$optimize%.2f physical=$physical%.2f " +
          f"execute=$execute%.2f)"
  }

  def main(args: Array[String]): Unit = {
    val names =
      if (args(0).startsWith("rows:")) Seq(args(0))
      else args(0).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val n = if (args.length > 2) args(2).toInt else 3
    // SPARK_GRAFT_SHUFFLE_PARTITIONS: size reduce-side partitions to the
    // scale factor (the 100 TB sizing rule — a fixed 32 means per-task
    // hash-relation builds grow with the corpus; q36's shuffle_hash build
    // side exceeded task memory at the sf100x decade). Defaults to cpus,
    // the gate-SF contract.
    val spark = LocalSession(
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", LocalSession.cpus))
    // SPARK_GRAFT_WARMUP=<query>[,<query>...]: run OTHER queries once,
    // untimed and in order, before timing the targets. Suite-cold budgets
    // (tools/budget.py) are measured in a JVM whose session/codegen/
    // page-cache warmup was absorbed by earlier queries; an isolated run1
    // without this pays ~3 s of JVM warmup and over-reads every cheap
    // query's cold time. The list form exists for CACHE-SHARING queries
    // (tools/budget.py's upstream map): a layout/incremental query's
    // suite-cold assumes the suite-order upstream already built the shared
    // memoized state, so its isolated rerun must warm with that exact
    // upstream or it re-measures the upstream's build as its own breach.
    // The same warmup makes an explained plan the steady-state one (a
    // layout query's first call plans the BUILD; its standing plan reads
    // the memo).
    for (ws <- sys.env.get("SPARK_GRAFT_WARMUP").toSeq;
         w <- ws.split(',').map(_.trim) if w.nonEmpty && !names.contains(w);
         wfn <- SparkEntry.queries.get(w)) {
      wfn(spark, sfDir).count()
    }
    if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1"))
      names.filterNot(_.startsWith("rows:")).foreach { name =>
        println(s"=== $name ===\n" +
          SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode))
      }
    names.foreach(name => runs(spark, name, sfDir, n).foreach(r => println(r.line)))
    spark.stop()
  }

  /** `n` timed runs of one query or `rows:` stream, each made as the
    * iterator is read. */
  def runs(spark: SparkSession, name: String, sfDir: String, n: Int): Iterator[Run] =
    name.split(":", 3) match {
      case Array("rows", table, cols) =>
        val columns = cols.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        (1 to n).iterator.map(i => timeRows(spark, name, i, s"$sfDir/$table.parquet", columns))
      case _ =>
        val fn = SparkEntry.queries(name)
        (1 to n).iterator.map(i => timeQuery(spark, name, i, fn(spark, sfDir)))
    }

  /** One run of a row stream, with the jobs it started (one per partition
    * of the projection's plan). */
  private def timeRows(spark: SparkSession, name: String, i: Int,
      path: String, cols: Seq[String]): Run = {
    val (run, jobs) = JobCounter(spark.sparkContext) {
      val t0 = System.nanoTime()
      val it = ParquetRowReader.fromPath(spark, path).getRows(cols)
      var rows = 0L
      while (it.hasNext) { it.next(); rows += 1 }
      Run(name, i, (System.nanoTime() - t0) / 1e9, rows)
    }
    run.copy(jobs = jobs)
  }

  /** One run of a query: build it, plan the `groupBy().count()` that
    * `count()` would run, then collect that same plan. Each run also counts
    * the codegen classes it compiled (a warm run that still compiles is
    * losing its classes from Spark's codegen cache) and the jobs it
    * started. */
  private def timeQuery(spark: SparkSession, name: String, i: Int,
      build: => DataFrame): Run = {
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val (run, jobs) = JobCounter(spark.sparkContext) {
      val c0 = compiles
      val t0 = System.nanoTime()
      val counted = build.groupBy().count()
      val t1 = System.nanoTime()
      val qe = counted.queryExecution
      qe.executedPlan
      val t2 = System.nanoTime()
      val rows = counted.collect().head.getLong(0)
      val t3 = System.nanoTime()
      val phases = qe.tracker.phases
      def phase(p: String) = phases.get(p).fold(0.0)(_.durationMs / 1e3)
      Run(name, i, (t3 - t0) / 1e9, rows,
        construct = (t1 - t0) / 1e9,
        optimize = phase(QueryPlanningTracker.OPTIMIZATION),
        physical = phase(QueryPlanningTracker.PLANNING),
        execute = (t3 - t2) / 1e9,
        compiles = compiles - c0)
    }
    run.copy(jobs = jobs)
  }
}
