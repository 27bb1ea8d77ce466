package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe of the engine's mains (Bench, Verify, BenchOne),
  * so a plan printed or timed by any of them is the plan Bench runs.
  * Bench's and Verify's timings and outputs are read against this exact
  * configuration: change nothing here without both in mind. */
object LocalSession {
  /** Cores of the local master, `SPARK_GRAFT_CPUS` (default 32) — also the
    * default shuffle width. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def apply(shufflePartitions: String = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // the engine's own Catalyst extensions (as-of strategy + rules)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      // Let AQE size reduce-side tasks by bytes, not by default parallelism:
      // tiny shuffles coalesce to few full tasks (same knob that avoids
      // 200-empty-task stages at 100 TB).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
