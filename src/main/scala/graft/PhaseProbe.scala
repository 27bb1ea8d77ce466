package graft

/** Split one query's per-run cost into driver phases — construction
  * (imperative body + analysis), optimization, physical planning, and
  * execution — to tell plan-walk overhead from real work. Usage:
  *   graft.PhaseProbe <query> [sfDir] [n=3]
  */
object PhaseProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val n = if (args.length > 2) args(2).toInt else 3
    val spark = LocalSession()
    val fn = SparkEntry.queries(name)
    for (ws <- sys.env.get("SPARK_GRAFT_WARMUP").toSeq;
         w <- ws.split(',').map(_.trim) if w.nonEmpty && w != name;
         wfn <- SparkEntry.queries.get(w)) {
      wfn(spark, sfDir).count()
    }
    (1 to n).foreach { i =>
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.optimizedPlan
      val t2 = System.nanoTime()
      df.queryExecution.executedPlan
      val t3 = System.nanoTime()
      val rows = df.count()
      val t4 = System.nanoTime()
      def s(a: Long, b: Long) = f"${(b - a) / 1e9}%.2f"
      println(s"$name run$i: construct=${s(t0, t1)} optimize=${s(t1, t2)} " +
        s"physical=${s(t2, t3)} execute=${s(t3, t4)} total=${s(t0, t4)} ($rows rows)")
    }
    spark.stop()
  }
}
