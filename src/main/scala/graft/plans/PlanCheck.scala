package graft.plans

/** Dev tool: print the scan/join/exchange/aggregate skeleton of selected
  * queries' physical plans — the fast way to confirm pushdown, pruning, and
  * join strategy didn't regress. Run with the spark jars + compiled classes
  * on the classpath: `java -cp ... graft.plans.PlanCheck [names...]`.
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession()
    val want: String => Boolean =
      if (args.isEmpty) _ => true else n => args.exists(n.contains)
    graft.SparkEntry.engineQueries.filter(q => want(q.name)).foreach { q =>
      println(s"===== ${q.name} =====")
      val df = q.run(spark, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
      val plan = df.queryExecution.executedPlan.toString
      println(plan.linesIterator.filter(l =>
        l.contains("Scan") || l.contains("Join") || l.contains("Exchange") ||
          l.contains("Aggregate") || l.contains("TakeOrdered") || l.contains("Window"))
        .map(_.take(260)).mkString("\n"))
    }
    spark.stop()
  }
}
