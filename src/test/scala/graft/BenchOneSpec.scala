package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

class BenchOneSpec extends SharedSparkSpec {
  test("a query run's phases add up to its wall time, and it is planned once") {
    val seen = new ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(qe)
    }
    BenchOne.runs(spark, "q04_join_multiway", sf001, 1).foreach(_ => ())  // compile once
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      BenchOne.runs(spark, "q04_join_multiway", sf001, 3).foreach { r =>
        ListenerBusDrain(spark.sparkContext)
        assert(seen.size == r.run, s"run ${r.run}: ${seen.size} query executions so far")
        // the phases reported are the tracker's of the plan that ran
        val phases = seen.toArray(Array.empty[QueryExecution]).last.tracker.phases
        assert(phases("optimization").durationMs / 1e3 == r.optimize, r)
        assert(phases("planning").durationMs / 1e3 == r.physical, r)
        val sum = r.construct + r.optimize + r.physical + r.execute
        assert(math.abs(sum - r.secs) <= 0.05 * r.secs,
          s"phases sum to $sum s of a ${r.secs} s run: $r")
        assert(r.rows > 0 && r.execute > 0, r)
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("a query run's line counts the jobs an independent listener saw") {
    val started = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    // q215 starts jobs while it is built, some of them from its overlap pool.
    val names = Seq("q04_join_multiway", "q215_curation_incremental")
    names.foreach(BenchOne.runs(spark, _, sf001, 1).foreach(_ => ()))  // compile once
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      for (name <- names; r <- BenchOne.runs(spark, name, sf001, 2)) {
        ListenerBusDrain(spark.sparkContext)
        val seen = started.getAndSet(0)
        assert(r.jobs == seen && seen > 0, s"$r: the listener saw $seen jobs")
        assert(r.line.contains(s" codegen compiles, $seen jobs; construct="), r.line)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a rows: stream counts every row of its table") {
    val Seq(r) = BenchOne.runs(spark, "rows:lineitem:l_orderkey,l_returnflag", sf001, 1).toSeq
    assert(r.rows == spark.read.parquet(s"$sf001/lineitem.parquet").count())
    assert(r.line.startsWith("rows:lineitem:l_orderkey,l_returnflag run1: "))
  }
}
