package graft.streaming

import graft.SharedSparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** q141's transformWithState funnel: the STREAMING run (RocksDB state
  * store, Update mode, per-user ValueState + TTL) must reproduce the
  * batch q59/q141 conversion counts over the same corpus. */
class StreamingFunnelSpec extends SharedSparkSpec {

  test("q141 streaming funnel equals the batch funnel and q59's counts") {
    val batch = StreamingQueries.q141.run(spark, sf001).collect()
    assert(batch.length == 1)
    val q59 = graft.operators.WindowQueries.q59.run(spark, sf001).collect()
    assert(batch.head.toSeq == q59.head.toSeq,
      "batch transformWithState funnel diverged from q59's three-join form")

    // streaming twin on its own session: the RocksDB provider is what
    // transformWithState requires in a real stream, scoped here so other
    // suites' streams keep the default store
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = StreamingQueries.funnelStream(s, sf001)
      .writeStream
      .format("memory")
      .queryName("q141_stream_test")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    val ended = q.awaitTermination(120000)
    q.stop()
    assert(ended, "the AvailableNow stream must end once it has read every file")

    // update mode re-emits a user's snapshot each batch it appears in:
    // reduce to the FINAL stage per user (stages are monotone)
    val streamed = s.table("q141_stream_test")
      .groupBy("user_id").agg(max(col("stage")).as("stage"))
      .agg(
        sum(when(col("stage") >= 1, 1L).otherwise(0L)).as("n_signup"),
        sum(when(col("stage") >= 2, 1L).otherwise(0L)).as("n_click_after"),
        sum(when(col("stage") >= 3, 1L).otherwise(0L)).as("n_purchase_after"))
      .collect()
    assert(streamed.head.toSeq == batch.head.toSeq,
      s"streaming=${streamed.head.toSeq} batch=${batch.head.toSeq}")
  }
}
