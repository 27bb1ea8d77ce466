package graft.operators

import graft.SharedSparkSpec
import org.apache.spark.sql.functions._

/** q228 (media near-dup index at rest): serving from the stored bucketed
  * (doc_id, bucket, sig) table must reproduce q218's audit row-for-row
  * (and the video modality — the ~107 s/session sf10x rebuild the layout
  * exists to kill — must round-trip the same way), the candidate
  * self-join must run off the bucketing without re-shuffling `bucket`,
  * the layout must build once per (session, dir), and the served plan
  * must never touch documents text (decode stays ≤ 1 per session, paid at
  * build).
  */
class MediaLayoutSpec extends SharedSparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq

  test("q228 equals q218 row-for-row (stored index serves the same audit)") {
    val live = rows(MultimodalQueries.q218.run(spark, sf001))
    val stored = rows(MultimodalQueries.q228.run(spark, sf001))
    assert(stored == live)
    assert(stored.nonEmpty)
  }

  test("video near-dup served from its at-rest index equals the live form") {
    val t = new graft.Tables(spark, sf001)
    val idx = spark.table(MultimodalQueries.nearDupIndexTableOf(t, MultimodalQueries.video))
    val live = MultimodalQueries.q223.run(spark, sf001)
    val served = MultimodalQueries.nearDupAuditServed(
      MultimodalQueries.embeddingsOf(t, MultimodalQueries.video), idx)
    assert(rows(served) == rows(live))
  }

  test("q228: candidate self-join runs off the bucketing — no exchange on bucket") {
    // Under the broadcast threshold the planner would broadcast (equally
    // shuffle-free); pin the 100 TB shape — an index too big to broadcast.
    val t = new graft.Tables(spark, sf001)
    val idx = spark.table(MultimodalQueries.nearDupIndexTableOf(t, MultimodalQueries.image))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val p = idx.as("a")
        .join(idx.as("b"), Seq("bucket"))
        .queryExecution.executedPlan.toString
      assert(p.contains("Bucketed: true"), p.take(1500))
      assert(!p.contains("Exchange hashpartitioning(bucket"),
        "pair join re-shuffled the stored bucket key:\n" + p.take(1500))
    } finally spark.conf.set(key, prev)
  }

  test("media index layout builds once per (session, dir)") {
    val t = new graft.Tables(spark, sf001)
    assert(MultimodalQueries.nearDupIndexTableOf(t, MultimodalQueries.image)
      == MultimodalQueries.nearDupIndexTableOf(t, MultimodalQueries.image))
  }

  test("the served plan reads the layout, never documents text") {
    // Storage-only serve (round 15): the index comes from the bucketed
    // table scan and the verification fetch from the at-rest imgemb table
    // — zero text-bearing documents scans anywhere in the plan. (The
    // remaining ExistingRDDs are the candidate set's own lazy checkpoints
    // — materializations of the Σn_c² join, whose SUB-plans read the
    // at-rest tables; the embedding-table serve source is asserted on the
    // fetch frame directly, where the composed plan string hides it.)
    val t = new graft.Tables(spark, sf001)
    val df = MultimodalQueries.q228.run(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString
    val textScans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents.parquet"))
    assert(textScans == 0, s"served layout plan scans documents:\n${plan.take(1500)}")
    assert(plan.contains("Bucketed: true"), "audit side must read the bucketed layout")
    val embTbl = MultimodalQueries.embTableOf(t, MultimodalQueries.image)
    val embPlan = spark.table(embTbl).queryExecution.executedPlan.toString
    assert(embPlan.contains("graft_imgemb"),
      "verify fetch must read the at-rest embedding table")
    // Bucketing metadata (exchange-free doc_id joins on this table are
    // pinned end-to-end in CrossModalEmbLayoutSpec).
    assert(spark.sql(s"DESCRIBE EXTENDED $embTbl").collect()
      .exists(r => r.getString(0).contains("Num Buckets")),
      "embedding table must be bucketed")
  }
}
