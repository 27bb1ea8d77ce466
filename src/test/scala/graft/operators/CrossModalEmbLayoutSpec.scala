package graft.operators

import graft.SharedSparkSpec
import org.apache.spark.sql.functions._

/** q232 (decoded-embedding tables at rest — the zero-decode serve): the
  * audit served from the stored embedding + retrieval tables must equal
  * q220 row-for-row, the stored embedding frames must be lossless
  * round-trips of the session decode checkpoints, the alignment join must
  * run off the doc_id bucketing with no exchange on either side, and the
  * served plan must read NO document text and NO decode checkpoint —
  * storage only, plus the (doc_id, source) projection for the rollup. */
class CrossModalEmbLayoutSpec extends SharedSparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))).toSeq

  test("q232 equals q220 row-for-row (zero-decode serve, same audit)") {
    val live = rows(MultimodalQueries.q220.run(spark, sf001))
    val stored = rows(MultimodalQueries.q232.run(spark, sf001))
    assert(stored == live)
    assert(stored.nonEmpty)
  }

  test("stored embedding tables are lossless round-trips of the decode checkpoints") {
    val t = new graft.Tables(spark, sf001)
    val (imgTbl, audTbl) = MultimodalQueries.crossModalEmbTables(t)
    def embRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("embedding"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
        .sortBy(_._1).toSeq
    assert(embRows(spark.table(imgTbl))
      == embRows(MultimodalQueries.embeddingsOf(t, MultimodalQueries.image)))
    assert(embRows(spark.table(audTbl))
      == embRows(MultimodalQueries.embeddingsOf(t, MultimodalQueries.audio)))
  }

  test("alignment join runs off the doc_id bucketing — no exchange on doc_id") {
    val t = new graft.Tables(spark, sf001)
    val (imgTbl, audTbl) = MultimodalQueries.crossModalEmbTables(t)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val p = spark.table(imgTbl).withColumnRenamed("embedding", "ei")
        .join(spark.table(audTbl).withColumnRenamed("embedding", "ea")
          .hint("shuffle_hash"), Seq("doc_id"))
        .queryExecution.executedPlan.toString
      assert(p.contains("Bucketed: true"), p.take(1500))
      assert(!p.contains("Exchange hashpartitioning(doc_id"),
        "alignment join re-shuffled the stored doc_id key:\n" + p.take(1500))
    } finally spark.conf.set(key, prev)
  }

  test("served q232 plan reads storage only: no text scan, no decode checkpoint") {
    // q232's audit plan must come entirely from the at-rest tables (scans
    // of the graft_xm* tables) — no documents text column and no
    // ExistingRDD (the decode checkpoints' physical form) anywhere. The
    // build writes ride BEFORE the returned frame; the served PLAN is what
    // a SPARK_GRAFT_SERVE_LAYOUTS=1 session would execute having built
    // nothing.
    val t = new graft.Tables(spark, sf001)
    MultimodalQueries.crossModalLayoutTables(t)
    MultimodalQueries.crossModalEmbTables(t)
    // The served-probe standing frame is SHARED with q231 (one cache entry
    // per dir); evict it so this q232 build provably comes from the at-rest
    // vector table, not a frame an earlier suite built from the session
    // decode checkpoint (whose cached-build sub-plan would print an
    // ExistingRDD here and fail the storage-only assertion spuriously).
    MultimodalQueries.dropServedProbes(t)
    val plan = MultimodalQueries.q232.run(spark, sf001)
      .queryExecution.executedPlan.toString
    val textScans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents.parquet") &&
        l.contains("text"))
    assert(textScans == 0,
      s"q232 served plan decodes raw text $textScans time(s)")
    assert(!plan.contains("ExistingRDD"),
      "q232 served plan still reads a session decode checkpoint:\n" +
        plan.take(1500))
    assert(plan.contains("graft_imgemb") && plan.contains("graft_audemb"),
      "q232 served plan does not read the at-rest embedding tables")
  }
}
