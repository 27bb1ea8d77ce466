package graft.operators

import graft.SharedSparkSpec

/** LIVE-form store reuse for the nightly ingest family (round 17): when
  * the packed at-rest ledger is present and source-fingerprint fresh, a
  * live q221 session must answer from it — the batch decodes DELTA-ONLY
  * ([[MultimodalQueries.batchFlatOf]]) and NOTHING corpus-scale is
  * decoded, trained or packed; the audit must equal the full session
  * build's exactly. The store is yesterday's data by definition, so
  * reading it from rest carries zero fixture-gaming risk: staleness
  * refuses via the stamp (LayoutWriterSpecServe pins that side).
  */
class MediaIngestReuseSpec extends SharedSparkSpec {
  import MultimodalQueries._

  test("live q221 with a fresh at-rest ledger: zero corpus decode, audit equality") {
    val t = new graft.Tables(spark, sf001)
    dropStorePackArtifacts(t, image)
    try {
      // Live baseline with NO standing table: the full session build.
      val live = q221.run(spark, sf001).collect().toSeq
      // Materialize + stamp the at-rest ledger, then evict every ingest
      // session memo so the next run chooses its source fresh.
      storePackTableOf(t, image)
      dropIngestSession(t, image)
      assert(!graft.Artifacts.built(t, s"${image.tag}emb"), "eviction failed")
      val reused = q221.run(spark, sf001).collect().toSeq
      assert(reused == live, "ledger-reusing live run diverged from the live audit")
      // The store side came from rest: the corpus-scale decode checkpoint
      // was never (re)built — the only decode this run paid is the batch
      // delta, which is fresh by nature.
      assert(!graft.Artifacts.built(t, s"${image.tag}emb"),
        "a live run with a fresh at-rest ledger must not decode the corpus")
      // And it really is storage-backed: the table is registered here.
      val width = spark.sessionState.conf.numShufflePartitions
      assert(spark.catalog.tableExists(
        layoutName(s"${image.tag}storepack", t.dir, width)))
    } finally dropStorePackArtifacts(t, image)
  }
}
