package graft.operators

import graft.SharedSparkSpec
import graft.functions.KMeansTrainer
import org.apache.spark.sql.functions._

/** Pins the media coarse-model training routing
  * ([[MultimodalQueries.trainCoarseFrom]]): above the crossover k the
  * sample FRAME trains through the distributed Lloyd's loop
  * ([[KMeansTrainer.train]] — one no-shuffle job per superstep, driver
  * state k×dim; its shape and 1e-8 local parity are pinned by
  * KMeansTrainSpec) and is never collected, so the training path carries
  * no driver-side O(k·n) term at 100 TB-scale corpora. Below the
  * crossover the historical driver-local pass runs, keeping small-SF
  * serving outputs byte-identical.
  *
  * The parity test exercises the DISTRIBUTED branch on real decoded media
  * vectors (not a synthetic frame) and demands what serving actually
  * needs: identical iteration counts, centroids to 1e-8, and the SAME
  * coarse bucket for every corpus vector under both models.
  */
class CoarseTrainRoutingSpec extends SharedSparkSpec {

  test("routing: every 100 TB-scale corpus trains distributed; gate fixtures stay local") {
    // k = √N: the crossover (k ≥ 128) is N ≳ 16.4 k docs — far below any
    // production corpus, far above every oracle-gate fixture.
    assert(!MultimodalQueries.coarseTrainsDistributed(MultimodalQueries.mediaCoarseK(500)))
    assert(!MultimodalQueries.coarseTrainsDistributed(MultimodalQueries.mediaCoarseK(5000)))
    assert(MultimodalQueries.coarseTrainsDistributed(MultimodalQueries.mediaCoarseK(17000)))
    assert(MultimodalQueries.coarseTrainsDistributed(MultimodalQueries.mediaCoarseK(500000)))
    assert(MultimodalQueries.coarseTrainsDistributed(MultimodalQueries.mediaCoarseK(500000000L)))
  }

  test("distributed and local coarse training agree on real media vectors") {
    val t = new graft.Tables(spark, sf001)
    val k = MultimodalQueries.mediaCoarseK(t.documents.count())
    val sampleLimit = math.max(256L, 32L * k)
    // Same (doc_id, embedding) rows the production sample sees: the decode
    // is per-doc deterministic, so filtering the decode-once corpus
    // checkpoint equals decoding the filtered documents slice.
    val emb = MultimodalQueries.embeddingsOf(t, MultimodalQueries.image)
    val sample = emb.filter(col("doc_id") < sampleLimit)
    assert(!MultimodalQueries.coarseTrainsDistributed(k)) // sf0.001 sits below the crossover…
    val local = MultimodalQueries.trainCoarseFrom(sample, k) // …so this IS the local path
    val dist = MultimodalQueries.trainCoarseFrom(sample, k, forceDistributed = true)

    assert(dist.iters == local.iters, "superstep counts must match")
    assert(dist.centroids.length == local.centroids.length)
    dist.centroids.zip(local.centroids).zipWithIndex.foreach { case ((dc, lc), ci) =>
      dc.zip(lc).foreach { case (a, b) =>
        assert(math.abs(a - b) <= 1e-8, s"centroid $ci drifted beyond 1e-8")
      }
    }
    assert(dist.nMembers == local.nMembers, "last-assignment member counts must match")

    // The serving invariant: every corpus vector lands in the same coarse
    // bucket under both models (bucket identity is what the near-dup
    // pipelines consume — centroid ulps may differ, assignments may not).
    val disagreements = emb.select(
        KMeansTrainer.coarseBucket(col("embedding"), local).as("bl"),
        KMeansTrainer.coarseBucket(col("embedding"), dist).as("bd"))
      .filter(col("bl") =!= col("bd")).count()
    assert(disagreements == 0L, s"$disagreements corpus vectors re-bucketed")
  }
}
