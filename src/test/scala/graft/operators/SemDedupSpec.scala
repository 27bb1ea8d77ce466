package graft.operators

import graft.SharedSparkSpec
import org.apache.spark.sql.functions._

/** q154 SemDeDup: cluster-bucketed embedding dedup. Precision is exact by
  * construction (real cosine on every within-cluster candidate); these tests
  * pin (1) exact parity against a single-node reference implementation of
  * the same rule, (2) recall vs the unrestricted brute-force pair set,
  * (3) that the audit output is consistent with the dropped set, and
  * (4) that the plan never degenerates into an unbucketed cross product.
  */
class SemDedupSpec extends SharedSparkSpec {

  /** Same fold order as the oracles' cosine (ascending index, left fold) so the
    * doubles are bit-identical to the engine's CosineSimilarity. */
  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("q154 semdedup: parity vs local reference, recall vs brute force, audit consistency") {
    val t = graft.Tables.forPath(spark, sf001)
    val m = graft.functions.KMeansTrainer.trainedModel(t)
    val vecs = t.embeddings.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)

    // Local reference: assign with the trainer's own tie rule, pair within
    // cluster, drop every vector with a lower-id neighbor at cos >= T.
    val T = SimilarityQueries.NearDupT
    val byCluster = vecs.groupBy { case (_, v) =>
      graft.functions.KMeansTrainer.assignLocal(v, m)
    }
    val localDropped = byCluster.values.flatMap { members =>
      val ms = members.sortBy(_._1)
      ms.indices.flatMap { j =>
        val (idB, vb) = ms(j)
        if (ms.take(j).exists { case (_, va) => round4(cos(va, vb)) >= T })
          Some(idB)
        else None
      }
    }.toSet

    val engineDropped = SimilarityQueries.semdedupDropped(t)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(engineDropped == localDropped,
      s"engine=${engineDropped.size} local=${localDropped.size}")

    // Recall vs the UNRESTRICTED rule (any lower-id neighbor, any cluster):
    // cross-cluster near-dups are unseen by design, everything else must be.
    val allDropped = vecs.indices.flatMap { j =>
      val (idB, vb) = vecs(j)
      if (vecs.take(j).exists { case (_, va) => round4(cos(va, vb)) >= T })
        Some(idB)
      else None
    }.toSet
    assert(engineDropped.subsetOf(allDropped), "semdedup dropped a non-near-dup")
    assert(allDropped.nonEmpty, "fixture has no near-dup pairs; recall undefined")
    val recall = engineDropped.intersect(allDropped).size.toDouble / allDropped.size
    info(f"SemDeDup recall vs brute-force dropped set (n=${allDropped.size}): $recall%.2f")
    // This fixture is near-flat (max pair cosine ~0.5, no true near-dups —
    // the KnnSpec q37 caveat), so a T=0.4 "near-dup" often straddles a
    // cluster boundary: measured 0.27 here. On a real corpus SemDeDup runs
    // at T~0.95 where duplicates are near-identical vectors that share a
    // nearest centroid with high probability. The floor guards against
    // collapse (untrained/degenerate buckets measured <0.1), not paper-grade
    // recall; the operator's contract is the exact parity above.
    assert(recall >= 0.15,
      f"cluster-bucketed recall $recall%.2f collapsed — buckets no longer co-locate near-dups")

    // Audit output: sizes partition the corpus, drops sum to the dropped set.
    val audit = SimilarityQueries.q154.run(spark, sf001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(audit.map(_._2).sum == vecs.length.toLong)
    assert(audit.map(_._3).sum == engineDropped.size.toLong)

    // The candidate join is keyed by the cluster id — never a cross product.
    val plan = SimilarityQueries.semdedupDropped(t)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "semdedup candidate join degenerated into a cross product")
  }
}
