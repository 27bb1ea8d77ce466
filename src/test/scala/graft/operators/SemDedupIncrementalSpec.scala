package graft.operators

import graft.SharedSparkSpec
import org.apache.spark.sql.functions._

/** q185 incremental SemDeDup: the frozen-store/delta-batch rule must match
  * a single-node reference exactly, only ever drop delta vectors, and
  * reconcile with its own audit output.
  */
class SemDedupIncrementalSpec extends SharedSparkSpec {

  /** The oracles' cosine fold order — bit-identical to CosineSimilarity. */
  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("q185: parity vs local frozen-store reference; drops are delta-only") {
    val t = graft.Tables.forPath(spark, sf001)
    val m = graft.functions.KMeansTrainer.trainedModel(t)
    val T = SimilarityQueries.NearDupT
    val vecs = t.embeddings.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    val byCluster = vecs.groupBy { case (_, v) =>
      graft.functions.KMeansTrainer.assignLocal(v, m)
    }
    // Local reference: per cluster, (1) freeze the base retained set via
    // q154's rule on base members alone, (2) drop each delta member that
    // near-dups a retained base member or an earlier delta member.
    val localDropped = byCluster.values.flatMap { members =>
      val ms = members.sortBy(_._1)
      val (delta, base) = ms.partition { case (id, _) => id % 8 == 0 }
      val retained = base.indices.collect {
        case j if !base.take(j).exists { case (_, va) =>
          round4(cos(va, base(j)._2)) >= T } => base(j)
      }
      delta.indices.flatMap { j =>
        val (idB, vb) = delta(j)
        val hit = retained.exists { case (_, va) => round4(cos(va, vb)) >= T } ||
          delta.take(j).exists { case (_, va) => round4(cos(va, vb)) >= T }
        if (hit) Some(idB) else None
      }
    }.toSet

    val engineDropped = SimilarityQueries.semdedupIncrementalDropped(t)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(engineDropped == localDropped,
      s"engine=${engineDropped.size} local=${localDropped.size}")
    assert(engineDropped.forall(_ % 8 == 0), "incremental dedup dropped a BASE vector")

    // Audit consistency: per-bucket drop counts sum to the dropped set, the
    // delta column partitions the batch, and base_retained + base dropped
    // (not shown) + delta == corpus.
    val audit = SimilarityQueries.q185.run(spark, sf001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(audit.map(_._4).sum == engineDropped.size)
    assert(audit.map(_._3).sum == vecs.count(_._1 % 8 == 0))
    assert(audit.forall { case (_, _, nDelta, nDropped) => nDropped <= nDelta })
  }
}
