package graft.operators

import graft.SharedSparkSpec
import org.apache.spark.sql.functions._

/** q218 media near-dup: decoded-pixel embeddings, trained cluster blocking,
  * PQ symmetric-distance prefilter, exact-cosine verification. Pins
  * (1) parity of the dropped set vs a single-node reference of the same
  * rule on a corpus with PLANTED same-pixel duplicates (identical 256-byte
  * text prefixes → identical decoded PNGs → cosine 1.0), (2) SDC prefilter
  * admissibility (no true pair lost to the code-level approximation),
  * (3) audit consistency and a cartesian-free plan, and (4) parity on the
  * real sf0.001 corpus.
  */
class MediaNearDupSpec extends SharedSparkSpec {
  import spark.implicits._

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

  private def collectEmb(t: graft.Tables): Array[(Long, Array[Double])] =
    MultimodalQueries.embeddingsOf(t, MultimodalQueries.image)
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) => (id, v.map(_.toDouble).toArray) }
      .sortBy(_._1)

  /** Single-node reference of q218's rule: trained-block the vectors, drop
    * every member with a lower-id block-mate at exact cosine ≥ T. */
  private def localDropped(t: graft.Tables): Set[Long] = {
    val km = MultimodalQueries.nearDupModelOf(t, MultimodalQueries.image)
    val T = MultimodalQueries.MediaNearDupT
    collectEmb(t).groupBy { case (_, v) =>
      graft.functions.KMeansTrainer.assignLocal(v, km)
    }.values.flatMap { members =>
      val ms = members.sortBy(_._1)
      ms.indices.flatMap { j =>
        val (idB, vb) = ms(j)
        if (ms.take(j).exists { case (_, va) => round4(cos(va, vb)) >= T })
          Some(idB)
        else None
      }
    }.toSet
  }

  test("q218: planted same-pixel duplicates are found; parity vs local reference") {
    val dir = tmpDir("media_neardup")
    // 30 distinct docs + 3 planted duplicate groups: same 256-char prefix
    // (the decoded PNG's whole pixel payload), different tails — the
    // image-level near-dup text-level dedup can't see.
    def words(p: String, n: Int): String = (1 to n).map(i => s"$p$i").mkString(" ")
    val base = (1 to 30).map(i => (i.toLong, "src1", words(s"u$i", 60)))
    val prefix = "x " * 128  // 256 chars exactly
    val planted = Seq(
      (101L, "src1", prefix + words("tailA", 40)),
      (102L, "src1", prefix + words("tailB", 40)),
      (103L, "src1", prefix + words("tailC", 40)),
      (110L, "src1", words("dupD", 70)),
      (111L, "src1", words("dupD", 70)))
    (base ++ planted).toDF("doc_id", "source", "text")
      .write.parquet(s"$dir/documents.parquet")
    val t = new graft.Tables(spark, dir)

    val expect = localDropped(t)
    val engine = MultimodalQueries.nearDupDroppedOf(t, MultimodalQueries.image)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(engine == expect, s"engine=$engine local=$expect")
    // The planted groups must actually drop their non-minimal members
    // (identical pixels land in one cluster — cosine exactly 1).
    assert(Set(102L, 103L, 111L).subsetOf(engine),
      s"planted same-pixel duplicates not dropped: $engine")
    assert(!engine.contains(101L) && !engine.contains(110L),
      "group minima must survive (min-id-wins)")

    // Sign-sketch prefilter admissibility on this corpus: every true
    // within-block pair's signature Hamming distance is inside the slack.
    val km = MultimodalQueries.nearDupModelOf(t, MultimodalQueries.image)
    val emb = collectEmb(t)
    val byBlock = emb.groupBy { case (_, v) =>
      graft.functions.KMeansTrainer.assignLocal(v, km)
    }
    for (ms <- byBlock.values; i <- ms.indices; j <- 0 until i) {
      val (_, va) = ms(j); val (_, vb) = ms(i)
      if (round4(cos(va, vb)) >= MultimodalQueries.MediaNearDupT) {
        val ham = java.lang.Long.bitCount(
          MultimodalQueries.mediaSignLocal(va) ^ MultimodalQueries.mediaSignLocal(vb)) +
          java.lang.Long.bitCount(
            MultimodalQueries.mediaSign2Local(va) ^ MultimodalQueries.mediaSign2Local(vb))
        assert(ham <= MultimodalQueries.MediaHammingSlack128,
          s"sign-sketch prefilter would lose a true pair: hamming=$ham > ${MultimodalQueries.MediaHammingSlack128}")
      }
    }
  }

  test("q218: sign-sketch admissibility holds on the real sf0.001 and sf0.01 corpora") {
    // The fixture test covers planted duplicates (identical vectors,
    // Hamming 0); the real corpora carry BORDERLINE true pairs (cos down
    // to ~0.91, measured engine-side Hamming up to 14), which is what the
    // slack actually protects. Assert every true pair — block-restricted,
    // the rule's own scope — is admitted at both gate SFs.
    for (sf <- Seq(sf001, sf001.replace("sf0.001", "sf0.01"))) {
      val t = graft.Tables.forPath(spark, sf)
      val km = MultimodalQueries.nearDupModelOf(t, MultimodalQueries.image)
      val byBlock = collectEmb(t).groupBy { case (_, v) =>
        graft.functions.KMeansTrainer.assignLocal(v, km)
      }
      for (ms <- byBlock.values; i <- ms.indices; j <- 0 until i) {
        val (_, va) = ms(j); val (_, vb) = ms(i)
        if (round4(cos(va, vb)) >= MultimodalQueries.MediaNearDupT) {
          val ham = java.lang.Long.bitCount(
            MultimodalQueries.mediaSignLocal(va) ^ MultimodalQueries.mediaSignLocal(vb)) +
            java.lang.Long.bitCount(
              MultimodalQueries.mediaSign2Local(va) ^ MultimodalQueries.mediaSign2Local(vb))
          assert(ham <= MultimodalQueries.MediaHammingSlack128,
            s"$sf: true pair lost at hamming=$ham > ${MultimodalQueries.MediaHammingSlack128}")
        }
      }
    }
  }

  test("q218: audit consistency and cartesian-free plan on sf0.001") {
    val t = graft.Tables.forPath(spark, sf001)
    val audit = MultimodalQueries.q218.run(spark, sf001)
    val plan = audit.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "q218 plan degenerated to a cartesian")
    // Decode-once discipline (the CurationPlanSpec text-scan bound, media
    // form): every consumer of the decoded-pixel embeddings must read the
    // memoized checkpoint, so the SERVED plan carries zero text-bearing
    // documents scans — a refactor that rebases any branch onto a live
    // decode (one full-corpus PNG pass per reader) fails here.
    val textScans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents.parquet") &&
        l.contains("text"))
    assert(textScans == 0,
      s"q218 plan re-decodes raw text $textScans time(s); embeddings must come from the checkpoint")
    val rows = audit.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._2).sum == collectEmb(t).length,
      "bucket sizes must partition the media corpus")
    assert(rows.map(_._3).sum == localDropped(t).size.toLong,
      "audit drop counts must sum to the dropped set")
    val engine = MultimodalQueries.nearDupDroppedOf(t, MultimodalQueries.image)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(engine == localDropped(t), "sf0.001 parity vs local reference")
  }
}
