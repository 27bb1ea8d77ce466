package graft.operators

import graft.SharedSparkSpec
import org.apache.spark.sql.functions._

/** q220 cross-modal alignment + retrieval audit. Pins (1) FULL parity of
  * the per-source audit row against a single-node reference that mirrors
  * the engine rule exactly (multi-probe trained blocks, 256-bit sign-sketch Hamming
  * prefilter at the cross-modal slack, exact round4-cosine top-1 with the
  * (cos desc, id asc) tie rule) on both a planted corpus and the real
  * sf0.001 corpus, (2) the planted outcomes themselves — identical-prefix
  * duplicates resolve cross-modally to the MIN id (n_top1_dup), everything
  * else self-retrieves, the matched-pair alignment population sits in the
  * predicted √(256/512) ≈ 0.707 band and cross-doc pairs below threshold,
  * (3) count-accounting consistency (self + dup + miss = n_docs =
  * aligned), and (4) the decode-once and cartesian-free plan.
  */
class CrossModalSpec extends SharedSparkSpec {
  import spark.implicits._

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def collect(df: org.apache.spark.sql.DataFrame): Array[(Long, Array[Double])] =
    df.as[(Long, Seq[Float])].collect()
      .map { case (id, v) => (id, v.map(_.toDouble).toArray) }
      .sortBy(_._1)

  /** Single-node mirror of q220's audit: per source
    * (n_docs, n_aligned, n_top1_self, n_top1_dup, n_miss). */
  private def localAudit(t: graft.Tables): Map[String, (Long, Long, Long, Long, Long)] = {
    import graft.functions.KMeansTrainer
    val m2 = MultimodalQueries.crossModalFineModel(t)
    val img = collect(MultimodalQueries.embeddingsOf(t, MultimodalQueries.image))
    val aud = collect(MultimodalQueries.embeddingsOf(t, MultimodalQueries.audio))
    val imgById = img.toMap
    val sigOf = img.map { case (id, v) =>
      id -> MultimodalQueries.crossModalSignLocal(v) }.toMap
    // Index-side single FINE assignment (nearest non-empty L1 cell's
    // nearest child — probeLocal2 at p1 = nprobe = 1, the engine's
    // fineBucket rule).
    val byBucket = img.groupBy { case (_, v) =>
      KMeansTrainer.probeLocal2(v, m2, 1, 1).head }
    val srcOf = t.documents.select(col("doc_id"), col("source"))
      .as[(Long, String)].collect().toMap

    def probes(v: Array[Double]): Seq[Int] =
      KMeansTrainer.probeLocal2(v, m2,
        MultimodalQueries.CrossModalL1Probes, MultimodalQueries.CrossModalFineProbes)

    val rows = aud.map { case (qid, av) =>
      val qsig = MultimodalQueries.crossModalSignLocal(av)
      // Mirror of the fused HammingCosineTop1 rule: ALL slack-admitted
      // entries across the probed buckets compete on exact rounded cosine
      // (the kernel's running max per bucket + the 8-row global max are
      // together exactly a global (cos desc, id asc) top-1).
      val candIds = probes(av).flatMap(b => byBucket.getOrElse(b, Array.empty).toSeq)
        .map(_._1).distinct
        .filter { i =>
          val isig = sigOf(i)
          qsig.indices.map(h => java.lang.Long.bitCount(isig(h) ^ qsig(h))).sum <=
            MultimodalQueries.CrossModalHammingSlack
        }
      val scored = candIds.map(i => (i, round4(cos(av, imgById(i)))))
      val top = if (scored.isEmpty) None
        else Some(scored.minBy { case (i, c) => (-c, i) })
      val align = round4(cos(av, imgById(qid)))
      (srcOf(qid), qid, align, top)
    }
    rows.groupBy(_._1).map { case (src, rs) =>
      val aligned = rs.count(_._3 >= MultimodalQueries.CrossModalAlignT).toLong
      val self = rs.count { case (_, qid, _, top) => top.exists(_._1 == qid) }.toLong
      val dup = rs.count { case (_, qid, _, top) =>
        top.exists { case (i, c) =>
          i != qid && c >= MultimodalQueries.CrossModalAlignT }
      }.toLong
      val miss = rs.length.toLong - self - dup
      src -> ((rs.length.toLong, aligned, self, dup, miss))
    }
  }

  private def engineAudit(
      t: graft.Tables): Map[String, (Long, Long, Long, Long, Long)] =
    MultimodalQueries.q220.run(t.spark, t.dir).collect().map { r =>
      r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    }.toMap

  test("q220: planted corpus — parity, prefix-dup min-id resolution, alignment band") {
    val dir = tmpDir("crossmodal")
    def words(p: String, n: Int): String = (1 to n).map(i => s"$p$i").mkString(" ")
    val base = (1 to 30).map(i => (i.toLong, "src1", words(s"u$i", 90)))
    val audioPrefix = "x " * 256 // 512 chars: identical image AND audio
    val imagePrefix = "y " * 128 // 256 chars: identical image, divergent audio
    val planted = Seq(
      (101L, "src2", audioPrefix + words("tailA", 40)),
      (102L, "src2", audioPrefix + words("tailB", 40)),
      (120L, "src2", imagePrefix + words("imgA", 80)),
      (121L, "src2", imagePrefix + words("imgB", 80)))
    (base ++ planted).toDF("doc_id", "source", "text")
      .write.parquet(s"$dir/documents.parquet")
    val t = new graft.Tables(spark, dir)

    val local = localAudit(t)
    val engine = engineAudit(t)
    assert(engine == local, s"engine=$engine local=$local")

    // The matched-pair alignment population: every doc's own image↔audio
    // cosine sits in the predicted √(256/512)-centered band, above the
    // threshold — so n_aligned == n_docs on every source.
    for ((src, (n, aligned, _, _, _)) <- engine)
      assert(aligned == n, s"$src: $aligned/$n aligned")

    // Identical-256-prefix docs are cross-modal dups resolving to the min
    // id: the HIGHER id of each planted pair must be counted in
    // n_top1_dup (its top-1 image is the min-id twin at aligned cosine,
    // whether the pair is identical to byte 512 or only to byte 256).
    // Verify via the local mirror's per-doc rows for precision.
    val img = collect(MultimodalQueries.embeddingsOf(t, MultimodalQueries.image)).toMap
    val aud = collect(MultimodalQueries.embeddingsOf(t, MultimodalQueries.audio)).toMap
    for ((lo, hi) <- Seq((101L, 102L), (120L, 121L))) {
      assert(img(lo).sameElements(img(hi)), s"images of $lo/$hi must be identical")
      val c = round4(cos(aud(hi), img(lo)))
      assert(c >= MultimodalQueries.CrossModalAlignT,
        s"cross pair ($hi audio, $lo image) must be aligned, got $c")
    }
    // ...and the 512-identical pair has identical audio too, while the
    // 256-only pair does not (the modalities' spans differ).
    assert(aud(101L).sameElements(aud(102L)))
    assert(!aud(120L).sameElements(aud(121L)))
    val (_, _, _, dupSrc2, _) = engine("src2")
    assert(dupSrc2 >= 2L, s"both planted higher-ids must resolve as dups: $dupSrc2")

    // Unrelated cross-doc pairs are unaligned: doc 1's audio vs doc 2's
    // image is near-orthogonal.
    val unrel = round4(cos(aud(1L), img(2L)))
    assert(unrel < MultimodalQueries.CrossModalAlignT,
      s"unrelated cross pair should be below threshold, got $unrel")
  }

  test("q220: real sf0.001 corpus — parity, accounting, decode-once, no cartesian") {
    val t = graft.Tables.forPath(spark, sf001)
    val audit = MultimodalQueries.q220.run(spark, sf001)
    val plan = audit.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "q220 plan degenerated to a cartesian")
    val textScans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents.parquet") &&
        l.contains("text"))
    assert(textScans == 0,
      s"q220 plan re-decodes raw text $textScans time(s); both modality frames must come from checkpoints")
    // The live candidate join serves off the CACHED pre-partitioned frames
    // (cacheStanding — InMemoryRelation preserves the bucket partitioning,
    // so per-run exchanges are gone; the exchanges still VISIBLE in the
    // plan string are the cached plans' own one-time builds, rendered
    // inside their InMemoryTableScan leaves). Pin that both standing
    // frames actually serve from cache.
    assert(plan.contains("InMemoryTableScan") ||
      plan.contains("TableCacheQueryStage"),
      "q220's standing frames are not serving from cache:\n" + plan.take(1500))

    val engine = engineAudit(t)
    val local = localAudit(t)
    assert(engine == local, s"engine=$engine local=$local")
    val (n, aligned, self, dup, miss) = engine.values
      .foldLeft((0L, 0L, 0L, 0L, 0L)) { case ((a, b, c, d, e), (v, w, x, y, z)) =>
        (a + v, b + w, c + x, d + y, e + z) }
    assert(n == t.documents.count(), "audit must cover every doc")
    // The alignment distribution has a REAL left tail: a matched pair sits
    // at ‖v256‖/‖v512‖ ≈ 0.707 in expectation, but a cancellation-heavy
    // prefix shrinks ‖v256‖ and ~1% of real docs dip below the 0.5
    // threshold (measured: 495/500 aligned at sf0.001) — which is exactly
    // what makes the LAION-style filter a filter rather than a constant.
    assert(aligned >= (n * 95L) / 100L,
      s"alignment floor breached: $aligned of $n")
    assert(self + dup + miss == n, "retrieval accounting must partition the queries")
    // The retrieval floor: content-based cross-modal matching at the 0.707
    // operating point through 8-probe blocking + slack-28 sketch resolves
    // ~98% of queries (measured block recall 0.98 at both gate SFs; the
    // model and embeddings are deterministic per corpus, so this is a
    // stable measurement, not a flaky sample).
    assert((self + dup).toDouble / n >= 0.95,
      s"cross-modal recall floor breached: self=$self dup=$dup miss=$miss of $n")
  }
}
