package graft.operators

import graft.SharedSparkSpec
import org.apache.spark.sql.functions._

/** q223 video near-dup: decoded sampled-frame embeddings, trained cluster
  * blocking, sign-sketch Hamming prefilter, exact-cosine verification —
  * q218/q219's pins on the video modality. Pins (1) parity of the dropped
  * set vs a single-node reference on a corpus with PLANTED same-video
  * duplicates, (2) the modality span algebra: the video window
  * [0,256)∪[32,288) NESTS the image window, so an image-span (256) dup
  * shares 480 of 512 embedded bytes and stays a video near-dup at cos
  * ≈ 0.94 — the nesting is pinned quantitatively, not wished away — while
  * a video-span (288) dup is NOT an audio dup (the audio payload reads to
  * byte 512 where the tails differ), (3) prefilter admissibility, and
  * (4) audit consistency, the
  * decode-once plan, and a cartesian-free plan on the real corpus.
  */
class VideoNearDupSpec extends SharedSparkSpec {
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

  private def collectEmb(t: graft.Tables): Array[(Long, Array[Double])] =
    MultimodalQueries.embeddingsOf(t, MultimodalQueries.video)
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) => (id, v.map(_.toDouble).toArray) }
      .sortBy(_._1)

  /** Single-node reference of q223's rule: trained-block the vectors, drop
    * every member with a lower-id block-mate at exact cosine ≥ T. */
  private def localDropped(t: graft.Tables): Set[Long] = {
    val km = MultimodalQueries.nearDupModelOf(t, MultimodalQueries.video)
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

  test("q223: planted dups found; image-span nesting and audio-span divergence pinned") {
    val dir = tmpDir("video_neardup")
    def words(p: String, n: Int): String = (1 to n).map(i => s"$p$i").mkString(" ")
    val base = (1 to 30).map(i => (i.toLong, "src1", words(s"u$i", 90)))
    // 288 chars: the full video span (frames 0 and 2 cover bytes 0..288)
    // — identical sampled pixels, divergent audio tails (512 > 288).
    val videoPrefix = "v " * 144
    // 256 chars: identical IMAGE payload; frame 2 reads bytes 32..288 so
    // the video embedding shares 480/512 bytes — a diluted near-dup.
    val imagePrefix = "y " * 128
    val planted = Seq(
      (101L, "src1", videoPrefix + words("tailA", 60)),
      (102L, "src1", videoPrefix + words("tailB", 60)),
      (110L, "src1", words("dupD", 110)),
      (111L, "src1", words("dupD", 110)),
      (120L, "src1", imagePrefix + words("imgA", 80)),
      (121L, "src1", imagePrefix + words("imgB", 80)))
    (base ++ planted).toDF("doc_id", "source", "text")
      .write.parquet(s"$dir/documents.parquet")
    val t = new graft.Tables(spark, dir)

    val expect = localDropped(t)
    val engine = MultimodalQueries.nearDupDroppedOf(t, MultimodalQueries.video)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(engine == expect, s"engine=$engine local=$expect")
    assert(Set(102L, 111L).subsetOf(engine),
      s"planted same-video duplicates not dropped: $engine")
    assert(!engine.contains(101L) && !engine.contains(110L),
      "group minima must survive (min-id-wins)")
    // Image-span-only dup (identical to byte 256, divergent in 256..288):
    // the video window nests the image window, so the pair shares 480 of
    // 512 embedded bytes — a video near-dup at ~0.94, ABOVE the 0.9 gate.
    // Pin the nesting quantitatively via the local reference's vectors.
    val vemb = collectEmb(t).toMap
    val nestCos = round4(cos(vemb(120L), vemb(121L)))
    assert(nestCos >= MultimodalQueries.MediaNearDupT && nestCos < 0.99,
      s"image-span dup should be a diluted (~0.94) video near-dup, got $nestCos")
    assert(engine.contains(121L),
      "an image-span dup stays a video near-dup (the video window nests the image window)")
    // ...and the video-span pair (288) is NOT an audio dup: the audio
    // payload reads to byte 512 where the tails differ.
    val aud = MultimodalQueries.nearDupDroppedOf(t, MultimodalQueries.audio)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!aud.contains(102L),
      "a 288-byte-prefix (video-span) dup must not drop on the audio side")

    // Sign-sketch prefilter admissibility on the fixture.
    val km = MultimodalQueries.nearDupModelOf(t, MultimodalQueries.video)
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
          s"sign-sketch prefilter would lose a true pair: hamming=$ham")
      }
    }
  }

  test("q223: audit consistency, decode-once and cartesian-free plan on sf0.001") {
    val t = graft.Tables.forPath(spark, sf001)
    val audit = MultimodalQueries.q223.run(spark, sf001)
    val plan = audit.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "q223 plan degenerated to a cartesian")
    val textScans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents.parquet") &&
        l.contains("text"))
    assert(textScans == 0,
      s"q223 plan re-decodes raw text $textScans time(s); embeddings must come from the checkpoint")
    val rows = audit.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._2).sum == collectEmb(t).length,
      "bucket sizes must partition the video corpus")
    assert(rows.map(_._3).sum == localDropped(t).size.toLong,
      "audit drop counts must sum to the dropped set")
    val engine = MultimodalQueries.nearDupDroppedOf(t, MultimodalQueries.video)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(engine == localDropped(t), "sf0.001 parity vs local reference")
  }

  test("q223 served from at-rest tables equals live; served plan reads storage only") {
    // Zero-decode serve for the modality whose rebuild is the media
    // family's named worst case (~107 s/session at sf10x): index from the
    // vidnearidx table, verify fetch from the videmb table.
    val t = graft.Tables.forPath(spark, sf001)
    def auditRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val live = auditRows(MultimodalQueries.q223.run(spark, sf001))
    val served = MultimodalQueries.nearDupServedOf(t, MultimodalQueries.video)
    assert(auditRows(served) == live)
    assert(live.nonEmpty)
    val plan = served.queryExecution.executedPlan.toString
    val textScans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents.parquet"))
    assert(textScans == 0, s"served q223 plan scans documents:\n${plan.take(1500)}")
    assert(plan.contains("Bucketed: true"), "audit side must read the bucketed layout")
    val embTbl = MultimodalQueries.embTableOf(t, MultimodalQueries.video)
    assert(spark.sql(s"DESCRIBE EXTENDED $embTbl").collect()
      .exists(r => r.getString(0).contains("Num Buckets")),
      "video embedding table must be bucketed")
    sys.props("spark.graft.serveLayouts") = "1"
    try assert(auditRows(MultimodalQueries.q223.run(spark, sf001)) == live)
    finally sys.props.remove("spark.graft.serveLayouts")
  }
}
