package graft.operators

import graft.SharedSparkSpec
import org.apache.spark.sql.functions._

/** q219 audio near-dup: decoded-PCM embeddings, trained cluster blocking,
  * sign-sketch Hamming prefilter, exact-cosine verification — q218's pins
  * on the audio modality. Pins (1) parity of the dropped set vs a
  * single-node reference of the same rule on a corpus with PLANTED
  * same-audio duplicates (identical 512-byte text prefixes → identical PCM
  * payloads → cosine 1.0), (2) prefilter admissibility, (3) audit
  * consistency, the decode-once plan, and a cartesian-free plan, and
  * (4) parity on the real sf0.001 corpus. Also pins that the audio dup
  * structure genuinely DIFFERS from the image one: a pair identical only
  * in its first 256 bytes is an image dup but not an audio dup.
  */
class AudioNearDupSpec extends SharedSparkSpec {
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
    MultimodalQueries.embeddingsOf(t, MultimodalQueries.audio)
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) => (id, v.map(_.toDouble).toArray) }
      .sortBy(_._1)

  /** Single-node reference of q219's rule: trained-block the vectors, drop
    * every member with a lower-id block-mate at exact cosine ≥ T. */
  private def localDropped(t: graft.Tables): Set[Long] = {
    val km = MultimodalQueries.nearDupModelOf(t, MultimodalQueries.audio)
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

  test("q219: planted same-audio duplicates are found; image-only dups are not") {
    val dir = tmpDir("audio_neardup")
    def words(p: String, n: Int): String = (1 to n).map(i => s"$p$i").mkString(" ")
    val base = (1 to 30).map(i => (i.toLong, "src1", words(s"u$i", 90)))
    // 512 chars exactly: the whole audio payload — identical PCM.
    val audioPrefix = "x " * 256
    // 256 chars: identical IMAGE payload (q218's span), but the audio
    // payload keeps going into the differing tails.
    val imagePrefix = "y " * 128
    val planted = Seq(
      (101L, "src1", audioPrefix + words("tailA", 40)),
      (102L, "src1", audioPrefix + words("tailB", 40)),
      (110L, "src1", words("dupD", 110)),
      (111L, "src1", words("dupD", 110)),
      (120L, "src1", imagePrefix + words("imgA", 80)),
      (121L, "src1", imagePrefix + words("imgB", 80)))
    (base ++ planted).toDF("doc_id", "source", "text")
      .write.parquet(s"$dir/documents.parquet")
    val t = new graft.Tables(spark, dir)

    val expect = localDropped(t)
    val engine = MultimodalQueries.nearDupDroppedOf(t, MultimodalQueries.audio)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(engine == expect, s"engine=$engine local=$expect")
    assert(Set(102L, 111L).subsetOf(engine),
      s"planted same-audio duplicates not dropped: $engine")
    assert(!engine.contains(101L) && !engine.contains(110L),
      "group minima must survive (min-id-wins)")
    // The image-only pair (identical first 256 bytes, divergent 256..512)
    // must NOT be an audio dup — the modalities' spans differ.
    assert(!engine.contains(121L),
      "a 256-byte-prefix (image-span) dup must not drop on the audio side")

    // Sign-sketch prefilter admissibility: every true within-block pair's
    // signature Hamming distance is inside the slack.
    val km = MultimodalQueries.nearDupModelOf(t, MultimodalQueries.audio)
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

  test("q219: audit consistency, decode-once and cartesian-free plan on sf0.001") {
    val t = graft.Tables.forPath(spark, sf001)
    val audit = MultimodalQueries.q219.run(spark, sf001)
    val plan = audit.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "q219 plan degenerated to a cartesian")
    val textScans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents.parquet") &&
        l.contains("text"))
    assert(textScans == 0,
      s"q219 plan re-decodes raw text $textScans time(s); embeddings must come from the checkpoint")
    val rows = audit.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._2).sum == collectEmb(t).length,
      "bucket sizes must partition the audio corpus")
    assert(rows.map(_._3).sum == localDropped(t).size.toLong,
      "audit drop counts must sum to the dropped set")
    val engine = MultimodalQueries.nearDupDroppedOf(t, MultimodalQueries.audio)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(engine == localDropped(t), "sf0.001 parity vs local reference")
  }

  test("q219 served from at-rest tables equals live; served plan reads storage only") {
    // The round-16 zero-decode upgrade (q228's shape on the audio
    // modality): index from the bucket-bucketed audnearidx table, verify
    // fetch from the doc_id-bucketed audemb table.
    val t = graft.Tables.forPath(spark, sf001)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val live = rows(MultimodalQueries.q219.run(spark, sf001))
    val served = MultimodalQueries.nearDupServedOf(t, MultimodalQueries.audio)
    assert(rows(served) == live)
    assert(live.nonEmpty)
    // Storage-only plan: no raw-text documents scan anywhere; the index
    // side reads the bucketed layout. (The candidate set's lazy
    // checkpoints hide their sub-plans — the embedding serve source is
    // asserted on the table directly, the MediaLayoutSpec convention.)
    val plan = served.queryExecution.executedPlan.toString
    val textScans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents.parquet"))
    assert(textScans == 0, s"served q219 plan scans documents:\n${plan.take(1500)}")
    assert(plan.contains("Bucketed: true"), "audit side must read the bucketed layout")
    val embTbl = MultimodalQueries.embTableOf(t, MultimodalQueries.audio)
    assert(spark.sql(s"DESCRIBE EXTENDED $embTbl").collect()
      .exists(r => r.getString(0).contains("Num Buckets")),
      "audio embedding table must be bucketed")
    // The q219 body itself routes to the served form under the flag.
    sys.props("spark.graft.serveLayouts") = "1"
    try assert(rows(MultimodalQueries.q219.run(spark, sf001)) == live)
    finally sys.props.remove("spark.graft.serveLayouts")
  }
}
