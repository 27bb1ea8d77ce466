package graft.operators

import graft.SharedSparkSpec
import org.apache.spark.sql.functions._

/** q224 incremental cross-modal retrieval. Pins (1) FULL parity of the
  * per-source audit against a single-node mirror of the exact rule (frozen
  * store-trained model, store-only index, batch-only 8-probe queries,
  * 256-bit sketch slack, round4-cosine top-1 with the (cos desc, id asc)
  * tie rule) on a planted corpus and the real sf0.001 corpus, (2) the
  * planted outcomes — a batch arrival that duplicates a store doc's text
  * resolves to THAT store image, a batch arrival sharing only the 256-byte
  * image prefix still resolves (the image covers exactly the shared span),
  * a fresh arrival misses, (3) accounting (matched + miss = n_batch, and
  * the index never contains a batch image), and (4) the decode-once and
  * cartesian-free plan.
  */
class CrossModalIncrementalSpec extends SharedSparkSpec {
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

  /** Single-node mirror of q224's per-query top-1: qid -> (top_img, cos). */
  private def localTop1(t: graft.Tables): Map[Long, (Long, Double)] = {
    import graft.functions.KMeansTrainer
    val m2 = MultimodalQueries.crossModalStoreFineModel(t)
    val img = collect(MultimodalQueries.embeddingsOf(t, MultimodalQueries.image))
      .filter(_._1 % 10 != 0)
    val aud = collect(MultimodalQueries.embeddingsOf(t, MultimodalQueries.audio))
      .filter(_._1 % 10 == 0)
    val imgById = img.toMap
    val sigOf = img.map { case (id, v) =>
      id -> MultimodalQueries.crossModalSignLocal(v) }.toMap
    // Index-side single FINE assignment under the frozen store model
    // (probeLocal2 at p1 = nprobe = 1 — the engine's fineBucket rule).
    val byBucket = img.groupBy { case (_, v) =>
      KMeansTrainer.probeLocal2(v, m2, 1, 1).head }

    def probes(v: Array[Double]): Seq[Int] =
      KMeansTrainer.probeLocal2(v, m2,
        MultimodalQueries.CrossModalL1Probes, MultimodalQueries.CrossModalFineProbes)

    aud.flatMap { case (qid, av) =>
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
      if (scored.isEmpty) None
      else Some(qid -> scored.minBy { case (i, c) => (-c, i) })
    }.toMap
  }

  /** The mirror folded to q224's per-source audit rows. */
  private def localAudit(t: graft.Tables): Map[String, (Long, Long, Long)] = {
    val top1 = localTop1(t)
    val srcOf = t.documents.select(col("doc_id"), col("source"))
      .as[(Long, String)].collect().toMap
    val batch = srcOf.keys.filter(_ % 10 == 0).toSeq
    batch.groupBy(srcOf).map { case (src, qs) =>
      val matched = qs.count(q =>
        top1.get(q).exists(_._2 >= MultimodalQueries.CrossModalAlignT)).toLong
      src -> ((qs.length.toLong, matched, qs.length.toLong - matched))
    }
  }

  private def engineAudit(t: graft.Tables): Map[String, (Long, Long, Long)] =
    MultimodalQueries.q224.run(t.spark, t.dir).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))
    }.toMap

  test("q224: planted corpus — parity, store-dup resolution, prefix resolution, fresh miss") {
    val dir = tmpDir("crossmodal_inc")
    def words(p: String, n: Int): String = (1 to n).map(i => s"$p$i").mkString(" ")
    // Store ids avoid multiples of 10; batch ids are multiples of 10.
    val base = (1 to 35).filterNot(_ % 10 == 0)
      .map(i => (i.toLong, "src1", words(s"u$i", 90)))
    val dupText = words("dup", 120)          // full store-doc text, duplicated
    val imagePrefix = "y " * 128             // 256 chars: the image's exact span
    val planted = Seq(
      (101L, "src2", dupText),                          // store original
      (110L, "src2", dupText),                          // batch: exact store dup
      (103L, "src2", imagePrefix + words("sA", 80)),    // store, prefix-shared
      (120L, "src2", imagePrefix + words("sB", 80)),    // batch: shares image span only
      (130L, "src2", words("fresh", 95)))               // batch: fresh -> miss
    (base ++ planted).toDF("doc_id", "source", "text")
      .write.parquet(s"$dir/documents.parquet")
    val t = new graft.Tables(spark, dir)

    assert(engineAudit(t) == localAudit(t))

    val top1 = MultimodalQueries.crossModalIncrementalTop1(t)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // The exact dup's audio resolves to the store twin's image at the
    // matched-pair operating point (~0.707, above the 0.5 threshold).
    val (img110, cos110) = top1(110L)
    assert(img110 == 101L && cos110 >= MultimodalQueries.CrossModalAlignT,
      s"store-dup arrival resolved to ($img110, $cos110)")
    // The prefix-sharing arrival also resolves: the store image covers
    // exactly the shared 256-byte span, so divergence past it is invisible
    // to the image side.
    val (img120, cos120) = top1(120L)
    assert(img120 == 103L && cos120 >= MultimodalQueries.CrossModalAlignT,
      s"prefix arrival resolved to ($img120, $cos120)")
    // The fresh arrival must NOT match any store image.
    assert(!top1.get(130L).exists(_._2 >= MultimodalQueries.CrossModalAlignT),
      s"fresh arrival must miss, got ${top1.get(130L)}")
    // The index side never contains a batch image.
    val idxIds = MultimodalQueries.crossModalStoreIndex(t)
      .select(explode(col("ids")).as("img_id"))
      .collect().map(_.getLong(0))
    assert(idxIds.forall(_ % 10 != 0), "batch image leaked into the store index")
  }

  test("q224: real sf0.001 corpus — parity, accounting, decode-once, no cartesian") {
    val t = graft.Tables.forPath(spark, sf001)
    val audit = MultimodalQueries.q224.run(spark, sf001)
    val plan = audit.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "q224 plan degenerated to a cartesian")
    val textScans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents.parquet") &&
        l.contains("text"))
    assert(textScans == 0,
      s"q224 plan re-decodes raw text $textScans time(s); both modality frames must come from checkpoints")

    val engine = engineAudit(t)
    assert(engine == localAudit(t))
    val (n, matched, miss) = engine.values
      .foldLeft((0L, 0L, 0L)) { case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z) }
    assert(n == t.documents.filter(col("doc_id") % 10 === 0).count(),
      "audit must cover every batch arrival exactly once")
    assert(matched + miss == n, "matched + miss must partition the batch")
    assert(n > 0, "degenerate fixture: empty batch")
  }
}
