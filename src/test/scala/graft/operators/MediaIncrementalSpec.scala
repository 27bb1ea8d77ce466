package graft.operators

import graft.SharedSparkSpec
import org.apache.spark.sql.functions._

/** q221 incremental media near-dup: frozen store-trained model + standing
  * (bucket, sig) index, delta-only batch work, earlier-member rejection.
  * Pins (1) FULL parity of the rejected set against a single-node mirror
  * of the exact rule (store-trained blocks, sign-sketch Hamming prefilter,
  * exact round4-cosine, store-or-lower-id-batch neighbor) on a planted
  * corpus covering the three interesting batch fates — store-dup,
  * batch-internal-dup, unique — and on the real sf0.001 corpus, (2) audit
  * accounting (admitted + rejected = batch arrivals, buckets partition the
  * batch), and (3) the decode-once and cartesian-free plan.
  */
class MediaIncrementalSpec extends SharedSparkSpec {
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
    MultimodalQueries.embeddingsOf(t, MultimodalQueries.image)
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) => (id, v.map(_.toDouble).toArray) }
      .sortBy(_._1)

  /** Single-node mirror of q221's rejection rule. */
  private def localRejected(t: graft.Tables): Set[Long] = {
    import graft.functions.KMeansTrainer
    val km = MultimodalQueries.incrementalModelOf(t, MultimodalQueries.image)
    val emb = collectEmb(t)
    val sigOf = emb.map { case (id, v) => id -> MultimodalQueries.mediaSignLocal(v) }.toMap
    val bucketOf = emb.map { case (id, v) => id -> KMeansTrainer.assignLocal(v, km) }.toMap
    val byId = emb.toMap
    val store = emb.map(_._1).filter(_ % 10 != 0)
    val batch = emb.map(_._1).filter(_ % 10 == 0)
    val storeByBucket = store.groupBy(bucketOf)
    val batchByBucket = batch.groupBy(bucketOf)

    def near(a: Long, b: Long): Boolean =
      java.lang.Long.bitCount(sigOf(a) ^ sigOf(b)) <=
        MultimodalQueries.MediaHammingSlack &&
        round4(cos(byId(a), byId(b))) >= MultimodalQueries.MediaNearDupT

    batch.filter { b =>
      val k = bucketOf(b)
      storeByBucket.getOrElse(k, Array.empty[Long]).exists(s => near(s, b)) ||
        batchByBucket.getOrElse(k, Array.empty[Long]).exists(a => a < b && near(a, b))
    }.toSet
  }

  test("q221: planted store-dup, batch-internal-dup and unique batch docs") {
    val dir = tmpDir("media_inc")
    def words(p: String, n: Int): String = (1 to n).map(i => s"$p$i").mkString(" ")
    // Store = ids not divisible by 10; batch = multiples of 10.
    val store = (1 to 45).filter(_ % 10 != 0).map(i => (i.toLong, "src1", words(s"u$i", 90)))
    val batch = Seq(
      // identical pixels to store doc 7 -> rejected against the store
      (70L, "src1", words("u7", 90)),
      // 130 and 140 identical to each other only -> 140 rejected (earlier
      // member 130 admitted)
      (130L, "src1", words("pair", 95)),
      (140L, "src1", words("pair", 95)),
      // unique -> admitted
      (150L, "src1", words("solo", 88)))
    (store ++ batch).toDF("doc_id", "source", "text")
      .write.parquet(s"$dir/documents.parquet")
    val t = new graft.Tables(spark, dir)

    val expect = localRejected(t)
    val engine = MultimodalQueries.incrementalDroppedOf(t, MultimodalQueries.image)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(engine == expect, s"engine=$engine local=$expect")
    assert(Set(70L, 140L).subsetOf(engine), s"planted dups not rejected: $engine")
    assert(!engine.contains(130L), "the earlier batch member must be admitted")
    assert(!engine.contains(150L), "the unique batch doc must be admitted")
  }

  test("q221: real sf0.001 — parity, accounting, decode-once, no cartesian") {
    val t = graft.Tables.forPath(spark, sf001)
    val audit = MultimodalQueries.q221.run(spark, sf001)
    val plan = audit.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "q221 plan degenerated to a cartesian")
    val textScans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents.parquet") &&
        l.contains("text"))
    assert(textScans == 0,
      s"q221 plan re-decodes raw text $textScans time(s); the batch must come from the checkpoint")

    val engine = MultimodalQueries.incrementalDroppedOf(t, MultimodalQueries.image)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expect = localRejected(t)
    assert(engine == expect, s"sf0.001 parity: engine=$engine local=$expect")

    val rows = audit.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nBatch = collectEmb(t).count(_._1 % 10 == 0).toLong
    assert(rows.map(_._2).sum == nBatch, "bucket arrivals must partition the batch")
    assert(rows.forall { case (_, n, rej, adm) => rej + adm == n },
      "admitted + rejected must equal arrivals in every bucket")
    assert(rows.map(_._3).sum == expect.size.toLong,
      "audit rejected counts must sum to the rejected set")
  }
}
