package graft.operators

import graft.SharedSparkSpec
import org.apache.spark.sql.functions._

/** q225 (audio) and q226 (video) nightly ingest — q221's rule through the
  * SAME parametrized pipeline ([[MultimodalQueries.Modality]]). Pins
  * (1) FULL parity of each modality's rejected set against a single-node
  * mirror of the exact rule (store-trained blocks, sign-sketch Hamming
  * prefilter, exact round4-cosine, store-or-lower-id-batch neighbor) on a
  * planted corpus and the real sf0.001 corpus, (2) the modality SPAN
  * asymmetry on the planted corpus — an arrival that duplicates a store
  * doc's 256-byte image span but diverges later is rejected by the image
  * and video ingests (480/512 embedded bytes shared, cos ≈ 0.94) but
  * ADMITTED by the audio ingest (256/512 shared, cos ≈ 0.5) — the reason
  * the three forms are separate queries and not one, (3) audit accounting,
  * and (4) the decode-once and cartesian-free plans.
  */
class MediaIncrementalFamilySpec extends SharedSparkSpec {
  import spark.implicits._
  import MultimodalQueries.{Modality, audio, video, image}

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def collectEmb(t: graft.Tables, m: Modality): Array[(Long, Array[Double])] =
    MultimodalQueries.embeddingsOf(t, m).as[(Long, Seq[Float])].collect()
      .map { case (id, v) => (id, v.map(_.toDouble).toArray) }
      .sortBy(_._1)

  /** Single-node mirror of the nightly rejection rule for one modality. */
  private def localRejected(t: graft.Tables, m: Modality): Set[Long] = {
    import graft.functions.KMeansTrainer
    val km = MultimodalQueries.incrementalModelOf(t, m)
    val emb = collectEmb(t, m)
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

  private def engineRejected(t: graft.Tables, m: Modality): Set[Long] =
    MultimodalQueries.incrementalDroppedOf(t, m)
      .select("doc_id").collect().map(_.getLong(0)).toSet

  test("planted corpus: per-modality parity and the span asymmetry") {
    val dir = tmpDir("media_inc_family")
    def words(p: String, n: Int): String = (1 to n).map(i => s"$p$i").mkString(" ")
    val store = (1 to 45).filter(_ % 10 != 0)
      .map(i => (i.toLong, "src1", words(s"u$i", 90)))
    val imagePrefix = "y " * 128 // 256 chars: exactly the image span
    val planted = Seq(
      (7L, "src1", words("full", 120)),                 // store original (full dup)
      (9L, "src1", imagePrefix + words("sA", 80)),      // store original (prefix)
      (70L, "src1", words("full", 120)),                // batch: full-span store dup
      (90L, "src1", imagePrefix + words("sB", 80)),     // batch: image-span-only dup
      (130L, "src1", words("pair", 95)),                // batch pair ->
      (140L, "src1", words("pair", 95)),                //   140 rejected, 130 admitted
      (150L, "src1", words("solo", 88)))                // batch: unique
    // ids 7 and 9 collide with the generated store range; drop the
    // generated rows for those ids so each id appears once.
    val base = store.filterNot(r => r._1 == 7L || r._1 == 9L)
    (base ++ planted).toDF("doc_id", "source", "text")
      .write.parquet(s"$dir/documents.parquet")
    val t = new graft.Tables(spark, dir)

    val rej = Seq(image, audio, video)
      .map(m => m.tag -> engineRejected(t, m)).toMap
    for (m <- Seq(image, audio, video))
      assert(rej(m.tag) == localRejected(t, m),
        s"${m.tag}: engine=${rej(m.tag)} local=${localRejected(t, m)}")

    // Full-span dup and the batch pair reject identically in every modality.
    for ((tag, r) <- rej) {
      assert(Set(70L, 140L).subsetOf(r), s"$tag: planted dups not rejected: $r")
      assert(!r.contains(130L), s"$tag: the earlier pair member must be admitted")
      assert(!r.contains(150L), s"$tag: the unique arrival must be admitted")
    }
    // The SPAN asymmetry: doc 90 duplicates store doc 9's image span only.
    assert(rej("media").contains(90L), "image ingest must reject the image-span dup")
    assert(rej("video").contains(90L),
      "video ingest must reject it too (480/512 embedded bytes shared)")
    assert(!rej("audio").contains(90L),
      "audio ingest must ADMIT it (only 256/512 PCM bytes shared)")
  }

  test("q225/q226: real sf0.001 — parity, accounting, decode-once, no cartesian") {
    val t = graft.Tables.forPath(spark, sf001)
    for ((q, m) <- Seq((MultimodalQueries.q225, audio),
                       (MultimodalQueries.q226, video))) {
      val audit = q.run(spark, sf001)
      val plan = audit.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name}: cartesian in plan")
      val textScans = plan.linesIterator.count(l =>
        l.contains("FileScan parquet") && l.contains("documents.parquet") &&
          l.contains("text"))
      assert(textScans == 0,
        s"${q.name}: plan re-decodes raw text $textScans time(s)")

      val expect = localRejected(t, m)
      assert(engineRejected(t, m) == expect, s"${q.name}: sf0.001 parity")
      val rows = audit.collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val nBatch = collectEmb(t, m).count(_._1 % 10 == 0).toLong
      assert(rows.map(_._2).sum == nBatch, s"${q.name}: arrivals must partition the batch")
      assert(rows.forall { case (_, n, r2, a) => r2 + a == n },
        s"${q.name}: admitted + rejected must equal arrivals per bucket")
      assert(rows.map(_._3).sum == expect.size.toLong,
        s"${q.name}: rejected counts must sum to the rejected set")
    }
  }

  test("q221/q225/q226 served from at-rest tables equal live; storage-only plans") {
    // Round-16 zero-decode serve for the incremental family: the frozen
    // store index, the batch's frozen-model assignments and the
    // embeddings all read from bucketed tables — zero decode, zero
    // training at serve (the quantizer is never consulted; assignments
    // are materialized).
    val t = graft.Tables.forPath(spark, sf001)
    def auditRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    for ((q, m) <- Seq((MultimodalQueries.q221, image),
                       (MultimodalQueries.q225, audio),
                       (MultimodalQueries.q226, video))) {
      val live = auditRows(q.run(spark, sf001))
      val served = MultimodalQueries.ingestAuditServed(t, m)
      assert(auditRows(served) == live, s"${q.name}: served != live")
      assert(live.nonEmpty, s"${q.name}: empty audit")
      val plan = served.queryExecution.executedPlan.toString
      val textScans = plan.linesIterator.count(l =>
        l.contains("FileScan parquet") && l.contains("documents.parquet"))
      assert(textScans == 0, s"${q.name}: served plan scans documents")
      // The fused decision is IN the served plan (both kernel calls ride
      // the pair joins' condition), the store-scale packed ledger reads
      // bucketed (its join re-shuffles nothing), and any bucket exchange
      // left is the audit tail's ID-SCALE arrivals frame (whose bucketed
      // read the planner rightly disables — it joins on doc_id first).
      assert(plan.contains("graft_hamming_cosine_reject"),
        s"${q.name}: served decision does not use the fused kernel")
      // The packed ledger and the batch probe rows PIN in the session
      // cache behind their bucketed scans (round 17 — the serve warm
      // re-scanned the data-scale ledger per run before), so the served
      // plan reads the cache; the tables stand registered underneath
      // (InMemoryRelation preserves the scans' hashpartitioning, which
      // the bucket-exchange bound below still proves).
      assert(plan.contains("InMemoryTableScan") ||
          plan.contains("TableCacheQueryStage"),
        s"${q.name}: served decision must read the pinned table scans")
      assert(spark.catalog.tableExists(
          MultimodalQueries.storePackTableOf(t, m)),
        s"${q.name}: packed ledger table not registered")
      // Tree traversal, not string matching (the CrossModalLayoutSpec
      // convention): the pinned frames' BUILD plans legitimately contain
      // the one bucket exchange they materialized behind, and AQE's
      // rendered Initial Plan duplicates every line — `collect` stops at
      // the InMemoryTableScan leaves and sweeps only the serving plan.
      val servingRoot = served.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val bucketExchanges = servingRoot.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
            if s.outputPartitioning.toString.contains("bucket#") => s
      }
      assert(bucketExchanges.size <= 1,
        s"${q.name}: ${bucketExchanges.size} bucket exchanges in the served " +
          "plan (more than the audit tail's id-scale aggregation — " +
          "decision-side re-shuffle of the stored layout?)")
      // The exchange-free claim lives on the fused decision's ledger scan
      // (batch probe ⋈ packed store ledger on bucket): both sides
      // bucket-bucketed at rest, no re-shuffle. (The audit tail's own
      // left join keys on doc_id, so the planner rightly disables
      // bucketed reading there.)
      val store = spark.table(MultimodalQueries.storePackTableOf(t, m))
      val batch = spark.table(MultimodalQueries.batchProbeTableOf(t, m))
      val bKey = "spark.sql.autoBroadcastJoinThreshold"
      val bPrev = spark.conf.get(bKey)
      try {
        // Pin the 100 TB shape — indexes too big to broadcast.
        spark.conf.set(bKey, "-1")
        val pj = batch.as("b").join(store.as("s"), Seq("bucket"))
          .queryExecution.executedPlan.toString
        assert(pj.contains("Bucketed: true"),
          s"${q.name}: ledger scan must read the bucketed layouts:\n${pj.take(1200)}")
        assert(!pj.contains("Exchange hashpartitioning(bucket"),
          s"${q.name}: ledger scan re-shuffled the stored bucket key")
      } finally spark.conf.set(bKey, bPrev)
      // The query body itself routes to the served form under the flag.
      sys.props("spark.graft.serveLayouts") = "1"
      try assert(auditRows(q.run(spark, sf001)) == live,
        s"${q.name}: flag-routed serve != live")
      finally sys.props.remove("spark.graft.serveLayouts")
    }
  }
}
