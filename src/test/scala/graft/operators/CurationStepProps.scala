package graft.operators

import graft.SharedSparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The load-bearing claim behind q216 sharing q215's oracle: folding
  * [[CurationQueries.curationStep]] over id-ordered slices produces
  * decisions INDEPENDENT of how the batch is sliced (1 slice ≡ the
  * one-shot rules, k slices ≡ the continuous form). The gated fixture
  * proves it for one corpus and one 3-way split; this property drives
  * randomized corpora with planted duplicate/near-duplicate/contaminated
  * structure through 1-, 2- and 4-way contiguous splits and demands the
  * identical survivor ID SET (not just counts) every time.
  */
class CurationStepProps extends SharedSparkSpec {
  import spark.implicits._

  private def words(prefix: String, n: Int): Seq[String] =
    (1 to n).map(i => s"$prefix$i")

  private def buildCorpus(seed: Long): Seq[(Long, String, String, String)] = {
    val rng = new scala.util.Random(seed)
    val span = words("zz", 8)
    val texts = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    (1 to 40).map { i =>
      val id = i.toLong * 5  // ids 5,10,...,200: every other one is batch
      val roll = rng.nextInt(10)
      val text: Seq[String] =
        if (roll < 3 && texts.nonEmpty) texts(rng.nextInt(texts.size))  // dup
        else if (roll < 6 && texts.nonEmpty) {                          // near-dup
          val base = texts(rng.nextInt(texts.size))
          base.take(55) ++ words(s"nd$i", 5)
        } else if (roll < 7) words(s"c$i", 52) ++ span                  // contaminated
        else if (roll < 8) words(s"lq$i", 20)                           // low quality
        else words(s"u$i", 60)                                          // fresh
      texts += text
      val source = if (roll == 9) "src0" else "src1"
      (id, "en", source, text.mkString(" "))
    }
  }

  private def survivors(t: graft.Tables, slices: Int): Set[Long] = {
    val batchIds = t.documents.filter(col("doc_id") % 10 === 0)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    var st = CurationQueries.FunnelState.frozen(t)
    val chunks = batchIds.grouped(math.max(1, math.ceil(batchIds.length.toDouble / slices).toInt)).toSeq
    chunks.flatMap { chunk =>
      val sliceIds = chunk.toSeq.toDF("doc_id")
      val (next, frames) = CurationQueries.curationStep(t, sliceIds, st)
      // The step's 100 TB contract: the store-side frames pass through BY
      // REFERENCE — a step that re-derives (or re-checkpoints) them would
      // re-write the curated corpus's digest/postings artifacts on every
      // micro-batch. Reference identity pins that structurally.
      assert((next.storeKeys eq st.storeKeys) && (next.storeInv eq st.storeInv),
        "curationStep must not touch the frozen store frames")
      st = next
      frames.clean.collect().map(_.getLong(0))
    }.toSet
  }

  test("an empty slice is a no-op: no frames, state decisions unchanged") {
    // foreachBatch can legally deliver an empty micro-batch; the step must
    // pass it through without admitting, dropping, or perturbing the
    // ledger-driven decisions of later slices.
    val t = graft.Tables.forPath(spark, sf001)
    val batchIds = t.documents.filter(col("doc_id") % 10 === 0)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    def fold(withEmpty: Boolean): Seq[Long] = {
      var st = CurationQueries.FunnelState.frozen(t)
      val (lo, hi) = batchIds.toSeq.splitAt(batchIds.length / 2)
      val slices: Seq[Seq[Long]] =
        if (withEmpty) Seq(lo, Seq.empty, hi) else Seq(lo, hi)
      slices.flatMap { chunk =>
        val (next, frames) = CurationQueries.curationStep(
          t, chunk.toDF("doc_id"), st)
        st = next
        val clean = frames.clean.collect().map(_.getLong(0)).toSeq
        if (chunk.isEmpty)
          assert(frames.raw.count() == 0 && clean.isEmpty,
            "empty slice produced stage frames")
        clean
      }
    }
    assert(fold(withEmpty = true).sorted == fold(withEmpty = false).sorted)
  }

  test("curation survivors are invariant under how the batch is sliced") {
    for (seed <- Seq(7L, 23L, 99L)) {
      val dir = tmpDir(s"curation_props_$seed")
      buildCorpus(seed).toDF("doc_id", "lang", "source", "text")
        .write.parquet(s"$dir/documents.parquet")
      val t = new graft.Tables(spark, dir)
      val results = Seq(1, 2, 4).map(k => k -> survivors(t, k))
      val (_, oneShot) = results.head
      for ((k, s) <- results.tail)
        assert(s == oneShot,
          s"seed=$seed: $k-slice survivors ${s.toSeq.sorted} != one-shot ${oneShot.toSeq.sorted}")
      // And the one-slice fold must agree with q215's declarative body.
      val q215Clean = CurationQueries.q215.run(spark, dir)
        .filter(col("name") === "decontaminate")
        .select("n_docs").head().getLong(0)
      assert(q215Clean == oneShot.size.toLong,
        s"seed=$seed: q215 decontaminate=$q215Clean != fold ${oneShot.size}")
    }
  }

  test("q216's overlapped schedule gives the sequential fold's frames, slice for slice") {
    val t = graft.Tables.forPath(spark, sf001)
    val in = CurationQueries.CurationInputs.live(t)
    val isBatch = col("doc_id") % 10 === 0
    val bounds = Some(CurationQueries.batchDeltaBounds(in.raw, in.sizes, isBatch))
    def ids(df: DataFrame): Set[Long] = df.collect().map(_.getLong(0)).toSet
    def rowSets(f: CurationQueries.SliceFrames): Seq[Set[Long]] =
      Seq(f.raw, f.quality, f.exact, f.nearDup, f.clean).map(ids)
    for (k <- Seq(1, 2, 3, 5)) {
      // The schedule takes each slice's metadata rows, the fold its ids.
      val gens = CurationQueries.generations(in.raw.filter(isBatch), k)
      val slices = (1 to k).map(g => gens.filter(col("gen") === g))
      var st = CurationQueries.FunnelState.frozenFrom(in)
      val folded = slices.map { slice =>
        val (next, frames) =
          CurationQueries.curationStepFrom(in, slice.select("doc_id"), st, bounds)
        st = next
        rowSets(frames)
      }
      val scheduled = CurationQueries.curationSchedule(in, slices, bounds.get).map(rowSets)
      assert(scheduled.length == k)
      for (((s, f), g) <- scheduled.zip(folded).zipWithIndex)
        assert(s == f, s"k=$k slice ${g + 1}: scheduled $s != folded $f")
      assert(folded.map(_.last.size).sum > 0, s"k=$k: degenerate fixture, nothing survived")
    }
  }

  test("the grouped per-key min equals the semi-join form on duplicate digests") {
    def semiJoinMin(keyed: DataFrame): DataFrame =
      keyed.join(keyed.groupBy("key").agg(min(col("doc_id")).as("doc_id")),
        Seq("doc_id"), "left_semi")
    def rowsOf(df: DataFrame): Seq[(Long, Seq[Byte])] =
      df.select("doc_id", "key").collect()
        .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toSeq.sortBy(_._1)
    // Planted: three docs share digest a, two share c.
    val planted = Seq((5L, "a"), (3L, "a"), (9L, "a"), (4L, "b"), (7L, "c"), (2L, "c"),
      (8L, "d")).toDF("doc_id", "k")
      .select(col("doc_id"), unhex(sha2(col("k"), 256)).as("key"))
    assert(rowsOf(CurationQueries.perKeyMin(planted)).map(_._1) == Seq(2L, 3L, 4L, 8L))
    // A randomized corpus's planted exact duplicates, keyed as the funnels key them.
    val dir = tmpDir("curation_keymin")
    buildCorpus(7L).toDF("doc_id", "lang", "source", "text")
      .write.parquet(s"$dir/documents.parquet")
    val corpus = CurationQueries.docMeta(new graft.Tables(spark, dir)).select("doc_id", "key")
    assert(corpus.select("key").distinct().count() < corpus.count(),
      "the corpus has no duplicate digests")
    for (keyed <- Seq(planted, corpus))
      assert(rowsOf(CurationQueries.perKeyMin(keyed)) == rowsOf(semiJoinMin(keyed)))
  }
}
