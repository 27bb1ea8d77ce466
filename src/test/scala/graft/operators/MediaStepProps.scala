package graft.operators

import graft.SharedSparkSpec
import org.apache.spark.sql.functions._

/** The load-bearing claim behind q222 sharing q221's audit: folding
  * [[MultimodalQueries.ingestStepOf]] over id-ordered slices of the
  * batch — ledger appended with every PROCESSED member after each slice —
  * produces a rejected set INDEPENDENT of how the batch is sliced
  * (1 slice ≡ q221's one-shot rule, k slices ≡ the continuous form).
  * MediaStreamSpec proves it for the 3-generation slicing on the real
  * corpus; this property drives randomized planted corpora (store dups,
  * batch-internal dup pairs and triples, unique docs) through 1-, 2-, 3-
  * and 5-way contiguous splits and demands the identical rejected ID SET
  * every time. Also pins the empty-slice no-op (foreachBatch can legally
  * deliver an empty micro-batch).
  */
class MediaStepProps extends SharedSparkSpec {
  import spark.implicits._

  private def words(p: String, n: Int): String = (1 to n).map(i => s"$p$i").mkString(" ")

  /** Randomized corpus: store ids are non-multiples of 10, batch ids
    * multiples of 10; batch docs are dups of a store doc, dups of an
    * EARLIER batch doc, or fresh, with seeded structure. */
  private def buildCorpus(seed: Long): Seq[(Long, String, String)] = {
    val rng = new scala.util.Random(seed)
    val store = (1 to 36).filter(_ % 10 != 0).map(i => (i.toLong, "src1", words(s"s$i", 80)))
    val batchTexts = scala.collection.mutable.ArrayBuffer.empty[String]
    val batch = (1 to 12).map { j =>
      val id = j.toLong * 10
      val roll = rng.nextInt(10)
      val text =
        if (roll < 3) store(rng.nextInt(store.size))._3            // store dup
        else if (roll < 6 && batchTexts.nonEmpty)
          batchTexts(rng.nextInt(batchTexts.size))                  // earlier-batch dup
        else words(s"b$j", 85)                                      // fresh
      batchTexts += text
      (id, "src1", text)
    }
    store ++ batch
  }

  private def rejectedWith(t: graft.Tables, slices: Int): Set[Long] = {
    val batchIds = t.documents.filter(col("doc_id") % 10 === 0)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val store = MultimodalQueries.storeIndexOf(t, MultimodalQueries.image)
    var batchLedger = store.limit(0).localCheckpoint()
    val out = scala.collection.mutable.Set.empty[Long]
    val chunks = batchIds
      .grouped(math.max(1, math.ceil(batchIds.length.toDouble / slices).toInt)).toSeq
    for (chunk <- chunks) {
      val slice = MultimodalQueries
        .batchAssignedOf(t, MultimodalQueries.image, Some(chunk.toSeq.toDF("doc_id")))
        .localCheckpoint()
      out ++= MultimodalQueries
        .ingestStepOf(t, MultimodalQueries.image, store.unionByName(batchLedger), slice)
        .collect().map(_.getLong(0))
      batchLedger = batchLedger.unionByName(slice).localCheckpoint()
    }
    out.toSet
  }

  test("any ascending slicing of the batch rejects the identical id set") {
    for (seed <- Seq(7L, 21L)) {
      val dir = tmpDir(s"media_props_$seed")
      buildCorpus(seed).toDF("doc_id", "source", "text")
        .write.parquet(s"$dir/documents.parquet")
      val t = new graft.Tables(spark, dir)
      val oneShot = MultimodalQueries.incrementalDroppedOf(t, MultimodalQueries.image)
        .collect().map(_.getLong(0)).toSet
      for (slices <- Seq(1, 2, 3, 5)) {
        val rej = rejectedWith(t, slices)
        assert(rej == oneShot,
          s"seed=$seed slices=$slices: sequential=$rej one-shot=$oneShot")
      }
      assert(oneShot.nonEmpty, s"seed=$seed: degenerate fixture, nothing rejected")
    }
  }

  test("an empty slice is a no-op") {
    val dir = tmpDir("media_props_empty")
    buildCorpus(3L).toDF("doc_id", "source", "text")
      .write.parquet(s"$dir/documents.parquet")
    val t = new graft.Tables(spark, dir)
    val ledger = MultimodalQueries.storeIndexOf(t, MultimodalQueries.image)
    val empty = MultimodalQueries
      .batchAssignedOf(t, MultimodalQueries.image, Some(Seq.empty[Long].toDF("doc_id")))
    assert(MultimodalQueries.ingestStepOf(t, MultimodalQueries.image, ledger, empty).count() == 0L,
      "an empty slice must reject nothing")
  }
}
