package graft.operators

import graft.SharedSparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** q222's contract driven by REAL structured streaming: the media batch
  * arrives as three id-ordered staged files, a foreachBatch sink runs each
  * micro-batch through the SAME [[MultimodalQueries.ingestStepOf]] the
  * engine uses (frozen store index + sequentially maintained ledger), and
  * the accumulated rejected set must equal q221's one-shot batch decision
  * — stream ≡ continuous ≡ nightly. Also pins q222 ≡ q221 row-for-row
  * (the audit the two forms must share however the batch was sliced).
  */
class MediaStreamSpec extends SharedSparkSpec {

  test("foreachBatch-driven media ingest == q222 == q221") {
    val t = new graft.Tables(spark, sf001)
    val dir = tmpDir("media_stream")
    // Stage the batch doc ids (doc_id % 10 == 0) as three id-ordered files
    // using the engine's own window-free slicer; ascending mtimes pin the
    // file source's replay order (the step function's precondition).
    val batch = CurationQueries.generations(
      t.documents.filter(col("doc_id") % 10 === 0).select("doc_id"), 3)
    for (g <- 1 to 3) {
      val p = s"$dir/in/g$g"
      batch.filter(col("gen") === g).select("doc_id")
        .coalesce(1).write.parquet(p)
      java.nio.file.Files.walk(java.nio.file.Paths.get(p)).forEach { f =>
        java.nio.file.Files.setLastModifiedTime(f,
          java.nio.file.attribute.FileTime.fromMillis(1000000L + g * 60000L))
      }
    }
    // Frozen store + delta-side ledger accumulator (q222's shape: only
    // slice-scale frames re-checkpoint per micro-batch).
    val store = MultimodalQueries.storeIndexOf(t, MultimodalQueries.image)
    var batchLedger = store.limit(0).localCheckpoint()
    val rejected = scala.collection.mutable.Set.empty[Long]
    var processed = 0L
    val schema = spark.read.parquet(s"$dir/in/g1").schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in/*")
      .writeStream
      .foreachBatch { (mb: org.apache.spark.sql.DataFrame, _: Long) =>
        val sliceIds = mb.select("doc_id").localCheckpoint()
        val slice = MultimodalQueries.batchAssignedOf(t, MultimodalQueries.image, Some(sliceIds))
          .localCheckpoint()
        rejected ++= MultimodalQueries
          .ingestStepOf(t, MultimodalQueries.image, store.unionByName(batchLedger), slice)
          .collect().map(_.getLong(0))
        batchLedger = batchLedger.unionByName(slice).localCheckpoint()
        processed += slice.count()
      }
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(180000), "stream did not finish within 180 s")

    // The stream's accumulated rejections equal the nightly one-shot rule...
    val nightly = MultimodalQueries.incrementalDroppedOf(t, MultimodalQueries.image)
      .collect().map(_.getLong(0)).toSet
    assert(rejected.toSet == nightly, s"stream=$rejected nightly=$nightly")
    assert(processed == t.documents.filter(col("doc_id") % 10 === 0).count(),
      "every batch doc must be processed exactly once")
    // ...and the continuous form's audit equals the nightly audit
    // row-for-row, however the batch was sliced.
    val a221 = MultimodalQueries.q221.run(spark, sf001).collect().toSeq
    val a222 = MultimodalQueries.q222.run(spark, sf001).collect().toSeq
    assert(a221 == a222, s"q221=$a221 q222=$a222")
    assert(a221.map(_.getLong(1)).sum > 0, "degenerate fixture: empty batch")
  }
}
