package graft.operators

import graft.SharedSparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The packed ingest ledger's MAINTENANCE cycle
  * ([[MultimodalQueries.foldAdmittedIntoStorePack]]): night N's admitted
  * arrivals fold into the at-rest `{tag}storepack` table so night N+1
  * scans a maintained ledger — pinned three ways per the cycle's contract:
  * (1) ledger(t) + admitted(t) equals the from-scratch pack row-for-row,
  * (2) hash files holding no touched bucket stay BYTE-identical (the fold
  * never opens them), (3) night-two decisions over the folded table equal
  * a rebuilt-store run exactly.
  */
class MediaLedgerFoldSpec extends SharedSparkSpec {
  import MultimodalQueries._

  private def t = new graft.Tables(spark, sf001)

  private def md5(path: String): String = {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(new java.net.URI(path)))
    java.security.MessageDigest.getInstance("MD5")
      .digest(bytes).map("%02x".format(_)).mkString
  }

  /** Rows of a packed frame as a comparable sorted seq (arrays → seqs). */
  private def packedRows(df: DataFrame): Seq[(Int, Seq[Long], Seq[Long], Seq[Float])] =
    df.collect().map { r =>
      (r.getInt(0), r.getSeq[Long](1), r.getSeq[Long](2), r.getSeq[Float](3))
    }.toSeq.sortBy(_._1)

  test("single-bucket fold: row-for-row merge, untouched files byte-identical") {
    val tt = t
    dropStorePackArtifacts(tt, image)
    try {
      val tbl = storePackTableOf(tt, image)
      val before = spark.table(tbl).inputFiles.map(f => f -> md5(f)).toMap
      // Admit the batch docs of ONE coarse bucket (the busiest), so some
      // hash files are provably untouched (width 4 in the test session).
      val batchFlat = batchFlatOf(tt, image)
      val oneBucket = batchFlat.groupBy("bucket").count()
        .orderBy(col("count").desc, col("bucket")).limit(1).select("bucket")
      val admitted = batchFlat
        .join(oneBucket, Seq("bucket"), "left_semi").select("doc_id")
      assert(admitted.count() > 0, "degenerate fixture: empty bucket")
      val stats = foldAdmittedIntoStorePack(tt, image, admitted)
      assert(stats.touchedHashFiles == 1,
        s"one coarse bucket lives in one hash file, got $stats")
      assert(stats.keptFiles > 0, s"no untouched files to pin: $stats")
      // (2) untouched files byte-identical — same paths, same bytes.
      val after = spark.table(tbl).inputFiles.toSet
      val keptNow = after.intersect(before.keySet)
      assert(keptNow.size == stats.keptFiles)
      keptNow.foreach(f => assert(md5(f) == before(f), s"rewritten kept file $f"))
      // (1) folded table == from-scratch pack of store ∪ admitted.
      val expect = packIngest(
        storeFlatOf(tt, image).unionByName(
          batchFlat.join(oneBucket, Seq("bucket"), "left_semi")
            .select("doc_id", "bucket", "sig", "embedding")))
      assert(packedRows(spark.table(tbl)) == packedRows(expect))
    } finally dropStorePackArtifacts(t, image)
  }

  test("two-night cycle: night-two decisions == rebuilt-store run") {
    val tt = t
    dropStorePackArtifacts(tt, image)
    try {
      val width = spark.sessionState.conf.numShufflePartitions
      val tbl = storePackTableOf(tt, image)
      val batchFlat = batchFlatOf(tt, image)
      val night1 = batchFlat.filter(col("doc_id") % 20 === 0)
      val night2 = batchFlat.filter(col("doc_id") % 20 === 10)
      assert(night1.count() > 0 && night2.count() > 0)
      // Night one: the real nightly decision against the at-rest ledger,
      // then fold the admitted set in.
      val rej1 = fusedIngestRejected(tt,
        night1.repartition(width, col("bucket")), spark.table(tbl))
      val admitted1 = night1.select("doc_id")
        .join(rej1, Seq("doc_id"), "left_anti").localCheckpoint()
      val stats = foldAdmittedIntoStorePack(tt, image, admitted1)
      assert(stats.touchedHashFiles > 0)
      // (1) again on the full fold: folded == from-scratch pack.
      val storePlus = storeFlatOf(tt, image)
        .unionByName(night1.join(admitted1, Seq("doc_id"), "left_semi"))
        .localCheckpoint()
      assert(packedRows(spark.table(tbl)) == packedRows(packIngest(storePlus)))
      // (3) night two decided over the MAINTAINED table vs over a ledger
      // packed from scratch for the grown store — identical rejections.
      val probe2 = night2.repartition(width, col("bucket"))
      def ids(df: DataFrame) = df.collect().map(_.getLong(0)).toSet
      val viaMaintained = ids(fusedIngestRejected(tt, probe2, spark.table(tbl)))
      val viaRebuilt = ids(fusedIngestRejected(tt, probe2, packIngest(storePlus)))
      assert(viaMaintained == viaRebuilt,
        s"maintained=$viaMaintained rebuilt=$viaRebuilt")
      // The folded ledger must actually BITE: if night one admitted any
      // doc that near-dups a night-two doc, the maintained table rejects
      // it; at minimum the decision sets agree and the audit is non-empty.
      assert(night2.count() > viaMaintained.size || viaMaintained.nonEmpty)
    } finally dropStorePackArtifacts(t, image)
  }
}
