package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}

/** Partition-pruned physical layout control (SURVEY.md §7.6) — the write-side
  * 100 TB story: directory partitioning on low-cardinality columns so
  * point/range predicates prune entire directories at planning time, plus
  * file sizing (maxRecordsPerFile ↔ reference A8 max_rows_per_file,
  * tests/test_parquetbatch.py:197-208) and within-file ordering so min/max
  * row-group statistics actually prune.
  */
object LayoutWriter {

  /** Write `df` partitioned by `partitionCols`, each file capped at
    * `maxRecordsPerFile` rows, rows sorted by `sortCols` within partitions
    * (tight row-group min/max stats → predicate pushdown skips row groups).
    */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      sortCols: Seq[String] = Nil,
      maxRecordsPerFile: Long = 1000000L,
      mode: String = "overwrite"): Unit = {
    val sorted =
      if (sortCols.isEmpty) df
      else df.sortWithinPartitions(sortCols.head, sortCols.tail: _*)
    val w: DataFrameWriter[Row] = sorted.write
      .mode(mode)
      .option("maxRecordsPerFile", maxRecordsPerFile)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path)
  }

  /** Z-order clustered write: globally sort by the Morton interleave of two
    * key columns, with small-enough row groups that min/max statistics on
    * BOTH columns prune. `ORDER BY a` gives perfect pruning on `a` and none
    * on `b`; the Z-order layout trades a little of `a`'s locality for tight
    * ranges on both — the right layout when a 100 TB fact table is filtered
    * by either of two keys. The global sort is one range-partitioned
    * shuffle, same cost class as any sorted write. */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      colA: String,
      colB: String,
      maxRecordsPerFile: Long = 1000000L,
      parquetBlockSize: Long = 128L * 1024 * 1024): Unit = {
    import org.apache.spark.sql.functions.{col, lit, max, min}
    // Normalize BOTH dimensions to 16-bit [0, 65535] before interleaving:
    // raw interleave is dominated by whichever key spans more bits (a 32-bit
    // orderkey's high bits all outrank a 16-bit partkey's), and the narrow
    // key would never reach the top of the sort — observed as full-range
    // min/max per row group, i.e. zero pruning. The min/max pass is one
    // cheap aggregation (production Z-ORDER does the same with per-column
    // range ids).
    val b = df.agg(
      min(col(colA).cast("long")), max(col(colA).cast("long")),
      min(col(colB).cast("long")), max(col(colB).cast("long"))).head()
    def norm(c: String, lo: Long, hi: Long) = {
      val span = math.max(1L, hi - lo)
      ((col(c).cast("long") - lit(lo)) * lit(65535L)) / lit(span)
    }
    df.withColumn("__z", graft.functions.MortonCode(
        norm(colA, b.getLong(0), b.getLong(1)).cast("long"),
        norm(colB, b.getLong(2), b.getLong(3)).cast("long")))
      .orderBy(col("__z"))
      .drop("__z")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .option("parquet.block.size", parquetBlockSize)
      .parquet(path)
  }

  /** Upsert by partition: with dynamic partition overwrite, an `overwrite`
    * write replaces ONLY the directory partitions present in `df`, leaving
    * every other partition untouched — the idiomatic parquet "merge" for
    * partition-grained corrections (late data, reprocessed days) without a
    * table format. The replace set is declared by the data itself, so the
    * job is idempotent and retry-safe. */
  def upsertPartitions(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String]): Unit =
    df.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Small-file compaction: rewrite a parquet directory so each output file
    * is ~`targetBytes` — the OPTIMIZE/bin-packing maintenance pass every
    * long-lived lake needs (streaming sinks, partition-grained upserts and
    * per-task writes all fragment a table into files far below the
    * row-group sweet spot; at 100 TB the file-listing + footer + task
    * overhead of millions of KB-sized files dominates scan time long before
    * the data does).
    *
    * Scale shape: NO shuffle. The input files' combined on-disk size is read
    * from the file system (a listing, not a data pass), the output file
    * count is ceil(total/target), and `coalesce` merges read partitions
    * without an exchange — each output task streams several input files into
    * one output file. A `repartition` would move every byte through a
    * round-robin exchange for a marginally more even layout; compaction is
    * exactly the job where that trade is wrong.
    *
    * Returns (filesBefore, filesAfter, bytesTotal) for the caller's audit.
    */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
      inDir: String,
      outDir: String,
      targetBytes: Long): (Int, Int, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val in = new org.apache.hadoop.fs.Path(inDir)
    val fs = in.getFileSystem(conf)
    // The overwrite deletes outDir before the lazy read of inDir runs —
    // compacting a directory onto itself would destroy the source mid-read.
    require(
      fs.makeQualified(in) != fs.makeQualified(new org.apache.hadoop.fs.Path(outDir)),
      s"compact: inDir and outDir must differ, got $inDir")
    val files = fs.listStatus(in)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val total = files.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    spark.read.parquet(inDir)
      .coalesce(nOut)
      .write.mode("overwrite")
      .parquet(outDir)
    val after = fs.listStatus(new org.apache.hadoop.fs.Path(outDir))
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    (files.length, after, total)
  }

  /** Bucket width for the MAINTENANCE AUDITS' private scratch tables
    * (q233's packed-ledger copy, q234's family copy). Decoupled from the
    * session shuffle width (round 18): the audits' decisions and parity
    * fingerprints are width-independent, and `width = local[$cores]` made
    * the 32-core bench write 4× the files — and pay 4× the per-file
    * commit/open overhead — of the 8-core run for the SAME audit (the
    * r17 driver run measured the pair at 33 s cold at 32c vs 4.4 s at
    * 8c). The default (8) keeps the private tables' file layout identical
    * across the driver's core counts; a production deployment sizes it
    * from ledger bytes / target file size (guide §6: 128 MB–1 GB files)
    * via spark.graft.audit.buckets — a data-derived number, never the
    * executor count. A value that is not a positive integer is an error
    * naming the key. */
  def auditBuckets(spark: org.apache.spark.sql.SparkSession): Int = {
    val key = "spark.graft.audit.buckets"
    spark.conf.getOption(key).fold(8) { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"$key must be a positive integer, got '$v'"))
    }
  }

  /** Deterministic at-rest table name keyed on (tag, data dir, bucket
    * count): same artifact → same name, so re-runs and fresh sessions
    * OVERWRITE one catalog table instead of accumulating UUID-named
    * orphans in the warehouse (one table per session and per gate rerun,
    * pre-round-14). The dir rides as an md5 prefix — table identifiers
    * cannot carry paths — and the bucket count is part of the identity
    * because exchange elision only holds at the width the table was
    * written with. */
  def deterministicName(tag: String, dir: String, buckets: Int): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    s"graft_${tag}_w${buckets}_$h"
  }

  /** Bucketed table write: pre-shuffle the data into `buckets` hash buckets
    * on the join key, sorted within buckets. Two tables bucketed the same
    * way join with NO exchange and NO sort — the co-located-join layout for
    * repeatedly-joined 100 TB fact tables. (Bucketing metadata lives in the
    * catalog, hence saveAsTable.) */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCol: String,
      buckets: Int,
      mode: String = "overwrite"): Unit =
    writeBucketed(df, table, Seq(bucketCol), buckets, mode)

  /** Multi-column bucketing: v1 bucketing elides the join exchange only
    * when the join keys EXACTLY equal the bucket columns (a join on
    * (band, bh) over a table bucketed by bh alone re-shuffles both sides —
    * measured), so composite-keyed layouts must bucket by the full key
    * list.
    *
    * Orphan-location cleanup: with the default in-memory catalog, a
    * managed table's CATALOG entry dies with its JVM while the warehouse
    * files persist — so under deterministic table names a fresh JVM's
    * overwrite-save would throw LOCATION_ALREADY_EXISTS (measured). When
    * the table is absent from this session's catalog but its default
    * location survives from a previous session, the location is deleted
    * first (append mode keeps this safe: every append in this codebase
    * follows an overwrite-write of the same table in the same session, so
    * the catalog entry exists by then). */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      buckets: Int,
      mode: String): Unit = {
    val spark = df.sparkSession
    if (!spark.catalog.tableExists(table)) {
      val loc = defaultTableLocation(spark, table)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    df.write
      .mode(mode)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** The default (managed) warehouse location of a table name. */
  private def defaultTableLocation(
      spark: org.apache.spark.sql.SparkSession,
      table: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      spark.sessionState.conf.warehousePath, table.toLowerCase)

  /** Drop a layout table and everything it left in the warehouse: the
    * catalog entry, its data files and its freshness stamp. An externally
    * registered table ([[registerIfFresh]]) keeps its files and stamp
    * through DROP TABLE, and left in place they would re-register a
    * modified (appended, folded) table as fresh for the next builder. */
  def dropLayout(spark: org.apache.spark.sql.SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = defaultTableLocation(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** SERVE-or-build for a deterministic-named bucketed layout — the
    * cross-session at-rest story the layout queries (q228/q230/q231) are
    * measured on. When `SPARK_GRAFT_SERVE_LAYOUTS=1` and the table's data
    * directory already exists in the warehouse (written by a PREVIOUS
    * session — catalog entries die with the JVM, files don't), the files
    * are registered in this session's catalog as an EXTERNAL bucketed
    * table over the existing location: zero rewrite, zero upstream build,
    * and the bucket metadata is restored so exchange elision still holds
    * (bucket ids ride in the part-file names; the CLUSTERED BY declaration
    * must match the writing session's, which deterministic names keyed on
    * bucket count guarantee). Returns true when served from rest.
    *
    * Without the flag (the default), the artifact is rebuilt and
    * overwritten — the safe choice on fixture dirs that are regenerated
    * in place; a production deployment would flip the flag and maintain
    * the table incrementally (q181/q183's append discipline). `df` is
    * by-name and never forced on the serve path — forcing it would run
    * the exact upstream build the layout exists to skip. */
  /** Whether this session serves at-rest layouts (`SPARK_GRAFT_SERVE_LAYOUTS=1`;
    * system property so a spec can flip it in-process — JVM env is immutable
    * after launch). The queries with a live/served dual branch on this in
    * one place per family — `MultimodalQueries.nearDupAuditFor` (q219/q223),
    * `MultimodalQueries.ingestAuditFor` (q221/q225/q226) and two curation
    * branches in `CurationQueries`: flag off = the live session build (the
    * safe default on fixture dirs regenerated in place), flag on = answer
    * from the standing at-rest artifacts, building them only if absent. */
  def servingLayouts: Boolean =
    onOffFlag("SPARK_GRAFT_SERVE_LAYOUTS", "spark.graft.serveLayouts")

  /** An on/off switch read from env var `env`, else system property `prop`:
    * unset or "0" is off, "1" is on, and any other value is an error naming
    * the key it came from — "true" must not silently mean off. */
  private[graft] def onOffFlag(env: String, prop: String): Boolean =
    sys.env.get(env).map(env -> _).orElse(sys.props.get(prop).map(prop -> _)) match {
      case None | Some((_, "0")) => false
      case Some((_, "1")) => true
      case Some((key, v)) =>
        throw new IllegalArgumentException(s"$key must be 0 or 1, got '$v'")
    }

  /** Cheap content fingerprint of a source data directory: md5 over the
    * sorted (relative path, length, mtime) of every file under `dir`.
    * Metadata-only (one recursive listing, no data reads — at 100 TB this
    * is an object-store LIST, not a scan), yet it changes whenever a
    * fixture dir is regenerated in place — the stale-serve hazard
    * deterministic table names alone can't see (same dir path → same
    * table name → a serve session would silently answer from tables built
    * over the OLD files). */
  def dirFingerprint(
      spark: org.apache.spark.sql.SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      entries += s"${f.getPath.toString.stripPrefix(p.toString)}:" +
        s"${f.getLen}:${f.getModificationTime}"
    }
    java.security.MessageDigest.getInstance("MD5")
      .digest(entries.sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Layout format version, part of every marker payload: bump it when a
    * table's packed layout or physical convention changes under an
    * unchanged tag/name, and every standing artifact re-stamps stale on
    * the next run instead of registering old files under new CLUSTERED BY
    * metadata (a mis-declared bucketing returns wrong rows silently —
    * exchange elision trusts the declaration). */
  val LayoutFormatVersion = 1

  /** The full marker payload: format version + the bucket columns the
    * artifact was written with + the source fingerprint. Versioning the
    * PAYLOAD (not just the fp) means a layout-convention change or a
    * bucket-spec change invalidates exactly like a source regeneration. */
  private def markerPayload(bucketCols: Seq[String], fp: String): String =
    s"v$LayoutFormatVersion;${bucketCols.mkString(",")};$fp"

  /** Hidden marker file (underscore prefix = invisible to Spark's parquet
    * reads) stamping the table location with the fingerprint of the source
    * dir the artifact was built from. */
  private def fpMarker(loc: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(loc, "_graft_src_fp")

  private def writeMarker(
      fs: org.apache.hadoop.fs.FileSystem,
      loc: org.apache.hadoop.fs.Path, fp: String): Unit = {
    val out = fs.create(fpMarker(loc), true)
    try out.write(fp.getBytes("UTF-8")) finally out.close()
  }

  private def readMarker(
      fs: org.apache.hadoop.fs.FileSystem,
      loc: org.apache.hadoop.fs.Path): Option[String] = {
    val p = fpMarker(loc)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](256)
        var n = in.read(chunk)
        while (n > 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        Some(new String(buf.toByteArray, "UTF-8"))
      } finally in.close()
    }
  }

  /** Flag-INDEPENDENT register-if-fresh: true when `table` is already in
    * this session's catalog, or when its default location holds data files
    * whose `_graft_src_fp` stamp matches the current fingerprint of
    * `sourceDir` (the external bucketed table is then registered exactly
    * like the serve path). False — registering nothing — when the data is
    * absent, unstamped, or stale. This is the LIVE-form reuse check (a
    * query that can answer from a standing layout should, with no flag
    * dance — the fingerprint makes reuse safe on fixture dirs regenerated
    * in place, which is what used to force the rebuild-by-default rule). */
  def registerIfFresh(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      bucketCols: Seq[String],
      buckets: Int,
      sourceDir: Option[String]): Boolean = {
    val loc = defaultTableLocation(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stampOk = sourceDir match {
      case None      => true // caller opted out of fingerprinting
      case Some(dir) => readMarker(fs, loc)
        .contains(markerPayload(bucketCols, dirFingerprint(spark, dir)))
    }
    // The in-catalog fast path must STILL validate the stamp when the
    // caller names a source: a fixture dir regenerated in place
    // mid-session (or a persistent metastore carrying a previous
    // deployment's entry) keeps the catalog entry while the data under it
    // goes stale — exactly the hazard the fingerprint exists to close.
    // The listing cost is bounded: callers memoize per (session, dir).
    if (spark.catalog.tableExists(table)) return stampOk
    val hasData = fs.exists(loc) && fs.listStatus(loc)
      .exists(f => f.isFile && f.getPath.getName.startsWith("part-"))
    if (!hasData) return false
    if (!stampOk) return false
    val schema = spark.read.parquet(loc.toString).schema.toDDL
    spark.sql(
      s"""CREATE TABLE $table ($schema) USING parquet
         |CLUSTERED BY (${bucketCols.mkString(", ")})
         |SORTED BY (${bucketCols.mkString(", ")})
         |INTO $buckets BUCKETS LOCATION '${loc.toString}'""".stripMargin)
    true
  }

  def serveOrWriteBucketed(
      spark: org.apache.spark.sql.SparkSession,
      df: => DataFrame,
      table: String,
      bucketCols: Seq[String],
      buckets: Int,
      sourceDir: Option[String] = None): Boolean = {
    // Reuse whenever the standing data is PROVABLY current: with a
    // sourceDir, the fingerprint stamp makes reuse safe even in default
    // (flag-off) mode — rebuild-by-default existed only because a fixture
    // dir regenerated in place was undetectable; a no-op maintenance run
    // over unchanged sources is the production semantics of a layout
    // query. Without a sourceDir, freshness is unverifiable, so the old
    // contract holds: default = rebuild, serve only under the flag (and
    // registerIfFresh is not even consulted — registering the stale-risk
    // table would let the rebuild read the location it overwrites).
    if ((servingLayouts || sourceDir.nonEmpty) &&
        registerIfFresh(spark, table, bucketCols, buckets, sourceDir))
      return true
    writeBucketed(df, table, bucketCols, buckets, "overwrite")
    sourceDir.foreach(restamp(spark, table, bucketCols, _))
    false
  }

  /** Re-stamp a standing table's freshness marker against the CURRENT
    * fingerprint of its source dir — the close of every incremental
    * maintenance pass (fold a delta in, then declare the artifact current
    * again; without the restamp the next [[registerIfFresh]] would refuse
    * the very table the append just brought up to date). */
  def restamp(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      bucketCols: Seq[String],
      sourceDir: String): Unit = {
    val loc = defaultTableLocation(spark, table)
    writeMarker(loc.getFileSystem(spark.sparkContext.hadoopConfiguration),
      loc, markerPayload(bucketCols, dirFingerprint(spark, sourceDir)))
  }
}
