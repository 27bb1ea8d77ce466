package graft.operators

import graft.{Artifacts, EngineQuery}
import graft.dsl._
import org.apache.spark.sql.functions.{avg, col, count, lit, max, min, round, sum, when}

/** Write-path parity (SURVEY.md §2 q30 ↔ reference A8): the reference's only
  * write surface is its test harness's parquet-dataset write with
  * max_rows_per_file / max_rows_per_group control (reference
  * tests/test_parquetbatch.py:197-208). Spark equivalent:
  * DataFrameWriter.option("maxRecordsPerFile", n) (+ parquet.block.size for
  * row groups). q30 writes q10's result, reads it back, and returns it — the
  * oracle is q10's SQL, so the round-trip must be lossless.
  */
object SinkQueries {

  val q30 = EngineQuery("q30_write_roundtrip", Some(RelationalQueries.q10Sql)) { t =>
    val out = java.nio.file.Files
      .createTempDirectory("graft_q30_roundtrip").toString
    RelationalQueries.q10Body(t)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 1000)     // ↔ reference max_rows_per_file
      .option("parquet.block.size", 1 << 20) // ↔ reference max_rows_per_group
      .parquet(out)
    orderedByAll(t.spark.read.parquet(out))
  }

  /** ORC write/read parity: the same q10 result round-trips through ORC —
    * Spark's other first-class columnar format (vectorized reader, predicate
    * pushdown, maxRecordsPerFile all apply as with parquet). The oracle is
    * still q10's SQL: DuckDB never sees the ORC files, it re-derives the
    * expected rows from the parquet source, so the check proves the ORC
    * round-trip lossless. */
  val q75 = EngineQuery("q75_orc_roundtrip", Some(RelationalQueries.q10Sql)) { t =>
    val out = java.nio.file.Files
      .createTempDirectory("graft_q75_orc").toString
    RelationalQueries.q10Body(t)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 1000)
      .orc(out)
    orderedByAll(t.spark.read.orc(out))
  }

  /** Hive-style partitioned layout + partition-pruned read — the lake
    * layout every 100 TB corpus actually lives in: write documents
    * partitioned by lang, read back with a lang predicate, aggregate. The
    * predicate resolves at PLANNING time against the directory structure
    * (`PartitionFilters` on the scan, asserted in PlanInvariantsSpec): a
    * 2-language query over a 100-language corpus opens 2% of the files —
    * pruning no row-level PushedFilter can match. The oracle re-derives the
    * same aggregate from the ORIGINAL table, so it also proves the
    * partitioned round-trip lossless. */
  val q91 = EngineQuery(
    "q91_partitioned_layout",
    Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(n_chars) AS BIGINT) AS chars
           |FROM documents WHERE lang IN ('en', 'de')
           |GROUP BY lang ORDER BY ALL""".stripMargin)) { t =>
    val out = java.nio.file.Files
      .createTempDirectory("graft_q91_part").toString
    t.documents
      .write.mode("overwrite")
      .partitionBy("lang")
      .parquet(out)
    orderedByAll(
      t.spark.read.parquet(out)
        .filter(col("lang").isin("en", "de"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars")))
  }

  /** Partition-grained upsert through the oracle gate: write the corpus
    * hive-partitioned with the 'en' partition deliberately corrupted
    * (n_chars inflated), then `LayoutWriter.upsertPartitions` the CORRECT
    * 'en' rows — dynamic partition overwrite replaces exactly the
    * partitions present in the correction batch and leaves every other
    * lang directory untouched. The oracle aggregates the ORIGINAL table,
    * so it passes only if the upsert (a) fixed 'en' and (b) did not clobber
    * any other partition — the late-data/reprocessed-day correction every
    * partitioned 100 TB lake needs, without a table format. */
  val q93 = EngineQuery(
    "q93_upsert_layout",
    Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(n_chars) AS BIGINT) AS chars
           |FROM documents GROUP BY lang ORDER BY ALL""".stripMargin)) { t =>
    import org.apache.spark.sql.functions.when
    val dir = java.nio.file.Files
      .createTempDirectory("graft_q93_upsert").toString
    val stale = t.documents.withColumn("n_chars",
      when(col("lang") === "en", col("n_chars") + 1000).otherwise(col("n_chars")))
    graft.sources.LayoutWriter.writePartitioned(stale, dir, Seq("lang"))
    graft.sources.LayoutWriter.upsertPartitions(
      t.documents.filter(col("lang") === "en"), dir, Seq("lang"))
    orderedByAll(
      t.spark.read.parquet(dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars")))
  }

  /** Bucketed co-located join through the oracle gate: lineitem and orders
    * are written bucketed (8 buckets, hash on the order key, sorted within
    * buckets) and then joined — with matching bucketing on both sides the
    * join needs NO exchange (PlanInvariantsSpec asserts the join keys never
    * hash-shuffle; scans show `Bucketed: true`). This is the layout that
    * amortizes a repeatedly-joined 100 TB fact table: pay the shuffle once
    * at write time, join exchange-free forever after. */
  /** Bucketed layouts memoized per (session, data dir): the layout's whole
    * point is "pay the shuffle once at write time, join exchange-free
    * forever after" — re-writing the tables on every q94 call would
    * benchmark the write, not the join. First call per session writes;
    * warm calls measure the exchange-free join itself. Table names are
    * DETERMINISTIC per (tag, dir, width) with overwrite semantics — the
    * artifact store already serializes writers per (session, dir), and one
    * stable name per artifact stops warehouse accumulation across
    * sessions and gate reruns. */
  private def bucketedTables(t: graft.Tables): (String, String) =
    Artifacts.get(t, "bucketed")({
      val liT = graft.sources.LayoutWriter.deterministicName("bkt_li", t.dir, 8)
      val ordT = graft.sources.LayoutWriter.deterministicName("bkt_ord", t.dir, 8)
      graft.sources.LayoutWriter.writeBucketed(
        t.lineitem.select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        liT, "l_orderkey", 8)
      graft.sources.LayoutWriter.writeBucketed(
        t.orders.select(col("o_orderkey"), col("o_orderstatus")),
        ordT, "o_orderkey", 8)
      (liT, ordT)
    })

  val q94 = EngineQuery(
    "q94_bucketed_join",
    Some("""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_items,
           |       round(sum(l_extendedprice * (1 - l_discount)) / 1000000, 4) AS revenue_m
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |GROUP BY o_orderstatus ORDER BY ALL""".stripMargin)) { t =>
    val (liT, ordT) = bucketedTables(t)
    orderedByAll(
      t.spark.table(liT)
        .join(t.spark.table(ordT), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_items"),
          round((sum(col("l_extendedprice") * (lit(1) - col("l_discount"))) / 1000000), 4)
            .as("revenue_m")))
  }

  /** Z-order clustered layout: lineitem rewritten so that BOTH l_partkey
    * and l_suppkey are partially clustered per file — the multi-dimensional
    * data-skipping layout (Delta/Iceberg OPTIMIZE ZORDER) for the fact
    * table that is filtered on two independent dimensions. A single-column
    * sort clusters one dimension perfectly and leaves the other at ~100%
    * per-file spread; interleaving the bits of both (after min-max scaling
    * each into 16 bits — at open scale the scaler would be q99's equi-depth
    * quantiles, same broadcast shape) bounds BOTH dims' per-file spread, so
    * parquet row-group min/max stats prune files for predicates on either
    * dim. ZOrderLayoutSpec measures exactly that: per-file normalized
    * key-range coverage < 0.7 on both dims vs ~1.0 for the unclustered
    * write.
    *
    * Plan: delegates to LayoutWriter.writeZOrdered — the z-value is the
    * MortonCode codegen Expression (bit-parallel interleave, no UDF), and
    * the write is ONE range exchange on z (the same shuffle any global
    * sort pays). Layout is memoized per (session, dir) like q94's buckets:
    * pay the clustering write once, every later read skips. The oracle
    * aggregates the round-tripped rows against the source table, proving
    * the re-layout lossless. */
  private[graft] def zorderedDir(t: graft.Tables): String =
    Artifacts.get(t, "zorder")({
      val out = java.nio.file.Files
        .createTempDirectory("graft_q114_zorder").toString
      graft.sources.LayoutWriter.writeZOrdered(
        t.lineitem, out, "l_partkey", "l_suppkey",
        maxRecordsPerFile = 100000L)
      out
    })

  val q114 = EngineQuery(
    "q114_zorder_layout",
    Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_items,
           |       CAST(sum(l_partkey) AS BIGINT) AS sum_part,
           |       CAST(sum(l_suppkey) AS BIGINT) AS sum_supp
           |FROM lineitem GROUP BY l_returnflag ORDER BY ALL""".stripMargin)) { t =>
    orderedByAll(
      t.spark.read.parquet(zorderedDir(t))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_partkey")).as("sum_part"),
          sum(col("l_suppkey")).as("sum_supp")))
  }

  /** Small-file compaction (OPTIMIZE bin-packing) through the oracle gate:
    * lineitem is first written deliberately FRAGMENTED (5000-row files — the
    * state a streaming sink or per-task writer leaves a table in), then
    * `LayoutWriter.compact` rewrites the directory at ~4 MB/file with NO
    * shuffle (coalesce merges read partitions; each output task streams
    * several input files into one). CompactionSpec asserts the mechanics —
    * file count collapses, the compact plan contains no exchange — and the
    * oracle here aggregates the compacted copy against the ORIGINAL table,
    * proving the maintenance pass lossless. Both layouts are memoized per
    * (session, dir) like q94/q114: pay the rewrite once, warm runs measure
    * the read. */
  private[operators] def compactedDir(t: graft.Tables): String =
    Artifacts.get(t, "compacted")({
      val frag = java.nio.file.Files
        .createTempDirectory("graft_q117_frag").toString
      t.lineitem.write.mode("overwrite")
        .option("maxRecordsPerFile", 5000)
        .parquet(frag)
      val out = java.nio.file.Files
        .createTempDirectory("graft_q117_compact").toString
      graft.sources.LayoutWriter.compact(t.spark, frag, out, 4L << 20)
      out
    })

  val q117 = EngineQuery(
    "q117_compact_files",
    // sum_price is reported in millions: the raw per-group sum is ~5e9 at
    // sf0.1, where cross-engine summation-order noise (~n·eps·Σ ≈ 0.1)
    // exceeds the 4dp rounding grain — q94's revenue_m discipline.
    Some("""SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n_items,
           |       round(sum(l_quantity), 4) AS sum_qty,
           |       round(sum(l_extendedprice) / 1000000, 4) AS sum_price_m
           |FROM lineitem GROUP BY 1, 2 ORDER BY ALL""".stripMargin)) { t =>
    orderedByAll(
      t.spark.read.parquet(compactedDir(t))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice")) / 1000000, 4).as("sum_price_m")))
  }

  /** Schema-drift tolerance — the lake reality q30/q91 idealize away: a
    * long-lived table's early files predate columns its later files carry
    * (pipelines add quality scores, enrichment fields, versions). Batch 1
    * lands WITHOUT `quality`, batch 2 adds it; `mergeSchema` unions the
    * footer schemas at read time and old files surface the new column as
    * NULL — no rewrite of the 100 TB of history, which is the entire point
    * (the alternative, backfilling a column into every historical file,
    * costs a full-corpus rewrite per added field). The aggregate then
    * treats presence explicitly (count(quality), avg over present rows).
    * The oracle re-derives both batches' semantics from the ORIGINAL table
    * with parity predicates, so it passes only if merge + null-surfacing
    * round-tripped exactly.
    *
    * At scale, mergeSchema's footer-union pass is per-file work you pay
    * once per query — production pins the merged schema in a catalog; the
    * READ semantics (missing column → NULL) are identical. */
  /** q123's two-epoch layout, memoized per (session, dir) like its layout
    * siblings (q114/q117/q133): the query measures the mergeSchema READ,
    * not a per-call rewrite of the corpus into fresh temp dirs. */
  private def driftDir(t: graft.Tables): String =
    Artifacts.get(t, "drift")({
      val dir = java.nio.file.Files
        .createTempDirectory("graft_q123_drift").toString
      // epoch-1 files: no quality column yet
      t.documents.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$dir/batch=1")
      // epoch-2 files: the pipeline now emits a quality score
      t.documents.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          (col("n_chars") / 100.0).as("quality"))
        .write.mode("overwrite").parquet(s"$dir/batch=2")
      dir
    })

  val q123 = EngineQuery(
    "q123_schema_drift",
    Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS BIGINT)
           |         AS n_with_quality,
           |       round(avg(CASE WHEN doc_id % 2 = 1
           |                 THEN n_chars / 100.0 END), 4) AS avg_quality
           |FROM documents GROUP BY lang ORDER BY ALL""".stripMargin)) { t =>
    val dir = driftDir(t)
    orderedByAll(
      t.spark.read.option("mergeSchema", "true").parquet(dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          count(col("quality")).as("n_with_quality"),
          round(avg(col("quality")), 4).as("avg_quality")))
  }

  // The three text round-trips write once per (session, dir) like the
  // layout siblings q117/q123/q133/q137: warm bench passes (and repeated
  // Verify calls) measure the READ path, and temp dirs don't accumulate
  // across invocations.

  /** CSV round-trip through the oracle gate — [[graft.sources.CsvSource]]
    * (schema-explicit, PERMISSIVE-tolerant, multiLine-off-so-splittable)
    * exposed as a query: q10's result writes to headered CSV and reads
    * back with the explicit schema; the oracle re-derives the rows from
    * the parquet source, so the text round-trip must be value-exact
    * (doubles print full-precision and re-parse bit-identically). */
  val q129 = EngineQuery("q129_csv_roundtrip", Some(RelationalQueries.q10Sql)) { t =>
    val out = Artifacts.get(t, "csv")({
      val dir = java.nio.file.Files
        .createTempDirectory("graft_q129_csv").toString
      graft.sources.CsvSource.writeCsv(RelationalQueries.q10Body(t), dir)
      dir
    })
    orderedByAll(graft.sources.CsvSource
      .readCsvDropMalformed(t.spark, RelationalQueries.q10Body(t).schema,
        header = true, ",", out))
  }

  /** JSONL round-trip, same contract as q129 via [[graft.sources
    * .JsonlSource]] — the interchange format crawl/annotation pipelines
    * actually deliver; schema stays explicit (inference is an extra full
    * pass at 100 TB). */
  val q130 = EngineQuery("q130_jsonl_roundtrip", Some(RelationalQueries.q10Sql)) { t =>
    val out = Artifacts.get(t, "jsonl")({
      val dir = java.nio.file.Files
        .createTempDirectory("graft_q130_jsonl").toString
      graft.sources.JsonlSource.writeJsonl(RelationalQueries.q10Body(t), dir)
      dir
    })
    orderedByAll(graft.sources.JsonlSource
      .readJsonlDropMalformed(t.spark, RelationalQueries.q10Body(t).schema, out))
  }

  /** XML round-trip — Spark 4's built-in XML source (the spark-xml
    * integration) under the same gate as q129/q130: q10's result writes
    * as row-tagged XML and reads back with the explicit schema. XML is
    * what legacy enterprise feeds still deliver; like CSV, schema stays
    * explicit (inference is an extra pass) and the files are splittable
    * by row tag. */
  val q132 = EngineQuery("q132_xml_roundtrip", Some(RelationalQueries.q10Sql)) { t =>
    val out = Artifacts.get(t, "xml")({
      val dir = java.nio.file.Files
        .createTempDirectory("graft_q132_xml").toString
      RelationalQueries.q10Body(t).write.mode("overwrite")
        .format("xml").option("rowTag", "row")
        .save(dir)
      dir
    })
    orderedByAll(
      t.spark.read.format("xml")
        .schema(RelationalQueries.q10Body(t).schema)
        .option("rowTag", "row")
        .load(out))
  }

  /** Dynamic partition pruning — the RUNTIME pruning q91's static predicate
    * can't do: the fact side is lang-partitioned, the predicate lives on a
    * DIMENSION attribute (`tier`), and which fact partitions survive is only
    * knowable after the dim filter runs. Catalyst inserts a dynamic-pruning
    * subquery: the filtered dim's broadcast is REUSED as an IN-filter on the
    * fact scan's partition column, so the scan opens only the surviving lang
    * directories (PlanInvariantsSpec asserts `dynamicpruning` in the scan's
    * PartitionFilters). At 100 TB this is the difference between scanning 2
    * languages and scanning 100 because the predicate was written against
    * the dim table. Both layouts memoized per (session, dir). */
  private[operators] def dppDirs(t: graft.Tables): (String, String) =
    Artifacts.get(t, "dpp")({
      val fact = java.nio.file.Files
        .createTempDirectory("graft_q133_fact").toString
      t.documents.write.mode("overwrite").partitionBy("lang").parquet(fact)
      val dim = java.nio.file.Files
        .createTempDirectory("graft_q133_dim").toString
      t.documents.select(col("lang")).distinct()
        .withColumn("tier",
          when(col("lang").isin("en", "de"), lit("t1")).otherwise(lit("t2")))
        .write.mode("overwrite").parquet(dim)
      (fact, dim)
    })

  val q133 = EngineQuery(
    "q133_dpp_join",
    Some("""WITH d AS (SELECT DISTINCT lang,
           |             CASE WHEN lang IN ('en','de') THEN 't1' ELSE 't2' END AS tier
           |           FROM documents)
           |SELECT d.tier, documents.lang, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(n_chars) AS BIGINT) AS chars
           |FROM documents JOIN d USING (lang)
           |WHERE d.tier = 't1'
           |GROUP BY 1, 2 ORDER BY ALL""".stripMargin)) { t =>
    val (fact, dim) = dppDirs(t)
    orderedByAll(
      t.spark.read.parquet(fact)
        .join(t.spark.read.parquet(dim).filter(col("tier") === "t1"), "lang")
        .groupBy(col("tier"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars")))
  }

  /** Parquet BLOOM-FILTER layout — the data-skipping mechanism for point
    * lookups on a column the file is NOT sorted or partitioned by: min/max
    * stats on an unsorted l_partkey span the full key range in every row
    * group (zero pruning), but a per-row-group bloom filter answers
    * "definitely absent" probabilistically, so an equality probe skips
    * row groups wholesale. This completes the skipping quintet: sorted
    * min/max (q114 intra-file), Z-order (q114 two-dim), hive partitioning
    * (q91 static, q133 dynamic), bucketing (q94 joins), blooms (point
    * probes). Write-side: `parquet.bloom.filter.enabled#col`; the filter's
    * presence in the footer is asserted in BloomLayoutSpec via parquet-mr.
    * The oracle re-derives the probe from the source table, proving the
    * bloom-annotated round-trip lossless and the probe exact (blooms have
    * false positives, never false negatives — results are identical, only
    * IO differs). Layout memoized per (session, dir). */
  private[graft] def bloomDir(t: graft.Tables): String =
    Artifacts.get(t, "bloom")({
      val out = java.nio.file.Files
        .createTempDirectory("graft_q137_bloom").toString
      t.lineitem
        .write.mode("overwrite")
        // row-group-sized files: a bloom prunes per ROW GROUP, and a group
        // can only say "absent" if the key's rows aren't in it — at gate
        // scale a 100k-row group holds nearly every partkey, so the layout
        // is written in 5k-row groups (the 100 TB reality arrives by
        // itself: NDV ≫ rows-per-group). Bench's layout audit asserts the
        // probe actually skips most groups at sf0.1.
        .option("maxRecordsPerFile", 5000)
        .option("parquet.bloom.filter.enabled#l_partkey", "true")
        .option("parquet.bloom.filter.expected.ndv#l_partkey", "20000")
        // parquet-mr SKIPS the bloom for a fully dictionary-encoded chunk
        // (the dictionary already answers membership exactly — measured:
        // no footer bloom at test NDV). At 100 TB l_partkey's NDV blows
        // the dictionary-page limit and plain encoding + bloom kick in by
        // themselves; at gate scale the dictionary must be forced off on
        // the bloom column for the layout to exercise the real mechanism.
        .option("parquet.enable.dictionary#l_partkey", "false")
        .parquet(out)
      out
    })

  val q137 = EngineQuery(
    "q137_bloom_layout",
    Some("""SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_items,
           |       round(sum(l_quantity), 4) AS sum_qty
           |FROM lineitem WHERE l_partkey IN (42, 4242)
           |GROUP BY l_partkey ORDER BY ALL""".stripMargin)) { t =>
    orderedByAll(
      t.spark.read.parquet(bloomDir(t))
        .filter(col("l_partkey").isin(42, 4242))
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_quantity")), 4).as("sum_qty")))
  }

  /** Time-sorted event layout: ONE range exchange (`repartitionByRange` on
    * ts — the same shuffle any global sort pays) + in-partition sort, so
    * every file owns a DISJOINT time range and within each file the parquet
    * row-group/page min-max stats are tight, non-overlapping intervals.
    * Memoized per (session, dir) like q94/q114/q117: pay the clustering
    * write once. */
  private[graft] def sortedEventsDir(t: graft.Tables): String =
    Artifacts.get(t, "sorted")({
      val out = java.nio.file.Files
        .createTempDirectory("graft_q159_sorted").toString
      // Spark's default parquet timestamp encoding is INT96 — which carries
      // NO min/max statistics, so a ts-sorted layout would have nothing to
      // prune with. Write micros (stats-bearing INT64) for the layout.
      val k = "spark.sql.parquet.outputTimestampType"
      val prev = t.spark.conf.getOption(k)
      t.spark.conf.set(k, "TIMESTAMP_MICROS")
      try t.events.repartitionByRange(8, col("ts"))
        .sortWithinPartitions("ts")
        .write.mode("overwrite").parquet(out)
      finally prev.fold(t.spark.conf.unset(k))(t.spark.conf.set(k, _))
      out
    })

  /** Time-range probe over the ts-sorted layout ([[sortedEventsDir]]) — the
    * default layout for any event/log table and the third member of the
    * data-skipping family: q137 prunes by bloom (point lookups), q133/q146
    * by partition directory (equi-dims), this by SORT ORDER (ranges). A
    * one-day window on the sorted copy touches only the files/row groups
    * whose [min,max] intervals intersect the day — the pushed ts predicate
    * skips everything else via footer stats, no index needed, and the
    * skipping compounds with partitioning at 100 TB (partition by day, sort
    * within). SortedLayoutSpec asserts the mechanics (disjoint per-file
    * ranges; the probe's scan emits a fraction of the table); the oracle
    * aggregates the SAME window from the raw table, proving the re-layout
    * lossless. Timestamps leave as epoch seconds (SURVEY §7.4.3). */
  val q159 = EngineQuery(
    "q159_sorted_scan",
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           |       round(sum(value), 4) AS sum_value,
           |       CAST(epoch_us(min(ts))//1000000 AS BIGINT) AS first_sec,
           |       CAST(epoch_us(max(ts))//1000000 AS BIGINT) AS last_sec
           |FROM events
           |WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-09'
           |GROUP BY event_type ORDER BY ALL""".stripMargin)) { t =>
    orderedByAll(
      t.spark.read.parquet(sortedEventsDir(t))
        .filter(col("ts") >= lit("2024-01-08").cast("timestamp") &&
          col("ts") < lit("2024-01-09").cast("timestamp"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 4).as("sum_value"),
          epochSec(min(col("ts"))).as("first_sec"),
          epochSec(max(col("ts"))).as("last_sec")))
  }

  /** The CDC change feed for q211: key-disjoint deletes (k ≡ 1 mod 11),
    * updates (k ≡ 0 mod 5, not deleted) and inserts (new keys from
    * k ≡ 3 mod 7), each tagged with the micro-batch generation it arrives
    * in (key mod 3). Key-disjointness makes the final state independent of
    * arrival order — the property that lets the spec replay generations
    * through a real stream and still demand byte-equal results. */
  private[graft] def cdcChanges(t: graft.Tables): org.apache.spark.sql.DataFrame = {
    val base = t.orders.select(col("o_orderkey"), col("o_orderpriority"),
      col("o_totalprice"))
    val del = base.filter(col("o_orderkey") % 11 === 1)
      .select(lit("D").as("op"), col("o_orderkey"),
        lit(null).cast("string").as("prio"), lit(null).cast("double").as("total"))
    val upd = base.filter(col("o_orderkey") % 5 === 0 && col("o_orderkey") % 11 =!= 1)
      .select(lit("U").as("op"), col("o_orderkey"),
        lit("X-UPDATED").as("prio"), (col("o_totalprice") + 500).as("total"))
    val ins = base.filter(col("o_orderkey") % 7 === 3)
      .select(lit("I").as("op"), (col("o_orderkey") + 200000000L).as("o_orderkey"),
        col("o_orderpriority").as("prio"), col("o_totalprice").as("total"))
    del.unionByName(upd).unionByName(ins)
      .withColumn("gen", (col("o_orderkey") % 3).cast("int"))
  }

  /** Apply ONE change micro-batch to the partitioned store: read back only
    * the AFFECTED partitions (semi-join on the batch's p set — at 100 TB
    * this is the difference between touching the changed slices and
    * rewriting the table), apply delete/update keys, append inserts, and
    * dynamic-partition-overwrite exactly those partitions. */
  private[graft] def cdcApplyBatch(
      spark: org.apache.spark.sql.SparkSession, storeDir: String,
      batch: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.functions.broadcast
    // Lazy: b's four consumers (parts/dels/upds/inserts) still
    // materialize it exactly once — inside the first broadcast build —
    // without a blocking job per micro-batch (round 18). The EAGER
    // checkpoint below (merged) is the one the self-overwrite hazard
    // needs; b never reads storeDir.
    val b = batch.withColumn("p", (col("o_orderkey") % 8).cast("int"))
      .localCheckpoint(eager = false)
    val parts = b.select(col("p")).distinct()
    val current = spark.read.parquet(storeDir)
      .join(broadcast(parts), Seq("p"), "left_semi")
    val dels = b.filter(col("op") === "D")
      .select(col("o_orderkey").as("d_key"))
    val upds = b.filter(col("op") === "U")
      .select(col("o_orderkey").as("u_key"), col("prio").as("u_prio"),
        col("total").as("u_total"))
    val merged = current
      .join(broadcast(dels), col("o_orderkey") === col("d_key"), "left_anti")
      .join(broadcast(upds), col("o_orderkey") === col("u_key"), "left")
      .select(col("p"), col("o_orderkey"),
        org.apache.spark.sql.functions.coalesce(col("u_prio"), col("prio")).as("prio"),
        org.apache.spark.sql.functions.coalesce(col("u_total"), col("total")).as("total"))
      .unionByName(b.filter(col("op") === "I")
        .select(col("p"), col("o_orderkey"), col("prio"), col("total")))
      // Materialize BEFORE the overwrite: `merged` reads storeDir lazily, and
      // dynamic-partition-overwriting the same path while read tasks may
      // still (re)open it is the self-overwrite hazard LayoutWriter.compact
      // guards with require(inDir != outDir) — a late task retry mid-commit
      // would read deleted files. The checkpoint severs the lineage so the
      // write never scans its own destination.
      .localCheckpoint()
    graft.sources.LayoutWriter.upsertPartitions(merged, storeDir, Seq("p"))
  }

  /** q211: CONTINUOUS CDC apply against a partitioned parquet store — the
    * MUTATION member of the ingest family (q181/q183/q186/q187 append,
    * q184/q117 compact, q211 updates AND deletes): the change feed arrives
    * as three key-disjoint micro-batches, each applied by rewriting ONLY
    * its affected hash partitions (dynamic partition overwrite — the
    * no-table-format lakehouse mutation primitive q93 established, here
    * driven incrementally with delete semantics parquet alone cannot
    * express in place). The oracle is the logical full-outer merge SQL, so
    * the hash-match proves three partition-sliced generation applies ≡ one
    * logical merge — and StreamCdcSpec replays the same generations
    * through a REAL readStream/foreachBatch pipeline, pins stream ≡ batch,
    * and proves untouched partitions' files survive byte-identical. */
  val q211 = EngineQuery(
    "q211_cdc_stream_apply",
    Some("""WITH base AS (SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders),
           |upd AS (SELECT o_orderkey, 'X-UPDATED' AS prio, o_totalprice + 500 AS total
           |        FROM base WHERE o_orderkey % 5 = 0 AND o_orderkey % 11 <> 1),
           |ins AS (SELECT o_orderkey + 200000000 AS o_orderkey,
           |               o_orderpriority AS prio, o_totalprice AS total
           |        FROM base WHERE o_orderkey % 7 = 3),
           |kept AS (SELECT b.o_orderkey,
           |                coalesce(u.prio, b.o_orderpriority) AS prio,
           |                coalesce(u.total, b.o_totalprice) AS total
           |         FROM base b LEFT JOIN upd u ON b.o_orderkey = u.o_orderkey
           |         WHERE b.o_orderkey % 11 <> 1),
           |fin AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
           |SELECT prio, CAST(count(*) AS BIGINT) AS n,
           |  round(sum(total) / 1000000, 4) AS total_m
           |FROM fin GROUP BY prio ORDER BY ALL""".stripMargin)) { t =>
    val store = Artifacts.get(t, "cdcstore") {
      val dir = java.nio.file.Files.createTempDirectory("graft_q211_cdc").toString
      val base = t.orders
        .select((col("o_orderkey") % 8).cast("int").as("p"), col("o_orderkey"),
          col("o_orderpriority").as("prio"), col("o_totalprice").as("total"))
      graft.sources.LayoutWriter.writePartitioned(base, dir, Seq("p"))
      val changes = cdcChanges(t).localCheckpoint()
      for (g <- 0 until 3)
        cdcApplyBatch(t.spark, dir, changes.filter(col("gen") === g))
      dir
    }
    orderedByAll(t.spark.read.parquet(store)
      .groupBy(col("prio"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("total")) / 1000000, 4).as("total_m")))
  }

  val all: Seq[EngineQuery] =
    Seq(q30, q75, q91, q93, q94, q114, q117, q123, q129, q130, q132, q133,
      q137, q159, q211)
}
