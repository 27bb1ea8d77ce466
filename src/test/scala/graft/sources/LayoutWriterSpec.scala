package graft.sources

import graft.{SharedSparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The partitioned layout must (a) round-trip losslessly and (b) actually
  * prune: a filter on the partition column must appear as a PartitionFilter
  * on the scan, not a data filter over all files. */
class LayoutWriterSpec extends SharedSparkSpec {

  test("partitionBy layout round-trips and prunes partitions at plan time") {
    val events = new Tables(spark, sf001).events
    val dir = tmpDir("layout")
    LayoutWriter.writePartitioned(
      events, dir,
      partitionCols = Seq("event_type"),
      sortCols = Seq("ts"),
      maxRecordsPerFile = 500)

    // subdirectories per partition value exist
    val subdirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(subdirs.count(_.startsWith("event_type=")) == 5)

    val back = spark.read.parquet(dir)
    assert(back.count() == events.count())

    val filtered = back.filter(col("event_type") === "purchase")
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(event_type"),
      s"expected partition filter in plan:\n$scan")
    val expected = events.filter(col("event_type") === "purchase").count()
    assert(filtered.count() == expected)
  }

  test("corrupt files are skipped under ignoreCorruptFiles (reference A3)") {
    val t = new Tables(spark, sf001)
    val dir = tmpDir("corrupt")
    t.nation.coalesce(1).write.parquet(s"$dir/data")
    // drop a garbage file next to the real parquet part
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/data/junk.parquet"),
      "this is not parquet".getBytes)
    val schema = t.nation.schema
    val reader = ParquetRowReader.fromPath(spark, s"$dir/data", schema)
    assert(reader.getRows().size == t.nation.count())
  }

  test("bucketed tables join with no shuffle exchange (co-located SMJ)") {
    val t = new Tables(spark, sf001)
    // warehouse dir is preset at session build (static conf, SharedSparkSpec)
    LayoutWriter.writeBucketed(t.lineitem, "li_bkt", "l_orderkey", 8)
    LayoutWriter.writeBucketed(t.orders, "ord_bkt", "o_orderkey", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_bkt")
        .join(spark.table("ord_bkt"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(1500))
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n${plan.take(1500)}")
      assert(joined.count() == t.lineitem.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("dynamic partition pruning kicks in on a partitioned fact join") {
    val t = new Tables(spark, sf001)
    val dir = tmpDir("dpp")
    LayoutWriter.writePartitioned(t.events, dir, Seq("event_type"))
    val fact = spark.read.parquet(dir)
    // DPP requires a *selective filter* on a file-backed dim side: Spark only
    // inserts the dynamicpruning subquery when the other join side is filtered
    // (and, under reuseBroadcastOnly, will be broadcast). A bare 1-row
    // LocalTableScan dim never qualifies.
    val dimDir = tmpDir("dppdim")
    t.events.select(col("event_type").as("et")).distinct()
      .withColumn("flag", when(col("et") === "purchase", 1).otherwise(0))
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("flag") === 1)
    val joined = fact.join(dim, col("event_type") === col("et"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"), plan.take(2000))
    val expected = t.events.filter(col("event_type") === "purchase").count()
    assert(joined.count() == expected)
  }

  /** Rows a scan emits AFTER parquet row-group statistics pruning.
    * collect(), not count(): count() builds a NEW QueryExecution (agg plan),
    * leaving this Dataset's own scan metrics untouched. */
  private def scannedRows(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect() // populate THIS queryExecution's metrics
    df.queryExecution.executedPlan.collectLeaves()
      .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics("numOutputRows").value }
      .sum
  }

  test("z-order layout prunes row groups on BOTH key columns") {
    val li = new Tables(spark, sf001).lineitem
      .select("l_orderkey", "l_partkey", "l_quantity")
    val zDir = tmpDir("zorder")
    val aDir = tmpDir("asort")
    // tiny row groups so the 6k-row fixture yields many prunable groups
    LayoutWriter.writeZOrdered(li, zDir, "l_orderkey", "l_partkey",
      parquetBlockSize = 16 * 1024)
    li.orderBy("l_orderkey").write.mode("overwrite")
      .option("parquet.block.size", 16 * 1024).parquet(aDir)

    val z = spark.read.parquet(zDir)
    val a = spark.read.parquet(aDir)
    assert(z.count() == li.count())

    // a range filter on the SECONDARY key: the orderkey-sorted layout has no
    // l_partkey locality, so stats prune (almost) nothing; the z-ordered
    // layout keeps l_partkey ranges tight per row group.
    val lo = 10L; val hi = 30L
    def pred(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("l_partkey") >= lo && col("l_partkey") <= hi)
    val expected = pred(li).count()
    assert(pred(z).count() == expected)
    assert(pred(a).count() == expected)
    val zScanned = scannedRows(pred(z))
    val aScanned = scannedRows(pred(a))
    info(s"scanned rows after row-group pruning: z-order=$zScanned, single-col sort=$aScanned")
    assert(zScanned < aScanned,
      s"z-order should prune secondary-key scans (z=$zScanned, a=$aScanned)")
    // and the primary key still prunes fine on the z-ordered layout
    val zPrimary = scannedRows(z.filter(col("l_orderkey") <= 100))
    assert(zPrimary < li.count())
  }

  test("dynamic partition overwrite upserts only the partitions present") {
    val t = new Tables(spark, sf001)
    val dir = tmpDir("upsert")
    val base = t.events.select("event_id", "user_id", "event_type", "value")
    LayoutWriter.writePartitioned(base, dir, Seq("event_type"))

    // "reprocess" ONLY the purchase partition with corrected values
    val corrected = base.filter(col("event_type") === "purchase")
      .withColumn("value", lit(0.0))
    LayoutWriter.upsertPartitions(corrected, dir, Seq("event_type"))

    val back = spark.read.parquet(dir)
    assert(back.count() == base.count()) // nothing lost, nothing duplicated
    // purchases replaced...
    assert(back.filter(col("event_type") === "purchase" && col("value") =!= 0.0).count() == 0)
    // ...every other partition byte-identical in content
    val others = back.filter(col("event_type") =!= "purchase")
      .agg(sum("value")).collect().head.getDouble(0)
    val expected = base.filter(col("event_type") =!= "purchase")
      .agg(sum("value")).collect().head.getDouble(0)
    assert(math.abs(others - expected) < 1e-9)
  }

  test("spark.graft.audit.buckets: default 8, a positive integer, else an error naming the key") {
    val key = "spark.graft.audit.buckets"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.unset(key)
      assert(LayoutWriter.auditBuckets(spark) == 8)
      spark.conf.set(key, "16")
      assert(LayoutWriter.auditBuckets(spark) == 16)
      for (bad <- Seq("abc", "0", "-1")) {
        spark.conf.set(key, bad)
        val e = intercept[IllegalArgumentException](LayoutWriter.auditBuckets(spark))
        assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$bad'"), e.getMessage)
      }
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("serving flags: unset, 0 or 1, else an error naming the key") {
    def probeSnapshot = graft.operators.MultimodalQueries.probeSnapshotEnabled
    for ((env, key, read) <- Seq[(String, String, () => Boolean)](
        ("SPARK_GRAFT_SERVE_LAYOUTS", "spark.graft.serveLayouts", () => LayoutWriter.servingLayouts),
        ("SPARK_GRAFT_PROBE_SNAPSHOT", "spark.graft.probeSnapshot", () => probeSnapshot))) {
      assume(sys.env.get(env).isEmpty, s"$env is set, and it overrides $key")
      val saved = sys.props.get(key)
      try {
        sys.props.remove(key)
        assert(!read())
        sys.props(key) = "0"
        assert(!read())
        sys.props(key) = "1"
        assert(read())
        for (bad <- Seq("true", "2")) {
          sys.props(key) = bad
          val e = intercept[IllegalArgumentException](read())
          assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$bad'"), e.getMessage)
        }
      } finally saved match {
        case Some(v) => sys.props(key) = v
        case None => sys.props.remove(key)
      }
    }
  }
}
