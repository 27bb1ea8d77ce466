package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

object Bench {
  /** One query's timed run: wall seconds, the error if it threw, the
    * codegen classes compiled while it ran (count and compile ms — the
    * JVM-wide counters, exact because the passes run one query at a time)
    * and the session artifacts it built (the [[Artifacts]] ledger's diff). */
  final case class Run(name: String, secs: Double, err: Option[String],
      compiles: Long, compileMs: Double, artifacts: Map[String, Artifacts.Charge])

  /** Classes compiled and compile ns so far in this JVM. */
  private def codegenCounters(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    val (setupC0, setupNs0) = codegenCounters()
    // The "No Partition Defined for Window operation" warning is pinned
    // benign by PlanMetricsSpec (bounded-frame inventory; PLANS.md round 8)
    // and would otherwise dominate the bench tail — hundreds of lines that
    // risk burying/truncating the one-line JSON the driver parses.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // JVM/codegen warmup so the first timed query doesn't absorb Spark
    // startup: one tiny scan+agg+window exercises the scan, hash-agg, sort
    // and window codepaths.
    locally {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = spark.read.parquet(s"$sfDir/nation.parquet")
      w.groupBy("n_regionkey").count()
        .withColumn("r", row_number().over(Window.partitionBy("n_regionkey").orderBy("count")))
        .count()
      // Force every table's file-listing + footer read through the memoized
      // Tables instance OUTSIDE the timed region: otherwise the first query
      // to touch each table absorbs its metadata cost, mis-attributing a
      // fixed per-table setup to whichever query happens to run first.
      // And warm the DATA, not just the footers: one untimed full read per
      // table puts the parquet pages in the OS page cache, so the cold pass
      // measures plan+codegen+execution rather than first-disk-touch — in
      // rounds 3-4 the first text query to run (sorted order: q104) absorbed
      // the entire first read of documents.parquet (q23 12.2s cold vs 0.30s
      // warm), overstating the suite total by ~15s with no plan-level cause.
      // select(*).count() would let the scan prune every column and read
      // nothing; a real column-touching pass is needed, so checksum-count
      // each table's rows against all columns via a cheap hash projection.
      val t = Tables.forPath(spark, sfDir)
      Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders,
        t.lineitem, t.events, t.documents, t.embeddings).foreach { df =>
        import org.apache.spark.sql.functions.{col, xxhash64}
        df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*)).count()
      }
    }
    val (setupC1, setupNs1) = codegenCounters()
    // (time, error): a failing query must be VISIBLE in the bench JSON, not
    // silently contribute a bogus duration. Sorted name order: Map iteration
    // order is per-JVM nondeterministic, which made cross-round per-query
    // deltas ride on execution-order luck (cache/contention state differs by
    // position in the pass).
    // Optional substring filter for local iteration (unset in driver runs):
    // SPARK_GRAFT_ONLY=q108 times just the matching queries.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    def pass(): Seq[Run] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(name.contains) }
        .map { case (name, fn) =>
        val (c0, ns0) = codegenCounters()
        val a0 = Artifacts.charges
        val t0 = System.nanoTime()
        val err =
          try { fn(spark, sfDir).count(); None }
          catch { case e: Throwable =>
            Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
          }
        val secs = (System.nanoTime() - t0) / 1e9
        val (c1, ns1) = codegenCounters()
        val built = Artifacts.charges.collect {
          case (a, c) if !a0.get(a).contains(c) =>
            a -> (c - a0.getOrElse(a, Artifacts.Charge(0, 0)))
        }
        Run(name, secs, err, c1 - c0, (ns1 - ns0) / 1e6, built)
      }
    // Pass 1 (headline `value`/`queries`): first execution — includes each
    // query's one-time plan+codegen compile, the honest single-shot number.
    // Passes 2+3 (`queries_warm`/`total_warm`, per-query MIN of the two):
    // steady-state latency once plans are compiled — the per-query cost a
    // long-lived service actually pays. Min-of-2 because a single warm sample
    // on a shared box rides run-to-run contention noise (round-3 saw warm >
    // cold inversions of 3-5x on queries whose plans hadn't changed).
    val results = pass()
    // SPARK_GRAFT_COLD_ONLY=1 (tools/budget.py): skip the two warm
    // passes — the budget generator runs N whole-suite cold passes in fresh
    // JVMs and only the first-execution numbers matter, so paying ~2×warm
    // per pass would triple its wall-clock for data it discards.
    val coldOnly = sys.env.get("SPARK_GRAFT_COLD_ONLY").contains("1")
    val warmPasses = if (coldOnly) Nil else Seq(pass(), pass())
    val warm = warmPasses match {
      case Seq(w1, w2) =>
        w1.zip(w2).map { case (r1, r2) =>
          r1.copy(secs = math.min(r1.secs, r2.secs), err = r1.err.orElse(r2.err))
        }
      case _ => results
    }
    // Layout audit (untimed, after the passes so the memoized layouts
    // already exist): the data-skipping layouts must actually SKIP at bench
    // scale, asserted from runtime scan metrics — a layout regression (e.g.
    // dictionary encoding silently re-enabled on the bloom column, or the
    // z-order write losing its range exchange) fails the bench gate here,
    // not just the unit spec. Ratios measured at sf0.1: bloom probe scans
    // 0.38 of rows (46/120 row groups survive the IN-probe blooms — min/max
    // can't prune an unsorted key, so any skip is the blooms'), the 10%
    // z-band scans 0.33; thresholds leave ~1.8× headroom but fail loudly at
    // the no-skip ratio of 1.0. Guarded to bench scale — below ~sf0.1 the
    // 5k-row groups each hold most of the small key domain and blooms
    // legitimately cannot prune.
    locally {
      import org.apache.spark.sql.functions.col
      val t = Tables.forPath(spark, sfDir)
      val total = t.lineitem.count()
      if (total >= 500000) {
        val bloom = spark.read.parquet(graft.operators.SinkQueries.bloomDir(t))
          .filter(col("l_partkey").isin(42, 4242))
        val bScan = graft.plans.PlanMetrics.run(bloom).scanOutputRows.sum
        require(bScan < (total * 0.6).toLong,
          s"layout audit: bloom probe scanned $bScan of $total rows — footer blooms not skipping")
        val z = spark.read.parquet(graft.operators.SinkQueries.zorderedDir(t))
          .filter(col("l_partkey") <= 2000)
        val zScan = graft.plans.PlanMetrics.run(z).scanOutputRows.sum
        require(zScan < (total * 0.7).toLong,
          s"layout audit: z-order band scanned $zScan of $total rows — clustering stats not skipping")
      }
    }
    def jstr(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replaceAll("[\\n\\r\\t]", " ") + "\""
    def jnum(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def qmap(rs: Seq[Run], value: Run => String): String =
      rs.map(r => jstr(r.name) + ":" + value(r)).mkString("{", ",", "}")
    val errs = results.collect { case Run(k, _, Some(e), _, _, _) => jstr(k) + ":" + jstr(e) }
      .mkString("{", ",", "}")
    val total = results.map(_.secs).sum
    val totalWarm = warm.map(_.secs).sum
    // Full per-query detail (cold + warm + errors, full query names) goes to a
    // sidecar file; the stdout line stays compact because the driver keeps only
    // the LAST 2000 chars of output and parses the JSON line out of that tail —
    // a 64-query map with full names and 9-decimal times overflows it.
    // Cold-only runs (tools/budget.py) must be UNMISTAKABLE in the
    // artifact: r10 committed a budget-pass BENCH_DETAIL.json whose
    // "queries_warm" silently duplicated the cold times. Now cold-only
    // output carries "cold_only":true and NO warm fields at all.
    // Codegen per query: classes compiled and compile ms in the cold pass
    // ("compiles"/"compile_ms") and in each warm pass ("*_warm", one map per
    // pass, not a min), plus the untimed warmup's ("*_setup"). The warmup
    // and cold counts sum to the classes one pass needs.
    def compiles(rs: Seq[Run]): String = qmap(rs, _.compiles.toString)
    def compileMs(rs: Seq[Run]): String = qmap(rs, r => jnum(r.compileMs))
    val codegenFields =
      s""""compiles_setup":${setupC1 - setupC0},"compile_ms_setup":${jnum((setupNs1 - setupNs0) / 1e6)},""" +
        s""""compiles":${compiles(results)},"compile_ms":${compileMs(results)}""" +
        (if (coldOnly) ""
         else s""","compiles_warm":${warmPasses.map(compiles).mkString("[", ",", "]")},""" +
           s""""compile_ms_warm":${warmPasses.map(compileMs).mkString("[", ",", "]")}""")
    // Artifact builds per query (queries that built nothing are left out):
    // build ms per artifact name in the cold pass ("artifacts"), and the
    // number of builds in the cold pass ("artifact_builds") and in each
    // warm pass ("artifact_builds_warm").
    def building(rs: Seq[Run]): Seq[Run] = rs.filter(_.artifacts.nonEmpty)
    def builds(rs: Seq[Run]): String =
      qmap(building(rs), _.artifacts.values.map(_.builds).sum.toString)
    val artifactFields =
      s""""artifacts":${qmap(building(results), r =>
        r.artifacts.toSeq.sortBy(_._1).map { case (a, c) => jstr(a) + ":" + jnum(c.ms) }
          .mkString("{", ",", "}"))},"artifact_builds":${builds(results)}""" +
        (if (coldOnly) ""
         else s""","artifact_builds_warm":${warmPasses.map(builds).mkString("[", ",", "]")}""")
    val warmFields =
      if (coldOnly) s""""cold_only":true"""
      else s""""total_warm":$totalWarm,"queries_warm":${qmap(warm, r => jnum(r.secs))}"""
    val detail =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${qmap(results, r => jnum(r.secs))},$warmFields,"errors":$errs,"failed":${results.count(_.err.isDefined)},$codegenFields,$artifactFields,"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_DETAIL.json"),
      detail.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // Compact keys: "q36_dedup_ngram_jaccard" -> "q36"; 2-decimal times
    // (10 ms granularity is below box noise anyway). The driver parses the
    // line from the LAST 2000 chars of stdout, so the budget is hard; full
    // 3-decimal detail lives in BENCH_DETAIL.json. Asserting 1500 (not
    // 1800) keeps ~300 chars of headroom for future query additions — a
    // breach should fail HERE, at the round that adds the queries, with
    // room to spare, not at the driver's tail-parse.
    def jnum2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    // The compact "queries" field is a POSITIONAL ARRAY of 1-decimal times
    // in sorted-name order (the same order `pass()` runs and the same order
    // BENCH_DETAIL.json's "queries" dict lists — zip them to recover names).
    // The round-4 review recommended exactly this delta-encoding when the
    // keyed map neared the 1500-char tail budget: the dict form costs ~11
    // chars/query (1459 at 131 queries — one round from breaching); the
    // array costs ~4.5, which holds ~250 queries. Full names + 3-decimal
    // cold/warm/error detail stay in BENCH_DETAIL.json.
    def jnum1(v: Double): String = "%.1f".formatLocal(java.util.Locale.ROOT, v)
    def qarr(rs: Seq[Run]): String =
      rs.map(r => jnum1(r.secs)).mkString("[", ",", "]")
    val lineWarm =
      if (coldOnly) s""""cold_only":true"""
      else s""""total_warm":${jnum2(totalWarm)}"""
    val line =
      s"""{"metric":"total","value":${jnum2(total)},"unit":"sec","order":"sorted(name)","queries":${qarr(results)},$lineWarm,"failed":${results.count(_.err.isDefined)},"sf":"$sfDir"}"""
    require(line.length < 1500, s"bench line too long for driver tail: ${line.length}")
    // Stop Spark BEFORE printing: the driver parses the JSON from the tail of
    // captured output, so nothing (executor shutdown logs included) may print
    // after this line.
    spark.stop()
    println(line)
    System.out.flush()
  }
}
