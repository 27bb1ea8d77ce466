package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.util.Random

import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.QueryExecutionMetering
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{EngineQuery, Tables}
import graft.sources.ParquetRowReader

/** One benchmark run in a fresh JVM: set up the session several times, run
  * one cold pass and then warm passes of the workload's operations for the
  * requested time, then one untimed check pass that writes every output for
  * the DuckDB comparison. Writes `result.json` into the run directory.
  *
  * Usage: perfbench.PerfBench key=value ... with the keys workload, seed,
  * warm (the number of warm passes), trace (0|1), data, out, cores, setups.
  */
object PerfBench {

  /** One timed unit of work: an engine query drained through the `noop`
    * sink, or a `getRows` stream over the row fixture. */
  sealed trait Op { def name: String }
  final case class QueryOp(q: EngineQuery) extends Op { def name: String = q.name }
  final case class RowsOp(name: String, cols: Seq[String]) extends Op

  val RowColumns: Seq[String] = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate")

  def family(all: Seq[EngineQuery], keep: String*): Seq[EngineQuery] = {
    val byId = all.map(q => q.name.takeWhile(_ != '_') -> q).toMap
    keep.map(id => byId.getOrElse(id, sys.error(s"unknown query $id")))
  }

  /** The workloads' query lists, trimmed from the named families so one run
    * fits the benchmark's time budget (see README.md). */
  def queries(workload: String): Seq[EngineQuery] = {
    import graft.functions._
    import graft.operators._
    workload match {
      case "analytics" =>
        family(RelationalQueries.all, "q10", "q12", "q54", "q63") ++
          family(WindowQueries.all, "q62") ++ family(SketchQueries.all, "q86") ++
          family(ScalarFuncQueries.all, "q19") ++ family(UdfQueries.all, "q27") ++
          family(EvalQueries.all, "q190") ++ family(ExperimentQueries.all, "q203")
      case "llm_pipeline" =>
        family(SimilarityQueries.all, "q25", "q37", "q118") ++
          family(CurationQueries.all, "q215", "q216")
      case "etl_rows" => family(SinkQueries.all, "q114", "q129", "q130", "q137")
      case other => sys.error(s"unknown workload $other")
    }
  }

  /** The row-stream projections: a seeded partition of lineitem's columns
    * into pairs, so every pass decodes each column once and the work per pass
    * does not depend on the seed. Six streams against four sink queries put
    * the median operation inside the row streams, not on the boundary
    * between the two kinds. */
  def rowOps(rng: Random): Seq[RowsOp] =
    rng.shuffle(RowColumns).grouped(2).toSeq.zipWithIndex.map { case (cols, i) =>
      RowsOp(s"rows$i", cols)
    }

  // ---- counters read around the public calls ----------------------------

  final class Probe extends SparkListener {
    val jobs, stages, tasks, runMs, cpuNs, shufW, shufR, spill, inBytes, inRecs,
      outBytes = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        inBytes.addAndGet(m.inputMetrics.bytesRead)
        inRecs.addAndGet(m.inputMetrics.recordsRead)
        outBytes.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
  }

  final class Phases extends QueryExecutionListener {
    val optimizeMs, planningMs = new AtomicLong
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val p = qe.tracker.phases
      p.get("optimization").foreach(s => optimizeMs.addAndGet(s.durationMs))
      p.get("planning").foreach(s => planningMs.addAndGet(s.durationMs))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val osBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = osBean.getProcessCpuTime
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  }
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Live heap after a full collection, in MB; the run keeps the maximum. */
  var heapPeakMb = 0.0
  def sampleHeap(): Unit = {
    // Spark's ContextCleaner drops broadcast and shuffle blocks only after a
    // collection has queued their references; collect again once it has run.
    System.gc()
    Thread.sleep(100)
    System.gc()
    val mb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    heapPeakMb = math.max(heapPeakMb, mb)
  }

  /** Every layer counter as one map; deltas of two snapshots are per pass. */
  def snapshot(probe: Probe, phases: Phases): Map[String, Double] = {
    val meter = QueryExecutionMetering.INSTANCE  // what RuleExecutor.queryExecutionMeter reads
    Map(
      "cpu_ns" -> cpuNs().toDouble, "gc_ms" -> gcMs().toDouble, "jit_ms" -> jitMs().toDouble,
      "compile_ns" -> CodeGenerator.compileTime.toDouble,
      "compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      // the histogram keeps a decaying sample, so count × mean is an estimate
      "bytecode" -> {
        val h = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE
        h.getCount * h.getSnapshot.getMean
      },
      "rule_ns" -> meter.totalTime.toDouble, "rule_runs" -> meter.totalNumRuns.toDouble,
      "rule_eff" -> meter.totalNumEffectiveRuns.toDouble) ++
      (if (probe == null) Map.empty[String, Double] else Map(
        "jobs" -> probe.jobs.get.toDouble, "stages" -> probe.stages.get.toDouble,
        "tasks" -> probe.tasks.get.toDouble, "task_ms" -> probe.runMs.get.toDouble,
        "task_cpu_ns" -> probe.cpuNs.get.toDouble, "shuf_w" -> probe.shufW.get.toDouble,
        "shuf_r" -> probe.shufR.get.toDouble, "spill" -> probe.spill.get.toDouble,
        "in_bytes" -> probe.inBytes.get.toDouble, "in_recs" -> probe.inRecs.get.toDouble,
        "out_bytes" -> probe.outBytes.get.toDouble,
        "optimize_ms" -> phases.optimizeMs.get.toDouble,
        "planning_ms" -> phases.planningMs.get.toDouble))
  }

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  // ---- JSON out ---------------------------------------------------------

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case o: Option[_] => o.map(json).getOrElse("null")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  // ---- the run ----------------------------------------------------------

  def buildSession(cores: Int, out: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()

  /** Every table's footers and pages read once: a hash over all columns. */
  def readTables(spark: SparkSession, data: String, withRows: Boolean): Unit = {
    val t = Tables.forPath(spark, data)
    val dfs = Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders,
      t.lineitem, t.events, t.documents, t.embeddings) ++
      (if (withRows) Seq(spark.read.parquet(s"$data/rows")) else Nil)
    dfs.foreach(df => df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*)).count())
  }

  /** A timed interval around one call into a layer; `parent` is the span
    * that caused it (0 for the run itself). Kept in memory, written out with
    * the result. */
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]

  private var spansStarted = 0

  def span[T](name: String, parent: Int)(f: Int => T): T = {
    spansStarted += 1
    val id = spansStarted
    val t0 = System.nanoTime()
    try f(id) finally spans += Span(id, parent, name, t0, System.nanoTime())
  }

  final case class Timing(totalNs: Long, constructNs: Long, compileNs: Long,
      rows: Long, error: Option[String])

  /** Runs one operation to completion, under a span named after it. Queries
    * drain their full result through the `noop` sink; row streams iterate
    * every row and field. */
  def runOp(spark: SparkSession, data: String, op: Op, parent: Int): Timing =
    span(op.name, parent) { id =>
      val c0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      var t1 = t0
      var rows = 0L
      val err = try {
        op match {
          case QueryOp(q) =>
            val df = span("construct", id)(_ => q.run(spark, data))
            t1 = System.nanoTime()
            span("execute", id)(_ => df.write.format("noop").mode("overwrite").save())
          case RowsOp(_, cols) =>
            val it = span("construct", id)(_ =>
              ParquetRowReader.fromPath(spark, s"$data/rows").getRows(cols))
            t1 = System.nanoTime()
            span("stream", id) { _ =>
              var fields = 0L
              while (it.hasNext) { fields += it.next().size; rows += 1 }
              require(fields == rows * cols.size, s"row stream lost fields: $fields")
            }
        }
        None
      } catch {
        case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
      }
      Timing(System.nanoTime() - t0, t1 - t0, CodeGenerator.compileTime - c0, rows, err)
    }

  /** Per-column checksum of a row stream: non-null count and an integer sum
    * that DuckDB reproduces exactly: integers as is, doubles as
    * round(x × 10^4), strings by length, timestamps by epoch seconds.
    * `gcEvery` samples the live heap mid-stream. */
  def rowChecksum(spark: SparkSession, data: String, op: RowsOp, gcEvery: Long): Map[String, Any] = {
    val it = ParquetRowReader.fromPath(spark, s"$data/rows").getRows(op.cols)
    val nonNull = Array.fill(op.cols.size)(0L)
    val sums = Array.fill(op.cols.size)(0L)
    var rows = 0L
    while (it.hasNext) {
      val m = it.next()
      var i = 0
      while (i < op.cols.size) {
        m.getOrElse(op.cols(i), null) match {
          case null =>
          case v =>
            nonNull(i) += 1
            sums(i) += (v match {
              case x: java.lang.Double => Math.round(x * 10000.0)
              case x: java.lang.Float => Math.round(x.toDouble * 10000.0)
              case x: java.lang.Number => x.longValue
              case s: String => s.length.toLong
              case t: java.sql.Timestamp => Math.floorDiv(t.getTime, 1000L)
              case t: java.time.LocalDateTime => t.toEpochSecond(java.time.ZoneOffset.UTC)
              case t: java.time.Instant => t.getEpochSecond
              case other => sys.error(s"no checksum for ${other.getClass}")
            })
        }
        i += 1
      }
      rows += 1
      if (rows % gcEvery == 0) sampleHeap()
    }
    Map("name" -> op.name, "cols" -> op.cols, "rows" -> rows,
      "non_null" -> nonNull.toSeq, "sums" -> sums.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val warmCount = opt("warm").toInt
    val traced = opt("trace") == "1"
    val data = opt("data")
    val out = opt("out")
    val cores = opt("cores").toInt
    val setups = opt("setups").toInt
    val rng = new Random(seed)
    val withRows = workload == "etl_rows"

    // ---- setup, several times; the last session runs the passes --------
    var spark: SparkSession = null
    val setupS, sessionS, tablesS = Seq.newBuilder[Double]
    for (i <- 0 until setups) span(s"setup$i", 0) { id =>
      val s0 = System.nanoTime()
      spark = span("session", id)(_ => buildSession(cores, out))
      spark.sparkContext.setLogLevel("WARN")
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec", org.apache.logging.log4j.Level.ERROR)
      val s1 = System.nanoTime()
      span("tables", id)(_ => readTables(spark, data, withRows))
      val s2 = System.nanoTime()
      val fromJvm = if (i == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3 - (s2 - s0) / 1e9 else 0.0
      setupS += fromJvm + (s2 - s0) / 1e9
      sessionS += fromJvm + (s1 - s0) / 1e9
      tablesS += (s2 - s1) / 1e9
      if (i < setups - 1) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }

    val ops: Seq[Op] = queries(workload).map(QueryOp) ++ (if (withRows) rowOps(rng) else Nil)
    val probe = if (traced) new Probe else null
    val phases = if (traced) new Phases else null
    def traceOn(on: Boolean): Unit = if (traced) {
      if (on) { spark.sparkContext.addSparkListener(probe); spark.listenerManager.register(phases) }
      else { spark.sparkContext.removeSparkListener(probe); spark.listenerManager.unregister(phases) }
    }
    def snap(): Map[String, Double] = {
      if (traced) ListenerBusDrain(spark.sparkContext)
      snapshot(probe, phases)
    }

    var attempted = 0L
    var failed = 0L
    val errors = Seq.newBuilder[Map[String, Any]]
    final case class Pass(wall: Double, timings: Map[String, Timing], layers: Map[String, Double],
        traced: Boolean)
    def pass(name: String, tracedPass: Boolean): Pass = {
      traceOn(tracedPass)
      val order = rng.shuffle(ops)
      val before = snap()
      val t0 = System.nanoTime()
      var rowJobs = 0.0
      val ts = span(name, 0) { id =>
        order.map { op =>
          // the jobs a row stream launches, counted in traced passes only
          val countJobs = tracedPass && op.isInstanceOf[RowsOp]
          val jobs0 = if (countJobs) snap()("jobs") else 0.0
          val t = runOp(spark, data, op, id)
          if (countJobs) rowJobs += snap()("jobs") - jobs0
          attempted += 1
          t.error.foreach { e => failed += 1; errors += Map("op" -> op.name, "error" -> e) }
          op.name -> t
        }.toMap
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val layers = delta(before, snap()) + ("row_jobs" -> rowJobs)
      traceOn(false)
      sampleHeap()
      Pass(wall, ts, layers, tracedPass)
    }

    val start = System.nanoTime()
    val cold = pass("cold", traced)
    // The traced run alternates traced and untraced warm passes, so the
    // tracing overhead is measured inside one JVM.
    val warmPasses = (0 until (if (traced) math.max(warmCount, 4) else warmCount))
      .map(i => pass(s"warm$i", traced && i % 2 == 0))
    val measuredS = (System.nanoTime() - start) / 1e9

    // ---- traced extras: pivot cost and kernel microbench ----------------
    val extra = Map.newBuilder[String, Any]
    if (traced) {
      // getRows time minus a noop drain of the same projection. A workload
      // without row streams measures one stream of every column, so the
      // layer it should leave flat is still read.
      val streams = ops.collect { case r: RowsOp => r }
      val measured = if (streams.nonEmpty) streams else Seq(RowsOp("rows", RowColumns))
      extra += "sources.pivot_s" -> measured.map { r =>
        val drain = median((1 to 3).map { _ =>
          val t0 = System.nanoTime()
          spark.read.parquet(s"$data/rows").select(r.cols.map(col): _*)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        })
        val stream =
          if (streams.nonEmpty) median(warmPasses.map(_.timings(r.name).totalNs / 1e9))
          else median((1 to 2).map(_ => runOp(spark, data, r, 0).totalNs / 1e9))
        stream - drain
      }.sum
      extra ++= span("kernels", 0)(_ => Kernels.run(spark, data))
    }

    // ---- untimed check pass: every output to parquet --------------------
    val outputs = Seq.newBuilder[Map[String, Any]]
    val rowSums = Seq.newBuilder[Map[String, Any]]
    span("check", 0)(_ => ops.foreach {
      case QueryOp(q) =>
        attempted += 1
        try {
          q.run(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$out/check/${q.name}")
          outputs += Map("name" -> q.name, "oracle" -> q.oracle)
        } catch {
          case e: Throwable =>
            failed += 1
            errors += Map("op" -> q.name, "error" -> s"check: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      case r: RowsOp =>
        attempted += 1
        try rowSums += rowChecksum(spark, data, r, 250000L)
        catch {
          case e: Throwable =>
            failed += 1
            errors += Map("op" -> r.name, "error" -> s"check: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
    })
    sampleHeap()

    val coldOpS = cold.timings.map { case (k, t) => k -> t.totalNs / 1e9 }
    val warmOpS = ops.map(_.name).map { n =>
      n -> median(warmPasses.map(_.timings(n).totalNs / 1e9))
    }.toMap
    val untracedWarm = warmPasses.filterNot(_.traced)
    val result = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced, "cores" -> cores,
      "measured_s" -> measuredS,
      "setup_s" -> setupS.result(), "session_s" -> sessionS.result(), "tables_s" -> tablesS.result(),
      "cold_s" -> cold.wall,
      "warm_s" -> untracedWarm.map(_.wall),
      "warm_cpu_s" -> untracedWarm.map(_.layers("cpu_ns") / 1e9),
      "warm_jit_s" -> untracedWarm.map(_.layers("jit_ms") / 1e3),
      "warm_compiles" -> untracedWarm.map(_.layers("compiles")),
      "warm_op_ms" -> ops.map(o => untracedWarm.map(_.timings(o.name).totalNs / 1e6).sum /
        untracedWarm.size),
      "warm_stream_rows" -> untracedWarm.map(_.timings.values.map(_.rows).sum),
      "heap_peak_mb" -> heapPeakMb,
      "jvm" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version,
      "ops" -> ops.map(o => Map(
        "name" -> o.name, "cold_s" -> coldOpS(o.name), "warm_s" -> warmOpS(o.name),
        "construct_s" -> cold.timings(o.name).constructNs / 1e9,
        "compile_s" -> cold.timings(o.name).compileNs / 1e9)),
      "cold_layers" -> cold.layers,
      "warm_layers" -> {
        val tw = warmPasses.filter(_.traced)
        if (tw.isEmpty) Map.empty[String, Double]
        else tw.head.layers.keys.map(k => k -> median(tw.map(_.layers(k)))).toMap
      },
      "warm_traced_wall_s" -> median(warmPasses.filter(_.traced).map(_.wall)),
      "extra" -> extra.result(),
      "outputs" -> outputs.result(), "row_sums" -> rowSums.result(),
      "spans" -> (if (!traced) Nil else {
        val origin = spans.map(_.startNs).min
        spans.sortBy(_.id).map(s => Seq(s.id, s.parent, s.name,
          (s.startNs - origin) / 1e6, (s.endNs - origin) / 1e6))
      }),
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.result())
    spark.stop()
    Files.write(Paths.get(s"$out/result.json"), json(result).getBytes(StandardCharsets.UTF_8))
  }
}

/** Kernel microbench: each codegen kernel, built through its public Column
  * constructor, is compiled into an UnsafeProjection over the collected rows
  * of a `documents` / `embeddings` projection and timed with `nanoTime`.
  * Kernel and baseline (the same projection without the kernel) alternate;
  * the difference of their medians is the kernel's cost per row. */
object Kernels {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
  import org.apache.spark.sql.catalyst.plans.logical.Project
  import PerfBench.median

  def nsPerRow(input: DataFrame, kernel: Column, base: Column): Double = {
    val rows: Array[InternalRow] = input.queryExecution.toRdd.map(_.copy()).collect()
    def projection(c: Column): UnsafeProjection =
      input.select(c).queryExecution.analyzed match {
        case Project(list, child) => UnsafeProjection.create(list, child.output)
        case other => sys.error(s"unexpected plan ${other.nodeName}")
      }
    val (k, b) = (projection(kernel), projection(base))
    var sink = 0L
    // ns per row over a round of at least 40 ms
    def round(p: UnsafeProjection): Double = {
      val t0 = System.nanoTime()
      var n = 0L
      while (System.nanoTime() - t0 < 40000000L) {
        var i = 0
        while (i < rows.length) { sink += p(rows(i)).getSizeInBytes; i += 1 }
        n += rows.length
      }
      (System.nanoTime() - t0).toDouble / n
    }
    (1 to 3).foreach { _ => round(k); round(b) }
    val (tk, tb) = (1 to 7).map(_ => (round(k), round(b))).unzip
    require(sink > 0)
    median(tk) - median(tb)
  }

  def run(spark: SparkSession, data: String): Map[String, Any] = {
    import graft.functions._
    val t = Tables.forPath(spark, data)
    val rnd = new Random(7)
    val dim = 64
    val emb = t.embeddings.select("vec_id", "embedding")
    val query = Seq.fill(dim)(rnd.nextGaussian().toFloat)
    val cents = IndexedSeq.fill(16 * dim)(rnd.nextGaussian())
    val (m, k, subDim) = (8, 16, 8)
    val books = IndexedSeq.fill(m * k * subDim)(rnd.nextGaussian() * 0.1)
    val codes = t.embeddings.select(PqCodec.encode(col("embedding"), books, m, k, subDim).as("codes"))
    val lut = t.embeddings.limit(1).select(PqCodec.lut(col("embedding"), books, m, k, subDim))
      .head().getSeq[scala.collection.Seq[Double]](0).map(_.toSeq).toSeq
    // Packed buckets for the Hamming-cosine scan: one bucket per label,
    // 4-word signatures from seeded hashes, against 40 query vectors.
    val words = 4
    val sig = (1 to words).map(w => xxhash64(col("vec_id"), lit(w)))
    val packed = t.embeddings.select(col("label"), col("vec_id"), array(sig: _*).as("sig"),
        col("embedding"))
      .groupBy("label").agg(sort_array(collect_list(struct(col("vec_id"), col("sig"),
        col("embedding")))).as("e"))
      .select(col("e.vec_id").as("ids"), flatten(col("e.sig")).as("sigs"),
        flatten(col("e.embedding")).as("embs"))
    val queries = t.embeddings.filter(col("vec_id") < 40)
      .select(array(sig: _*).as("qsig"), col("embedding").as("qemb"))
    val toks = split(col("text"), " ")
    Map(
      "functions.shingle_join.ns_per_row" ->
        nsPerRow(t.documents.select("text"), size(ShingleJoin(toks, 5)), size(toks)),
      "functions.cosine_similarity.ns_per_row" -> nsPerRow(emb,
        CosineSimilarity(col("embedding"), typedLit(query)), size(col("embedding"))),
      "functions.nearest_centroids.ns_per_row" -> nsPerRow(emb,
        element_at(NearestCentroids(col("embedding"), cents, dim, 2), 1), size(col("embedding"))),
      "functions.pq_adc.ns_per_row" -> nsPerRow(codes,
        PqCodec.adc(typedLit(lut), col("codes")), size(col("codes"))),
      "functions.hamming_cosine_top1.ns_per_row" -> nsPerRow(packed.crossJoin(queries),
        coalesce(HammingCosineTop1(col("ids"), col("sigs"), col("embs"), col("qsig"),
          col("qemb"), words, 128, dim).getField("cos"), lit(0.0)),
        size(col("ids")) + size(col("qsig"))))
  }
}
