package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import graft.SharedSparkSpec
import graft.sources.ParquetRowReader.ScanTuning
import org.apache.spark.{ListenerBusDrain, SparkException}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, desc, udf}
import org.apache.spark.sql.util.QueryExecutionListener

/** The memory contract of `getRows` (the reference's bounded generator with
  * `batch_readahead`): one job per partition, at most `1 + readahead` of
  * them started ahead of the partitions consumed, partitions yielded in
  * order, and a failed partition raised where it is reached with no job
  * left running. A listener counts the jobs. */
class RowStreamContractSpec extends SharedSparkSpec {

  private def sc = spark.sparkContext

  /** Jobs started and ended on the shared context while it listens, and
    * the most that ran at once. A job that started before it listened is
    * not counted when it ends. */
  private final class Jobs extends SparkListener {
    private val running = ConcurrentHashMap.newKeySet[Int]()
    val started, ended, maxRunning = new AtomicInteger
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      running.add(e.jobId)
      started.incrementAndGet()
      maxRunning.accumulateAndGet(running.size, (a, b) => math.max(a, b))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (running.remove(e.jobId)) ended.incrementAndGet()
    /** Started jobs, once every event posted so far is delivered. */
    def seen: Int = { ListenerBusDrain(sc); started.get }
  }

  private def watching[A](body: Jobs => A): A = {
    val jobs = new Jobs
    ListenerBusDrain(sc)
    sc.addSparkListener(jobs)
    try body(jobs) finally sc.removeSparkListener(jobs)
  }

  /** One parquet dir per entry of `sizes`, of consecutive ids; returns the
    * dirs. A larger file comes first in the scan's partitions. */
  private def writeFiles(sizes: Seq[Int]): Seq[String] = {
    val dir = tmpDir("rowstream")
    val starts = sizes.scanLeft(0L)(_ + _)
    sizes.indices.map { i =>
      val path = s"$dir/f$i"
      spark.range(starts(i), starts(i) + sizes(i))
        .selectExpr("id", "CAST(id * 7 % 1000 AS INT) AS v", "CAST(id AS STRING) AS s")
        .coalesce(1).write.mode("overwrite").parquet(path)
      path
    }
  }

  /** A scan of one partition per (small) file: a file's open cost fills a
    * whole split. */
  private def onePerFile(readahead: Int) =
    ScanTuning(maxPartitionBytes = "64m", openCostInBytes = Some("64m"), readahead = readahead)

  private val Rows = 50
  private lazy val twelve = writeFiles(Seq.fill(12)(Rows))

  /** Rows, then per column: non-null count and a sum (strings by length). */
  private def checksum(rows: Iterator[Map[String, Any]]): (Long, Seq[(Long, Long)]) = {
    val cols = Seq("id", "v", "s")
    var n = 0L
    val sums = Array.fill(cols.size)((0L, 0L))
    rows.foreach { m =>
      n += 1
      cols.indices.foreach { i =>
        val x = m(cols(i)) match {
          case null => None
          case s: String => Some(s.length.toLong)
          case v: java.lang.Number => Some(v.longValue)
        }
        x.foreach(x => sums(i) = (sums(i)._1 + 1, sums(i)._2 + x))
      }
    }
    (n, sums.toSeq)
  }

  for (readahead <- Seq(0, 1, 2)) {
    test(s"readahead $readahead: a pausing consumer never has more than ${1 + readahead} jobs started ahead") {
      val reader = ParquetRowReader.tuned(spark, onePerFile(readahead), twelve: _*)
      val (rows, jobs) = watching { jobs =>
        val it = reader.getRows(Seq("id"))
        var consumed = 0
        while (it.hasNext) {
          it.next()
          consumed += 1
          val partitionsDone = (consumed - 1) / Rows  // the row read is in the next one
          if (consumed % Rows == 1) {
            // The consumer pauses at each partition's first row: every job
            // the stream has started by now has had time to show.
            Thread.sleep(40)
            assert(jobs.seen - partitionsDone == math.min(1 + readahead, 12 - partitionsDone),
              s"at partition $partitionsDone")
          }
          assert(jobs.seen - partitionsDone <= 1 + readahead, s"at row $consumed")
        }
        (consumed, jobs)
      }
      assert(rows == 12 * Rows)
      assert(jobs.seen == 12, "one job per partition")
      assert(jobs.maxRunning.get <= 1 + readahead)
      if (readahead == 0) assert(jobs.maxRunning.get == 1, "readahead 0 runs one job at a time")
    }
  }

  test("halving maxPartitionBytes about doubles the partitions; rows and checksums stay equal") {
    val path = tmpDir("rowstream_split")
    spark.range(0, 200000)
      .selectExpr("id", "CAST(id * 7 % 1000 AS INT) AS v",
        "IF(id % 11 = 0, NULL, CAST(id AS STRING)) AS s")
      .coalesce(1).write.option("parquet.block.size", 64 * 1024).mode("overwrite").parquet(path)
    def run(maxPartitionBytes: String) = watching { jobs =>
      val reader = ParquetRowReader.tuned(spark, ScanTuning(maxPartitionBytes = maxPartitionBytes), path)
      val it = reader.getRows(Seq("id", "v", "s"))
      val planned = jobs.seen
      (checksum(it), jobs.seen - planned)
    }
    val (wide, widePartitions) = run("256k")
    val (narrow, narrowPartitions) = run("128k")
    assert(widePartitions >= 4, s"$widePartitions partitions at 256k")
    assert(math.abs(narrowPartitions - 2 * widePartitions) <= 1,
      s"$widePartitions partitions at 256k, $narrowPartitions at 128k")
    assert(narrow == wide)
    val want = spark.read.parquet(path).selectExpr(
      "count(*)", "count(id)", "sum(id)", "count(v)", "sum(v)", "count(s)", "sum(length(s))").head()
    assert(wide == (want.getLong(0), Seq(
      (want.getLong(1), want.getLong(2)), (want.getLong(3), want.getLong(4)),
      (want.getLong(5), want.getLong(6)))))
  }

  test("an orderBy plan over at least 8 partitions streams in global order at readahead 2") {
    val session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", "12")
    session.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val sorted = session.read.parquet(twelve: _*)
      .withColumn("k", (col("id") * 7919) % 601).orderBy(desc("k"), col("id"))
    val (keys, partitions) = watching { jobs =>
      val it = ParquetRowReader.fromDataFrame(sorted, readahead = 2).getRows(Seq("k", "id"))
      val planned = jobs.seen
      (it.map(m => (m("k").asInstanceOf[Long], m("id").asInstanceOf[Long])).toVector,
        jobs.seen - planned)
    }
    assert(partitions >= 8, s"$partitions partitions")
    assert(keys.size == 12 * Rows)
    assert(keys == keys.sortBy { case (k, id) => (-k, id) })
  }

  test("a 0-partition stream yields nothing and starts no job") {
    val empty = spark.read.parquet(twelve: _*).where("false")
    assert(empty.queryExecution.executedPlan.execute().getNumPartitions == 0)
    val started = watching { jobs =>
      assert(ParquetRowReader.fromDataFrame(empty).getRows().isEmpty)
      jobs.seen
    }
    assert(started == 0)
  }

  test("partitions emptied by a filter in the middle of the stream: exactly the remaining rows") {
    // Decreasing sizes, so the scan's partitions follow the files' order.
    val sizes = (0 until 12).map(i => 40 * (12 - i))
    val paths = writeFiles(sizes)
    val bounds = sizes.scanLeft(0L)(_ + _)
    val filtered = ParquetRowReader.tuned(spark, onePerFile(1), paths: _*).df
      .where(col("id") < bounds(2) || col("id") >= bounds(10))
    val perPartition = filtered.rdd.mapPartitions(it => Iterator(it.size)).collect().toSeq
    assert(perPartition.size == 12 && perPartition.head > 0 && perPartition.last > 0 &&
      perPartition.slice(2, 10).forall(_ == 0), perPartition)
    val want = filtered.collect().toVector.map(r => Map("id" -> r(0), "v" -> r(1), "s" -> r(2)))
    for (readahead <- Seq(0, 1, 3)) {
      val (got, started) = watching { jobs =>
        (ParquetRowReader.fromDataFrame(filtered, readahead).getRows().toVector, jobs.seen)
      }
      assert(got == want, s"readahead $readahead")
      assert(started == 12)
    }
  }

  test("take(1) on a 12-partition stream starts at most 1 + readahead jobs") {
    for (readahead <- Seq(0, 1, 3)) {
      val reader = ParquetRowReader.tuned(spark, onePerFile(readahead), twelve: _*)
      val started = watching { jobs =>
        assert(reader.getRows(Seq("id", "s")).take(1).size == 1)
        Thread.sleep(100)  // a job started after take(1) returned would show by now
        jobs.seen
      }
      assert(started >= 1 && started <= 1 + readahead, s"readahead $readahead: $started jobs")
    }
  }

  test("a corrupt file raises at its partition, cancels the jobs read ahead and leaves none running") {
    // Partitions in size order: f0 (400 rows), f1 (300), the corrupt file,
    // f2 (200), f3 (100). f2 and f3 each stall 3 s on one row.
    val paths = writeFiles(Seq(400, 300, 200, 100))
    def fileLength(dir: String) = Files.list(Paths.get(dir)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).head
    val bad = tmpDir("rowstream_corrupt")
    val rng = new scala.util.Random(7)
    Files.write(Paths.get(s"$bad/part-00000-corrupt.parquet"),
      Array.fill(((fileLength(paths(1)) + fileLength(paths(2))) / 2).toInt)(rng.nextInt(256).toByte))
    val stallIds = Set(700L, 900L)
    val stall = udf { (id: Long) => if (stallIds(id)) Thread.sleep(3000); true }
    val reader = ParquetRowReader.tuned(spark, onePerFile(2),
      paths(0), paths(1), bad, paths(2), paths(3))
    val df: DataFrame = reader.df.where(stall(col("id")))
    watching { jobs =>
      val it = ParquetRowReader.fromDataFrame(df, readahead = 2).getRows(Seq("id"))
      val t0 = System.nanoTime()
      var consumed = 0
      val e = intercept[SparkException] {
        while (it.hasNext) { it.next(); consumed += 1 }
      }
      val secs = (System.nanoTime() - t0) / 1e9
      assert(consumed == 700, s"raised after $consumed rows: ${e.getMessage}")
      assert(secs < 2.5, s"raised after $secs s: it waited for the stalled jobs")
      // The cancelled jobs' ends are posted right after their waiters fail.
      var polls = 0
      while (jobs.seen != jobs.ended.get && polls < 20) { Thread.sleep(25); polls += 1 }
      assert(jobs.started.get == 5, "partitions 0-2 and the two read ahead")
      assert(jobs.ended.get == jobs.started.get, "a job still runs after the exception")
      assert(!it.hasNext)
    }
  }

  test("dates and timestamps follow the reader's session datetime-Java8 setting, tuned sessions too") {
    val dir = tmpDir("rowstream_java8")
    spark.sql(
      """SELECT id, date_add(DATE '2024-01-01', CAST(id AS INT)) AS d,
        |  TIMESTAMP '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts,
        |  array(date_add(DATE '2024-01-01', CAST(id AS INT))) AS ds
        |FROM range(5)""".stripMargin).write.mode("overwrite").parquet(dir)
    def rowsOf(reader: ParquetRowReader) = {
      val got = reader.getRows(Seq("d", "ts", "ds")).toVector.sortBy(_("d").toString)
      val want = reader.df.select("d", "ts", "ds").collect().toVector
        .map(r => Map("d" -> r(0), "ts" -> r(1), "ds" -> r.getSeq[Any](2).toList))
        .sortBy(_("d").toString)
      assert(got == want)
      got.head
    }
    val java8 = spark.newSession()
    java8.conf.set("spark.sql.datetime.java8API.enabled", "true")
    val r8 = rowsOf(ParquetRowReader.fromPath(java8, dir))
    assert(r8("d").isInstanceOf[java.time.LocalDate] && r8("ts").isInstanceOf[java.time.Instant])
    assert(r8("ds") == List(java.time.LocalDate.of(2024, 1, 1)))
    val tuned = ParquetRowReader.tuned(java8, ScanTuning(), dir)
    tuned.df.sparkSession.conf.set("spark.sql.datetime.java8API.enabled", "true")
    assert(rowsOf(tuned)("d").isInstanceOf[java.time.LocalDate])
    val legacy = rowsOf(ParquetRowReader.fromPath(spark, dir))
    assert(legacy("d").isInstanceOf[java.sql.Date] && legacy("ts").isInstanceOf[java.sql.Timestamp])
  }

  test("each stream is one query execution for QueryExecutionListeners") {
    val seen = new ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(funcName)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(funcName)
    }
    val reader = ParquetRowReader.tuned(spark, onePerFile(1), twelve: _*)
    val session = reader.df.sparkSession
    ListenerBusDrain(sc)
    session.listenerManager.register(listener)
    try {
      assert(reader.getRows(Seq("id")).size == 12 * Rows)
      assert(reader.getRows().size == 12 * Rows)
      reader.foreachRows(Seq("v"))(_ => ())
      ListenerBusDrain(sc)
      assert(seen.toArray.toSeq == Seq("getRows", "getRows", "foreachRows"))
    } finally session.listenerManager.unregister(listener)
  }

  test("a negative readahead is refused") {
    intercept[IllegalArgumentException](
      ParquetRowReader.tuned(spark, ScanTuning(readahead = -1), twelve.head))
  }
}
