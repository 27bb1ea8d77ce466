package graft.streaming

import graft.{EngineQuery, Tables, dsl}
import graft.dsl._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Event-stream operators (SURVEY.md §2 group H, q21). The oracle-checked
  * query is the batch-equivalent tumbling-window aggregation; `tumblingStream`
  * is the Structured Streaming twin over the same files (file source +
  * watermark + append mode), asserted equal to the batch result in ScalaTest
  * (SURVEY.md §5.2.4). The watermark (2h) exceeds the data's max disorder, so
  * nothing is dropped in the equivalence test (SURVEY.md §7.5.5).
  */
object StreamingQueries {

  /** Tumbling 1-hour window × event_type. Spark's window() aligns to the
    * epoch origin, identical to date_trunc('hour'). */
  val q21 = EngineQuery(
    "q21_stream_tumbling",
    Some("""SELECT epoch_us(date_trunc('hour', ts))//1000000 AS ws, event_type,
           |       CAST(count(*) AS BIGINT) AS cnt, round(sum(value), 4) AS sum_v
           |FROM events GROUP BY 1, 2 ORDER BY ALL""".stripMargin)) { t =>
    orderedByAll(aggShape(t.events))
  }

  private def aggShape(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round4(sum(col("value"))).as("sum_v"))
      .select(epochSec(col("w.start")).as("ws"), col("event_type"), col("cnt"), col("sum_v"))

  /** Structured Streaming twin of q21: same aggregation over a file source.
    * Run with Trigger.AvailableNow into a sink, then compare to the batch
    * result. Event-time watermark bounds state for a continuous run. */
  def tumblingStream(spark: SparkSession, sfDir: String): DataFrame = {
    // File-source schema must match the raw file (ts = nanos-as-long);
    // the micros lowering is applied on the stream, same as the batch path.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/events.parquet").schema
    // The file source streams a DIRECTORY (in production: the landing dir
    // files arrive into); the testdata events table is a single file, so
    // stage it into one.
    val streamDir = java.nio.file.Files.createTempDirectory("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val stream = Tables.normalizeTs(
      spark.readStream.schema(raw).parquet(streamDir.toString), "ts")
      .withWatermark("ts", "2 hours")
    aggShape(stream)
  }

  /** The custom-state sessionizer's per-session output, under the DuckDB
    * oracle gate: flatMapGroupsWithState (batch mode) must reproduce the
    * gaps-and-islands SQL exactly. */
  val q46 = EngineQuery(
    "q46_sessionize_stateful",
    Some("""WITH x AS (
           |  SELECT user_id, event_id, ts,
           |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
           |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           |              >= INTERVAL 30 MINUTE
           |         THEN 1 ELSE 0 END AS ns
           |  FROM events),
           |y AS (
           |  SELECT user_id, ts,
           |    sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |                  ROWS UNBOUNDED PRECEDING) AS sid
           |  FROM x),
           |s AS (SELECT user_id, sid, count(*) AS n, min(ts) AS mn, max(ts) AS mx
           |      FROM y GROUP BY user_id, sid)
           |SELECT user_id,
           |  CAST(epoch_us(mn)//1000000 AS BIGINT) AS start_sec,
           |  CAST(epoch_us(mx)//1000000 AS BIGINT) AS end_sec,
           |  CAST(n AS BIGINT) AS n_events
           |FROM s ORDER BY ALL""".stripMargin)) { t =>
    // secondary-sort formulation: O(1) per-key state, no per-user
    // materialization (hot-key safe); asserted equal to the
    // flatMapGroupsWithState path in StatefulSessionizerSpec
    orderedByAll(StatefulSessionizer.sessionizeBatchSorted(t.events, 30).toDF())
  }

  /** Interval join: each purchase paired with the same user's views in the
    * preceding hour. Batch form is the DuckDB-oracled contract; the
    * Structured Streaming twin ([[intervalJoinStream]]) runs the same join
    * stream-stream and is equivalence-tested. Scale design: an equi-join on
    * user_id with a time-range residual — one shuffle per side on the join
    * key; in streaming, the watermark + both-sided time bound let Spark
    * evict join state older than watermark − 1h, so state is bounded by the
    * per-hour event volume, which is what makes the join run forever.
    */
  val q52 = EngineQuery(
    "q52_interval_join",
    Some("""SELECT p.user_id, p.event_id AS p_id, v.event_id AS v_id
           |FROM events p JOIN events v ON p.user_id = v.user_id
           |WHERE p.event_type = 'purchase' AND v.event_type = 'view'
           |  AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
           |ORDER BY ALL""".stripMargin)) { t =>
    orderedByAll(intervalJoinShape(t.events))
  }

  private def intervalJoinShape(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
    val v = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("v_id"), col("ts").as("v_ts"))
    p.join(v,
        col("user_id") === col("v_user") &&
          col("v_ts") >= col("p_ts") - expr("interval 1 hour") &&
          col("v_ts") <= col("p_ts"))
      .select(col("user_id"), col("p_id"), col("v_id"))
  }

  /** Stream-stream twin of q52 over a staged file source: both sides
    * watermarked, inner join with a two-sided event-time bound — the shape
    * whose join state Spark can evict by watermark. */
  def intervalJoinStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/events.parquet").schema
    val streamDir = java.nio.file.Files.createTempDirectory("graft_sjoin")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"))
    def side = Tables.normalizeTs(
      spark.readStream.schema(raw).parquet(streamDir.toString), "ts")
    val p = side.filter(col("event_type") === "purchase")
      .withWatermark("ts", "2 hours")
      .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
    val v = side.filter(col("event_type") === "view")
      .withWatermark("ts", "2 hours")
      .select(col("user_id").as("v_user"), col("event_id").as("v_id"), col("ts").as("v_ts"))
    p.join(v,
        col("user_id") === col("v_user") &&
          col("v_ts") >= col("p_ts") - expr("interval 1 hour") &&
          col("v_ts") <= col("p_ts"))
      .select(col("user_id"), col("p_id"), col("v_id"))
  }

  /** Sliding 1-hour window, 30-minute slide: each event lands in exactly two
    * overlapping windows. Spark's window(ts, "1 hour", "30 minutes") aligns
    * slides to the epoch origin; the oracle derives the same two window
    * starts per event (its 30-min bucket and the one before). Same
    * streaming story as q21 — [[slidingStream]] is the watermarked twin. */
  val q73 = EngineQuery(
    "q73_stream_sliding",
    Some("""WITH w AS (SELECT epoch_us(time_bucket(INTERVAL '30 minutes', ts))//1000000 AS b,
           |                  event_type, value
           |           FROM events),
           |e AS (SELECT b AS ws, event_type, value FROM w
           |      UNION ALL
           |      SELECT b - 1800 AS ws, event_type, value FROM w)
           |SELECT ws, event_type, CAST(count(*) AS BIGINT) AS cnt, round(sum(value), 4) AS sum_v
           |FROM e GROUP BY 1, 2 ORDER BY ALL""".stripMargin)) { t =>
    orderedByAll(slidingShape(t.events))
  }

  private def slidingShape(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round4(sum(col("value"))).as("sum_v"))
      .select(epochSec(col("w.start")).as("ws"), col("event_type"), col("cnt"), col("sum_v"))

  /** Structured Streaming twin of q73 (file source, availableNow, watermark
    * bounding the overlapping-window state). */
  def slidingStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/events.parquet").schema
    val streamDir = java.nio.file.Files.createTempDirectory("graft_slide")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val stream = Tables.normalizeTs(
      spark.readStream.schema(raw).parquet(streamDir.toString), "ts")
      .withWatermark("ts", "2 hours")
    slidingShape(stream)
  }

  /** Replay-safe dedup, batch contract: a re-delivered subset (every 10th
    * event) unioned back in must vanish under dropDuplicates on the event
    * key — so the oracle is simply the original stream's per-type counts.
    * The duplicate rows are bit-identical, so the arbitrary-survivor
    * semantics of dropDuplicates cannot leak nondeterminism. The streaming
    * side of the same contract is dropDuplicatesWithinWatermark
    * (StreamingEquivalenceSpec: two overlapping file batches, each event
    * exactly once downstream, state bounded by the watermark). */
  val q74 = EngineQuery(
    "q74_dedup_replay",
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
           |FROM events GROUP BY 1 ORDER BY ALL""".stripMargin)) { t =>
    val ev = t.events.select(col("event_id"), col("event_type"))
    val replayed = ev.unionByName(ev.filter(pmod(col("event_id"), lit(10)) === 0))
    orderedByAll(
      replayed.dropDuplicates("event_id")
        .groupBy("event_type").agg(count(lit(1)).as("cnt")))
  }

  /** Stream-static enrichment join: the event stream joins a static
    * dimension (customer) that Spark re-resolves per micro-batch — the
    * canonical "enrich the firehose with a slowly-refreshed dim" shape. The
    * dim is broadcast (never shuffles the stream); the post-join agg is the
    * batch contract, the streaming twin runs the same join + agg in
    * complete mode. */
  val q80 = EngineQuery(
    "q80_stream_static_join",
    Some("""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS cnt,
           |       round(sum(value), 4) AS sum_v
           |FROM events JOIN customer ON user_id = c_custkey
           |GROUP BY 1 ORDER BY ALL""".stripMargin)) { t =>
    orderedByAll(streamStaticShape(t.events, t.customer))
  }

  private def streamStaticShape(events: DataFrame, customer: DataFrame): DataFrame =
    events
      .join(broadcast(customer.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"), round4(sum(col("value"))).as("sum_v"))

  /** Streaming twin of q80: stream side from files, static side a plain
    * DataFrame — exactly how Spark executes stream-static joins (static
    * side re-read per micro-batch). */
  def streamStaticStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/events.parquet").schema
    val streamDir = java.nio.file.Files.createTempDirectory("graft_sstatic")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val stream = Tables.normalizeTs(
      spark.readStream.schema(raw).parquet(streamDir.toString), "ts")
    val customer = spark.read.parquet(s"$sfDir/customer.parquet")
    streamStaticShape(stream, customer)
  }

  /** Streaming twin of q90's incremental ingest dedup — the most
    * stream-shaped batch query in the suite run as an actual stream: the
    * standing corpus arrives as micro-batch 1 (building digest state), the
    * ingest batch as micro-batch 2, and `dropDuplicatesWithinWatermark` on
    * the content digest admits exactly the docs whose digest is unseen —
    * across micro-batches AND within the ingest batch, in one operator.
    * This is q90's plan run forever: state is the digest index (32 B/doc,
    * never text), bounded by the watermark horizon instead of growing with
    * the corpus — the knob a production ingest turns (admit-once within N
    * days) when an unbounded exact index stops fitting. Equivalence to the
    * oracled batch admit-set is asserted in StreamingEquivalenceSpec
    * (digest-set equality — survivor identity within an ingest dup group
    * is arbitrary in a stream, exactly as in q74's replay contract).
    */
  def incrementalDedupStream(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))
    // Stage corpus-then-batch as two files: the file source (one file per
    // trigger) replays them as ordered micro-batches, the corpus building
    // digest state before the ingest batch streams through it.
    val dir = java.nio.file.Files.createTempDirectory("graft_incdedup")
    docs.filter(col("doc_id") % 10 =!= 0).coalesce(1).write.parquet(s"$dir/b1_corpus")
    docs.filter(col("doc_id") % 10 === 0).coalesce(1).write.parquet(s"$dir/b2_ingest")
    val schema = spark.read.parquet(s"$dir/b1_corpus").schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
      .select(col("doc_id"), col("lang"),
        unhex(sha2(lower(trim(col("text"))), 256)).as("key"),
        // synthetic event time (docs carry none): any monotone stand-in
        // works — the wide watermark keeps every digest live for the test.
        // Offset past epoch 0: Spark's initial watermark is 0, and a row
        // whose event time EQUALS the watermark is dropped as late (bit us
        // for doc_id 0).
        timestamp_seconds(col("doc_id") + 1000000L).as("ts"))
      .withWatermark("ts", "3650 days")
      .dropDuplicatesWithinWatermark("key")
      .filter(col("doc_id") % 10 === 0) // admitted INGEST docs only
      .select(col("doc_id"), col("lang"), hex(col("key")).as("key"))
  }

  /** q52's OUTER sibling: every purchase appears exactly once per preceding
    * view (or once with v_id = -1 when none) — the "did anything lead to
    * this conversion, including nothing" question an attribution pipeline
    * asks. Null-extended to -1 on BOTH engines (outputs stay null-free per
    * SURVEY §7.4). [[intervalLeftJoinStream]] is the watermarked
    * stream-stream LEFT OUTER twin — the shape where the watermark is not
    * an optimization but the SEMANTICS: a purchase can only be declared
    * view-less once the view-side watermark has passed its window, so
    * unmatched results trail the data by the watermark delay (asserted
    * region-by-region in StreamingEquivalenceSpec). */
  val q124 = EngineQuery(
    "q124_interval_left_join",
    Some("""SELECT p.user_id, p.event_id AS p_id,
           |       coalesce(v.event_id, -1) AS v_id
           |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           |LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
           |  ON p.user_id = v.user_id
           |  AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
           |ORDER BY ALL""".stripMargin)) { t =>
    orderedByAll(intervalLeftJoinShape(t.events))
  }

  private def intervalLeftJoinShape(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
    val v = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("v_id"), col("ts").as("v_ts"))
    p.join(v,
        col("user_id") === col("v_user") &&
          col("v_ts") >= col("p_ts") - expr("interval 1 hour") &&
          col("v_ts") <= col("p_ts"),
        "left_outer")
      .select(col("user_id"), col("p_id"), coalesce(col("v_id"), lit(-1L)).as("v_id"))
  }

  /** Stream-stream LEFT OUTER twin of q124: both sides watermarked, the
    * two-sided event-time bound makes join state evictable, and — unlike
    * the inner q52 — the null-extended rows are emitted only when the
    * watermark proves no matching view can still arrive. Purchases inside
    * the final watermark horizon therefore stay unreported in a bounded
    * replay (the correct streaming answer, asserted as such in the spec).
    */
  def intervalLeftJoinStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/events.parquet").schema
    val streamDir = java.nio.file.Files.createTempDirectory("graft_sljoin")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"))
    def side = Tables.normalizeTs(
      spark.readStream.schema(raw).parquet(streamDir.toString), "ts")
    val p = side.filter(col("event_type") === "purchase")
      .withWatermark("ts", "2 hours")
      .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
    val v = side.filter(col("event_type") === "view")
      .withWatermark("ts", "2 hours")
      .select(col("user_id").as("v_user"), col("event_id").as("v_id"), col("ts").as("v_ts"))
    p.join(v,
        col("user_id") === col("v_user") &&
          col("v_ts") >= col("p_ts") - expr("interval 1 hour") &&
          col("v_ts") <= col("p_ts"),
        "leftOuter")
      .select(col("user_id"), col("p_id"),
        coalesce(col("v_id"), lit(-1L)).as("v_id"), col("p_ts"))
  }

  /** q59's ordered funnel maintained as RUNNING per-user state on Spark
    * 4's arbitrary-state v2 surface ([[StatefulFunnel]] —
    * `transformWithState`, ValueState + TTL): the same StatefulProcessor
    * runs here in BATCH mode (one handleInputRows per user over the whole
    * corpus, so the update is its exact set-algebra form) and is oracled
    * against q59's three-join SQL; StreamingFunnelSpec replays the corpus
    * through the STREAMING twin on the RocksDB store and asserts the same
    * three conversion counts. State per user is three timestamps — the
    * funnel a 100 TB clickstream keeps per user instead of re-joining its
    * history per refresh. */
  val q141 = EngineQuery(
    "q141_stream_funnel",
    Some("""WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
           |            WHERE event_type = 'signup' GROUP BY 1),
           |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
           |       JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.t1
           |       WHERE e.event_type = 'click' GROUP BY 1),
           |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
           |       JOIN s2 ON e.user_id = s2.user_id AND e.ts >= s2.t2
           |       WHERE e.event_type = 'purchase' GROUP BY 1)
           |SELECT CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_signup,
           |       CAST((SELECT count(*) FROM s2) AS BIGINT) AS n_click_after,
           |       CAST((SELECT count(*) FROM s3) AS BIGINT) AS n_purchase_after""".stripMargin)) { t =>
    // Batch transformWithState still loads its transient stores through the
    // StateStoreCoordinator, whose RPC endpoint the StreamingQueryManager
    // registers lazily — touch it so a batch-only session (Verify) has one.
    t.spark.streams.active
    StatefulFunnel.funnelStream(t.events, java.time.Duration.ofDays(30)).toDF()
      .agg(
        sum(when(col("stage") >= 1, 1L).otherwise(0L)).as("n_signup"),
        sum(when(col("stage") >= 2, 1L).otherwise(0L)).as("n_click_after"),
        sum(when(col("stage") >= 3, 1L).otherwise(0L)).as("n_purchase_after"))
  }

  /** Streaming twin of q141 over a staged file source — the processor on
    * its production surface (RocksDB-backed state, Update mode). The
    * caller's session must set the RocksDB state-store provider.
    *
    * No-data micro-batches are off for the session: a processing-time
    * `transformWithState` operator asks for another batch after every
    * batch, so with them on a `Trigger.AvailableNow` run never ends — it
    * keeps running empty batches after the last file. TTL semantics hold
    * without them: an expired value already reads as absent, and its
    * state rows are evicted in the next batch that carries data. */
  def funnelStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val raw = spark.read.parquet(s"$sfDir/events.parquet").schema
    val streamDir = java.nio.file.Files.createTempDirectory("graft_funnel")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val stream = Tables.normalizeTs(
      spark.readStream.schema(raw).parquet(streamDir.toString), "ts")
    StatefulFunnel.funnelStream(stream, java.time.Duration.ofDays(30)).toDF()
  }

  /** Chained windowed aggregation — the two-level rollup every metrics
    * pipeline runs: 5-minute partials first, the hourly figure summed FROM
    * the partials (never re-reading raw events), plus `n_slices`, the count
    * of non-empty 5-minute slices, which only the two-level shape can
    * produce. Batch form is the DuckDB-oracled contract (nested GROUP BY);
    * the Structured Streaming twin ([[chainedWindowStream]]) runs the same
    * plan as TWO stateful operators in one query — Spark 3.4+ multiple-
    * stateful-operator support, the second agg keyed on
    * `window(window_time(w5), '1 hour')`. Scale design: the first agg does
    * the map-side-combinable heavy lift over raw events; the second
    * aggregates ~12 partial rows per (hour, type) — at 100 TB the rollup
    * input is MB-scale regardless of event volume, the same
    * never-rescan-raw economics as q143's sketch rollup. */
  val q147 = EngineQuery(
    "q147_chained_windows",
    Some("""WITH s AS (
           |  SELECT epoch_us(ts)//1000000//300*300 AS ws5, event_type,
           |         count(*) AS cnt5, sum(value) AS sv5
           |  FROM events GROUP BY 1, 2)
           |SELECT ws5//3600*3600 AS ws, event_type,
           |       CAST(sum(cnt5) AS BIGINT) AS cnt, round(sum(sv5), 4) AS sum_v,
           |       CAST(count(*) AS BIGINT) AS n_slices
           |FROM s GROUP BY 1, 2 ORDER BY ALL""".stripMargin)) { t =>
    orderedByAll(chainedShape(t.events))
  }

  private def chainedShape(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "5 minutes").as("w5"), col("event_type"))
      .agg(count(lit(1)).as("cnt5"), sum(col("value")).as("sv5"))
      .groupBy(window(window_time(col("w5")), "1 hour").as("w"), col("event_type"))
      .agg(sum(col("cnt5")).cast("long").as("cnt"), round4(sum(col("sv5"))).as("sum_v"),
        count(lit(1)).as("n_slices"))
      .select(epochSec(col("w.start")).as("ws"), col("event_type"),
        col("cnt"), col("sum_v"), col("n_slices"))

  /** Streaming twin of q147: both window aggs stateful in ONE query. Multiple
    * stateful operators only run in append mode, where a window is emitted
    * when the watermark passes its end — so the staging writes a far-future
    * sentinel file as a SECOND micro-batch (file source replays files in
    * mtime order, one per trigger) to push the final watermark past every
    * real window; the sentinel's own rows are filtered post-agg. */
  def chainedWindowStream(spark: SparkSession, sfDir: String): DataFrame = {
    val events = new Tables(spark, sfDir).events
    // Stage lowered (µs) copies: b1 = the real events, b2 = one far-future
    // sentinel row. The file source replays them in mtime order (b1 was
    // written first), one file per trigger.
    val streamDir = java.nio.file.Files.createTempDirectory("graft_chained")
    events.coalesce(1).write.parquet(s"$streamDir/b1_events")
    // TWO sentinel batches: state eviction runs against the watermark set by
    // the PREVIOUS batch, so the first sentinel advances the watermark past
    // every real window and the second triggers the batch whose eviction
    // cascades agg1's final slices through agg2 to the sink (AvailableNow
    // does not run a trailing no-data batch here).
    for ((h, b) <- Seq(10 -> "b2_sentinel", 30 -> "b3_sentinel2"))
      events.orderBy(col("ts").desc).limit(1)
        .withColumn("ts", col("ts") + expr(s"interval $h hours"))
        .withColumn("event_type", lit("sentinel"))
        .coalesce(1).write.parquet(s"$streamDir/$b")
    val schema = events.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$streamDir/b*")
      .withWatermark("ts", "2 hours")
    // NOTE: the sentinel hour stays in the output — a `event_type !=
    // 'sentinel'` filter here is pushed below the watermark to the scan,
    // where row-group stats prune the whole sentinel file and the watermark
    // never advances. Callers drop the sentinel rows after collection.
    chainedShape(stream)
  }

  /** Stateful rate-anomaly monitor ([[StatefulRateMonitor]]) under the
    * SAME oracle as q176 — the declarative and arbitrary-state forms of
    * rolling z-scoring are pinned to each other through DuckDB, and
    * StatefulRateMonitorSpec pins the watermark-driven streaming twin to
    * this batch contract. */
  val q177 = EngineQuery(
    "q177_stateful_rate_spike",
    Some(graft.operators.WindowQueries.RateSpikeSql)) { t =>
    dsl.orderedByAll(StatefulRateMonitor.spikeBatch(t.events).toDF()
      .select(col("event_type"), col("hh"), col("cnt"), col("n_prev"),
        dsl.round4(col("z")).as("z")))
  }

  /** Chained aggregation over the RATE table — q147's two-stage stateful
    * shape applied to q176/q177's input: stage 1 collapses the corpus to
    * hourly (type, hour) counts (the rate table both monitors read), stage
    * 2 rolls the hours up to per-(type, day) operational stats (observed
    * hours, peak hourly rate, daily total). This is the aggregate feed a
    * rate DASHBOARD reads next to the spike monitor's alerts — and the
    * streaming form ([[rateRollupStream]]) closes the one chained-agg twin
    * the round-8 audit found missing: both stages run stateful in ONE
    * append-mode query, each day finalized when the watermark passes its
    * end (q147's two-sentinel staging drives the spec).
    *
    * Scale shape: identical to q147 — the only corpus-scale exchange is
    * stage 1's combinable hourly count; stage 2 aggregates the TIME-scale
    * rate table (types × hours, unchanged by 100× event volume). All
    * outputs are exact integers — no FP boundary anywhere. */
  val q182 = EngineQuery(
    "q182_rate_rollup",
    Some("""WITH h AS (
           |  SELECT epoch_us(ts)//1000000//3600*3600 AS hh, event_type,
           |         count(*) AS cnt
           |  FROM events GROUP BY 1, 2)
           |SELECT hh//86400*86400 AS ds, event_type,
           |       CAST(count(*) AS BIGINT) AS n_hours,
           |       CAST(max(cnt) AS BIGINT) AS max_hourly,
           |       CAST(sum(cnt) AS BIGINT) AS total
           |FROM h GROUP BY 1, 2 ORDER BY ALL""".stripMargin)) { t =>
    orderedByAll(rateRollupShape(t.events))
  }

  private def rateRollupShape(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("wh"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(window(window_time(col("wh")), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_hours"),
        max(col("cnt")).cast("long").as("max_hourly"),
        sum(col("cnt")).cast("long").as("total"))
      .select(epochSec(col("w.start")).as("ds"), col("event_type"),
        col("n_hours"), col("max_hourly"), col("total"))

  /** Streaming twin of q182 — [[chainedWindowStream]]'s two-sentinel
    * staging (watermark eviction runs against the PREVIOUS batch's
    * watermark, so sentinel one advances it and sentinel two flushes the
    * cascade; callers drop the sentinel rows post-collection, never
    * pre-watermark). Watermark delay covers the day-scale stage-2 window. */
  def rateRollupStream(spark: SparkSession, sfDir: String): DataFrame = {
    val events = new Tables(spark, sfDir).events
    val streamDir = java.nio.file.Files.createTempDirectory("graft_raterollup")
    events.coalesce(1).write.parquet(s"$streamDir/b1_events")
    for ((h, b) <- Seq(50 -> "b2_sentinel", 100 -> "b3_sentinel2"))
      events.orderBy(col("ts").desc).limit(1)
        .withColumn("ts", col("ts") + expr(s"interval $h hours"))
        .withColumn("event_type", lit("sentinel"))
        .coalesce(1).write.parquet(s"$streamDir/$b")
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$streamDir/b*")
      .withWatermark("ts", "2 hours")
    rateRollupShape(stream)
  }

  /** q195: streaming twin of q193's seasonal anomaly monitor — the shape a
    * LIVE traffic monitor actually runs: daily counts accumulate stateful
    * (1-day tumbling window, append mode), and as the watermark closes each
    * day the finalized count joins the FROZEN seasonal baseline (a static
    * broadcast — the operational "yesterday's model scores today's stream"
    * asymmetry, same frozen-state economics as q185/q186) to emit its
    * z-score and anomaly flag. The join runs POST-aggregation, so sentinel
    * rows still advance the watermark before the inner join drops them
    * (no pre-agg filter — the q147 pruning rule). Batch body = the same
    * window()-shaped plan over the batch table; oracle = q193's SQL, so
    * the gate proves twin ≡ batch ≡ DuckDB. */
  val q195 = EngineQuery(
    "q195_stream_seasonal_anomaly",
    Some(graft.operators.EvalQueries.SeasonalAnomalySql)) { t =>
    orderedByAll(seasonalShape(t.events, seasonalBaseline(t.events)))
  }

  /** (type, weekday) baseline over daily counts — computed from the batch
    * history table in BOTH forms (the frozen-model side of the twin). */
  private def seasonalBaseline(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("event_type").as("b_type"),
        (dayofweek(col("day")) - 1).as("b_dow"))
      .agg(count(lit(1)).as("n_days"), avg(col("cnt")).as("mean_raw"),
        stddev_pop(col("cnt")).as("std_cnt"))

  /** Shared batch/stream plan: 1-day tumbling counts (epoch-aligned, ≡
    * date_trunc('day')) joined to the static baseline. */
  private def seasonalShape(events: DataFrame, baseline: DataFrame): DataFrame = {
    val z = (col("cnt") - col("mean_raw")) / col("std_cnt")
    events
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("event_type"), col("w.start").as("day"), col("cnt"))
      .withColumn("dow", dayofweek(col("day")) - 1)
      .join(broadcast(baseline),
        col("event_type") === col("b_type") && col("dow") === col("b_dow"))
      .filter(col("std_cnt") > 0)
      .select(col("event_type"), epochSec(col("day")).as("day_sec"),
        col("cnt"), col("n_days"), round4(col("mean_raw")).as("mean_cnt"),
        round4(z).as("z"),
        when(abs(z) >= 1.5, 1).otherwise(0).cast("int").as("is_anomaly"))
  }

  /** Structured-streaming form for the spec: file source (one generation
    * per trigger), watermark-driven day finalization, two-sentinel staging
    * (the q147/q182 rule: sentinel one advances the watermark, sentinel two
    * flushes the cascade; the post-agg inner join drops them — no pre-agg
    * filter that would prune the sentinel file below the watermark). */
  def seasonalStream(spark: SparkSession, sfDir: String): DataFrame = {
    val events = new Tables(spark, sfDir).events
    val streamDir = java.nio.file.Files.createTempDirectory("graft_seasonal")
    events.coalesce(1).write.parquet(s"$streamDir/b1_events")
    for ((h, b) <- Seq(50 -> "b2_sentinel", 100 -> "b3_sentinel2"))
      events.orderBy(col("ts").desc).limit(1)
        .withColumn("ts", col("ts") + expr(s"interval $h hours"))
        .withColumn("event_type", lit("sentinel"))
        .coalesce(1).write.parquet(s"$streamDir/$b")
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$streamDir/b*")
      .withWatermark("ts", "2 hours")
    seasonalShape(stream, seasonalBaseline(events))
  }

  val all: Seq[EngineQuery] =
    Seq(q21, q46, q52, q73, q74, q80, q124, q141, q147, q177, q182, q195)
}
