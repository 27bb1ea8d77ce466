package graft.operators

import graft.{Artifacts, EngineQuery, dsl}
import graft.dsl._
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.functions._

/** Round-3 engine extensions (SURVEY.md §2 Part B, q66–q72): the relational
  * long tail (grouping sets, correlated existence predicates) plus the
  * scale-robustness operators a 100 TB pipeline leans on — explicit skew
  * salting, explicit bloom-filtered joins, deterministic stratified
  * sampling — and two event-analytics staples (quantile bucketing, Markov
  * transition counts).
  *
  * Scale notes (100 TB north star):
  *  - q68 demonstrates MANUAL key salting: the replicated (smaller) side is
  *    exploded ×SALTS so the hot fact key's rows spread over SALTS reducer
  *    partitions. AQE skew-join splits oversized partitions adaptively, but
  *    salting is the deterministic pre-plan fix when one key alone exceeds
  *    an executor (AQE can split a partition, not a single key's sort run
  *    feeding a sort-merge join — salting splits the KEY itself).
  *  - q69 makes the runtime-filter pattern explicit: build a bloom filter
  *    over the selective dim's keys (driver-side, like a broadcast), push
  *    `might_contain` into the fact scan as a cheap pre-filter, then take
  *    the exact semi-join on the survivors. Spark's InjectRuntimeFilter does
  *    this automatically between shuffle stages; the explicit form survives
  *    sources that rule the automatic path out and documents the plan shape.
  *  - q72 samples by content hash, not rand(): reproducible across runs,
  *    engines and retries — the only sampling that is audit-stable in a
  *    training-data pipeline.
  */
object AdvancedQueries {

  /** Per-invocation temp-view suffix (same concurrency-safety rule as q12). */
  private val viewSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Explicit GROUPING SETS — finer than rollup (q12) / cube (q53): exactly
    * the four declared aggregation granularities over orders, one Expand +
    * one shuffle, partial aggregation map-side. SQL front end for the same
    * analyzer reason as q12 (Expand's duplicated grouping attributes trip
    * the DataFrame self-join check). */
  val q66 = EngineQuery(
    "q66_grouping_sets",
    Some("""SELECT coalesce(o_orderpriority, 'ALL') AS prio,
           |       coalesce(o_orderstatus, 'ALL') AS status,
           |       CAST(count(*) AS BIGINT) AS cnt,
           |       round(sum(o_totalprice), 4) AS total,
           |       CAST(GROUPING(o_orderpriority, o_orderstatus) AS INT) AS gid
           |FROM orders
           |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
           |                        (o_orderpriority), (o_orderstatus), ())
           |ORDER BY ALL""".stripMargin)) { t =>
    val v = s"adv_orders_${viewSeq.incrementAndGet()}"
    t.orders.createOrReplaceTempView(v)
    try {
      orderedByAll(
        t.spark.sql(
          s"""SELECT coalesce(o_orderpriority, 'ALL') AS prio,
             |       coalesce(o_orderstatus, 'ALL') AS status,
             |       count(*) AS cnt,
             |       round(sum(o_totalprice), 4) AS total,
             |       CAST(grouping_id() AS INT) AS gid
             |FROM $v
             |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
             |                        (o_orderpriority), (o_orderstatus), ())""".stripMargin))
    } finally t.spark.catalog.dropTempView(v)
  }

  /** Correlated EXISTS / NOT EXISTS — Catalyst de-correlates to a left-semi
    * ⨝ left-anti chain on c_custkey (RewritePredicateSubquery): one shuffle
    * per side, no per-row subquery execution anywhere. */
  val q67 = EngineQuery(
    "q67_exists_subquery",
    Some("""SELECT c_custkey, c_name
           |FROM customer c
           |WHERE EXISTS (SELECT 1 FROM orders o
           |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
           |  AND NOT EXISTS (SELECT 1 FROM orders o
           |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
           |ORDER BY ALL""".stripMargin)) { t =>
    val id = viewSeq.incrementAndGet()
    val (vc, vo) = (s"adv_customer_$id", s"adv_orders_$id")
    t.customer.createOrReplaceTempView(vc)
    t.orders.createOrReplaceTempView(vo)
    try {
      orderedByAll(
        t.spark.sql(
          s"""SELECT c_custkey, c_name
             |FROM $vc c
             |WHERE EXISTS (SELECT 1 FROM $vo o
             |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
             |  AND NOT EXISTS (SELECT 1 FROM $vo o
             |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')""".stripMargin))
    } finally Seq(vc, vo).foreach(t.spark.catalog.dropTempView)
  }

  /** Manual skew salting: fact rows carry a deterministic salt derived from
    * a non-join column; the other side is exploded ×SALTS and the join runs
    * on (key, salt) — a hot orderkey's lineitems now land on SALTS reducers
    * instead of one. The aggregate is salt-invariant, so the oracle is the
    * plain unsalted join. */
  val q68 = EngineQuery(
    "q68_salted_join",
    Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
           |       round(sum(l_extendedprice) / 1000000, 4) AS revenue_m
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |GROUP BY o_orderpriority ORDER BY ALL""".stripMargin)) { t =>
    val SALTS = 8
    val fact = t.lineitem
      .select(col("l_orderkey"), col("l_extendedprice"),
        pmod(col("l_linenumber"), lit(SALTS)).as("salt"))
    // shuffle_hash: broadcasting the ×SALTS-replicated dim would both defeat
    // the demonstration (no shuffle to de-skew) and pay the replication in
    // every executor; the salted exchange is the point.
    val dim = t.orders
      .select(col("o_orderkey"), col("o_orderpriority"))
      .withColumn("salt", explode(array((0 until SALTS).map(lit): _*)))
      .hint("shuffle_hash")
    orderedByAll(
      fact.join(dim, col("l_orderkey") === col("o_orderkey") && fact("salt") === dim("salt"))
        .groupBy("o_orderpriority")
        // revenue reported in millions: a ~1e10 double sum rounds at 4dp
        // inside its own summation-order noise (different add order on both
        // engines ⇒ ~1e-3 ulp drift at that magnitude); scaling first keeps
        // the rounding far above the noise floor (SURVEY §7.4.2)
        .agg(count(lit(1)).as("cnt"),
          round4(sum(col("l_extendedprice")) / 1000000).as("revenue_m")))
  }

  /** Explicit bloom-filtered semi-join: the selective dim's keys become a
    * driver-built bloom filter (~1.2 MB at 1M keys / 1% fpp — broadcast
    * scale, whatever the fact size); `might_contain` (the native Catalyst
    * probe expression, codegen'd) pre-filters the fact BEFORE its shuffle,
    * and the exact semi-join on survivors removes the false positives. At
    * 100 TB this is the difference between shuffling the full fact and
    * shuffling the ~matching slice of it. */
  val q69 = EngineQuery(
    "q69_bloom_join",
    Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
           |FROM lineitem
           |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#13')
           |ORDER BY ALL""".stripMargin)) { t =>
    val dim = t.part.filter(col("p_brand") === "Brand#13").select(col("p_partkey"))
    val fact = t.lineitem
    // Driver-side build, same cost class as a broadcast of the dim keys.
    // stat.bloomFilter NPEs on an empty input (its aggregate returns null);
    // an empty dim means an empty semi-join, short-circuited here.
    val filtered =
      if (dim.isEmpty) fact.limit(0)
      else {
        val bloom = dim.stat.bloomFilter("p_partkey", 100000, 0.01)
        val bytes = {
          val bos = new java.io.ByteArrayOutputStream()
          bloom.writeTo(bos)
          bos.toByteArray
        }
        val mightContain = GraftShims.column(BloomFilterMightContain(
          Literal.create(bytes, org.apache.spark.sql.types.BinaryType),
          GraftShims.expression(col("l_partkey").cast("long"))))
        fact.filter(mightContain) // cheap pre-filter ahead of the join shuffle
      }
    orderedByAll(
      filtered
        .join(dim, col("l_partkey") === col("p_partkey"), "left_semi")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity"))
  }

  /** Quantile bucketing (feature binning): EXACT ntile(10) over a TOTAL
    * order — the tiebreak on c_custkey makes the bucket assignment, and so
    * the oracle hash, deterministic on both engines — WITHOUT the
    * single-partition global window a naive `ntile().over(Window.orderBy)`
    * plans (the round-3 scale-killer: all rows through one task).
    *
    * Distributed exact ranking, all map/window-parallel:
    *  1. range-repartition on the sort key — partition i holds keys strictly
    *     below partition i+1 (RangePartitioning's contract), so
    *     global_rank = local_rank + (rows in partitions < i);
    *  2. local rank = row_number over a window PARTITIONED by
    *     spark_partition_id() — every range partition ranks in parallel;
    *  3. the per-partition counts (one row per range partition — cluster
    *     parallelism, NOT data size) get cumulative offsets and the total
    *     via windows over the counts table itself and broadcast back. The
    *     single-task window is deliberate and scale-safe: the rows through
    *     it number the REDUCERS (P ≈ 10²–10⁴ pairs of longs), not the
    *     data — this is the one shape where a no-partition window is
    *     right, and it keeps every offsets consumer on the one counts
    *     aggregate (the previous triangular self-join re-derived counts
    *     per consumer: three customer scans in the round-5 plan dump);
    *  4. the exact ntile bucket comes from the global rank in closed form:
    *     with q = N div k, m = N mod k (first m buckets take q+1 rows —
    *     ntile's big-buckets-first contract, NOT the interleaved
    *     floor((r-1)·k/N) approximation), bucket(r) = ceil(r/(q+1)) while
    *     r ≤ m·(q+1), else m + ceil((r − m·(q+1))/q).
    * The range exchange is consumed by both the count and rank subtrees —
    * identical subtrees, so AQE's ReusedExchange materializes it once. */
  val q70 = EngineQuery(
    "q70_ntile_bucket",
    Some("""WITH b AS (SELECT c_acctbal,
           |             CAST(ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS INT) AS bucket
           |           FROM customer)
           |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
           |       round(min(c_acctbal), 4) AS lo, round(max(c_acctbal), 4) AS hi
           |FROM b GROUP BY bucket ORDER BY ALL""".stripMargin)) { t =>
    import org.apache.spark.sql.expressions.Window
    val k = 10
    val parted = t.customer.select(col("c_acctbal"), col("c_custkey"))
      .repartitionByRange(col("c_acctbal"), col("c_custkey"))
      .withColumn("pid", spark_partition_id())
    // ONE per-pid count aggregate; start(pid) = rows in all lower
    // partitions and total = N both derive from it IN PLACE via windows
    // over the counts table — P rows of two longs (cluster parallelism,
    // not data size), the one situation where a no-partition window is the
    // right tool: a single task summing 10⁴ tiny rows. The round-5 shape
    // derived counts three times (a triangular self-join + a total
    // aggregate, each re-planned from the raw table — three customer scans
    // and two nested-loop joins in the dump); this keeps every consumer on
    // the SAME range exchange in the SAME job, which is also what makes it
    // correct: range boundaries are sampled per exchange, so offsets
    // computed in a separate job could disagree with the rank pass's pids.
    // PlanInvariantsSpec pins both (single scan + ReusedExchange).
    val counts = parted.groupBy("pid").agg(count(lit(1)).as("pn"))
    val wCum = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = counts.select(col("pid"),
      coalesce(sum(col("pn")).over(wCum), lit(0L)).as("start"),
      sum(col("pn")).over(wTot).as("total"))
    val lw = Window.partitionBy("pid").orderBy(col("c_acctbal"), col("c_custkey"))
    val qq = floor(col("total") / k).cast("long")
    val m = col("total") % k
    val grank = col("lr") + col("start")
    val bucket = when(qq === 0L, grank) // N < k: one row per bucket
      .when(grank <= m * (qq + 1L), ceil(grank / (qq + 1L).cast("double")))
      .otherwise(m + ceil((grank - m * (qq + 1L)) / qq.cast("double")))
    orderedByAll(
      parted
        .withColumn("lr", row_number().over(lw).cast("long"))
        .join(broadcast(offsets), Seq("pid"))
        .withColumn("bucket", bucket.cast("int"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          round4(min(col("c_acctbal"))).as("lo"),
          round4(max(col("c_acctbal"))).as("hi")))
  }

  /** Event-type transition counts (first-order Markov statistics over each
    * user's clickstream): lead() within the per-user time order, then one
    * global (from, to) aggregation — the feature-engineering shape behind
    * next-event models. Window partitioned by user_id: no global sort, one
    * shuffle on user_id, then one on (from, to). */
  val q71 = EngineQuery(
    "q71_transitions",
    Some("""WITH s AS (SELECT user_id, event_type,
           |             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
           |           FROM events)
           |SELECT event_type AS from_type, nxt AS to_type, CAST(count(*) AS BIGINT) AS cnt
           |FROM s WHERE nxt IS NOT NULL
           |GROUP BY 1, 2 ORDER BY ALL""".stripMargin)) { t =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    orderedByAll(
      t.events
        .select(col("user_id"), col("event_type"),
          lead(col("event_type"), 1).over(w).as("nxt"))
        .filter(col("nxt").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("nxt").as("to_type"))
        .agg(count(lit(1)).as("cnt")))
  }

  /** Stratified deterministic sampling: per-stratum rates (here: keep ~1/8
    * of 'en', ~1/2 of everything else) via a content-hash threshold — the
    * per-language rebalancing pass of a corpus mix, reproducible run to run
    * (contrast q57's single global rate). Map-only except the final count. */
  val q72 = EngineQuery(
    "q72_stratified_sample",
    Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled,
           |       CAST(sum(n_chars) AS BIGINT) AS chars
           |FROM documents
           |WHERE substring(md5(text), 1, 2)
           |      <= CASE WHEN lang = 'en' THEN '20' ELSE '80' END
           |GROUP BY lang ORDER BY ALL""".stripMargin)) { t =>
    orderedByAll(
      t.documents
        .filter(substring(md5(col("text").cast("binary")), 1, 2)
          <= when(col("lang") === "en", "20").otherwise("80"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sampled"), sum(col("n_chars")).as("chars")))
  }

  /** Latest record per key — the CDC/SCD "current view" materialization
    * (dedup a changelog to each key's newest row). One window over a
    * user_id hash partition; rank-1 filter. At scale this beats
    * groupBy+max+self-join: one shuffle, no join. Tiebreak on event_id
    * makes the survivor — and the oracle hash — deterministic. */
  val q76 = EngineQuery(
    "q76_latest_by_key",
    Some("""WITH r AS (SELECT user_id, event_id, ts, event_type,
           |             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
           |           FROM events)
           |SELECT user_id, event_id, CAST(epoch_us(ts)//1000000 AS BIGINT) AS ts_sec, event_type
           |FROM r WHERE rn = 1 ORDER BY ALL""".stripMargin)) { t =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    orderedByAll(
      t.events
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
          row_number().over(w).as("rn"))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), epochSec(col("ts")).as("ts_sec"),
          col("event_type")))
  }

  /** Time-RANGE window frame: per user, the rolling 1-hour sum/count of
    * `value` at each event — frames defined by event-TIME distance, not row
    * count (rowsBetween ≠ rangeBetween under irregular event spacing).
    * Both engines order by epoch seconds with a [-3600, 0] range frame. */
  val q77 = EngineQuery(
    "q77_range_frame",
    Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts)//1000000 AS sec, value FROM events)
           |SELECT user_id, event_id,
           |       round(sum(value) OVER w, 4) AS roll_sum,
           |       CAST(count(*) OVER w AS BIGINT) AS roll_n
           |FROM e
           |WINDOW w AS (PARTITION BY user_id ORDER BY sec
           |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
           |ORDER BY ALL""".stripMargin)) { t =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("sec")).rangeBetween(-3600, 0)
    orderedByAll(
      t.events
        .select(col("user_id"), col("event_id"), epochSec(col("ts")).as("sec"), col("value"))
        .select(col("user_id"), col("event_id"),
          round4(sum(col("value")).over(w)).as("roll_sum"),
          count(lit(1)).over(w).as("roll_n")))
  }

  /** Z-score outlier detection per group: two-phase agg for (mean, stddev),
    * broadcast back onto the stream (groupBy + re-join, not a global
    * window), count |z| > 2. The per-type stats table is tiny → broadcast;
    * the fact passes once. */
  val q78 = EngineQuery(
    "q78_zscore_outliers",
    Some("""WITH s AS (SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
           |           FROM events GROUP BY 1)
           |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_outliers,
           |       round(max(abs((e.value - s.mu) / s.sd)), 4) AS max_z
           |FROM events e JOIN s USING (event_type)
           |WHERE abs((e.value - s.mu) / s.sd) > 2
           |GROUP BY 1 ORDER BY ALL""".stripMargin)) { t =>
    val stats = t.events.groupBy("event_type")
      .agg(avg(col("value")).as("mu"), stddev_samp(col("value")).as("sd"))
    val z = abs((col("value") - col("mu")) / col("sd"))
    orderedByAll(
      t.events
        .join(broadcast(stats), "event_type")
        .filter(z > 2)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_outliers"), round4(max(z)).as("max_z")))
  }

  /** Per-user event-sequence assembly (the trajectory/session-text shape
    * that feeds sequence models): collect each user's event types in time
    * order into one string. collect_list carries (ts, event_id, type)
    * structs so array_sort imposes the SAME total order the oracle's
    * ORDER BY does — collect_list order alone is partition-arbitrary.
    * Hot-key note: per-key state is the user's full event list — bounded by
    * per-user activity, which is the operator's OUTPUT size, so unavoidable
    * for sequence assembly; for hot keys cap with slice() after sort, or
    * switch to the secondary-sort pattern (repartition + sortWithinPartitions
    * + streaming fold, see graft.streaming.StatefulSessionizer) that never
    * materializes a key's rows except in its output row. */
  val q79 = EngineQuery(
    "q79_event_sequence",
    Some("""SELECT user_id,
           |       string_agg(event_type, ' ' ORDER BY ts, event_id) AS seq,
           |       CAST(count(*) AS BIGINT) AS n
           |FROM events GROUP BY user_id ORDER BY ALL""".stripMargin)) { t =>
    orderedByAll(
      t.events
        .groupBy("user_id")
        .agg(
          array_join(
            transform(
              array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
              x => x.getField("event_type")),
            " ").as("seq"),
          count(lit(1)).as("n")))
  }

  /** Fixed-width histogram via width_bucket — the scale-safe sibling of
    * q70's ntile: bucket bounds are CONSTANTS, so binning is map-only (no
    * global sort, no per-partition window), then one tiny aggregation.
    * This is how you bucket 100 TB; ntile is how you bucket a sample.
    * DuckDB 1.0 has no width_bucket, so the oracle states the same
    * arithmetic (floor(v/width)+1) explicitly. */
  val q81 = EngineQuery(
    "q81_histogram",
    Some("""SELECT CAST(floor(value/50)+1 AS BIGINT) AS bucket,
           |       CAST(count(*) AS BIGINT) AS n,
           |       round(sum(value), 4) AS sum_v
           |FROM events GROUP BY 1 ORDER BY ALL""".stripMargin)) { t =>
    orderedByAll(
      t.events
        .select(width_bucket(col("value"), lit(0d), lit(600d), lit(12)).as("bucket"),
          col("value"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), round4(sum(col("value"))).as("sum_v")))
  }

  /** arg-min/arg-max aggregates: first and last event per type by event
    * time. The ordering key is the COMPOSITE (ts, event_id) struct — Spark's
    * max_by/min_by order structs lexicographically, so ties on ts cannot
    * make the survivor (or the oracle hash) nondeterministic. DuckDB's
    * max_by takes only scalar ordering keys, so the oracle states the same
    * arg-max via rank-1 windows over the identical (ts, event_id) order. */
  val q82 = EngineQuery(
    "q82_argminmax",
    Some("""WITH r AS (SELECT event_type, event_id,
           |             row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS ra,
           |             row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rd
           |           FROM events)
           |SELECT event_type,
           |       CAST(max(CASE WHEN ra = 1 THEN event_id END) AS BIGINT) AS first_event,
           |       CAST(max(CASE WHEN rd = 1 THEN event_id END) AS BIGINT) AS last_event
           |FROM r GROUP BY event_type ORDER BY ALL""".stripMargin)) { t =>
    val ord = struct(col("ts"), col("event_id"))
    orderedByAll(
      t.events
        .groupBy("event_type")
        .agg(
          min_by(col("event_id"), ord).as("first_event"),
          max_by(col("event_id"), ord).as("last_event")))
  }

  /** Correlated LATERAL join — per outer row, a dependent subquery with its
    * own aggregation, ORDER BY and LIMIT (top-2 nations by customer balance
    * per region). Catalyst de-correlates the lateral (DecorrelateInnerQuery
    * rewrites the per-row LIMIT into a rank window over the join key), so
    * execution is joins + one window — never a per-row subquery. */
  val q88 = EngineQuery(
    "q88_lateral_topn",
    Some("""SELECT r_name, n_name, acct
           |FROM region r,
           |LATERAL (SELECT n_name, round(sum(c_acctbal), 4) AS acct
           |         FROM nation n JOIN customer c ON c_nationkey = n_nationkey
           |         WHERE n.n_regionkey = r.r_regionkey
           |         GROUP BY n_name ORDER BY acct DESC, n_name LIMIT 2) t
           |ORDER BY ALL""".stripMargin)) { t =>
    val id = viewSeq.incrementAndGet()
    val (vr, vn, vc) = (s"adv_region_$id", s"adv_nation_$id", s"adv_cust_$id")
    t.region.createOrReplaceTempView(vr)
    t.nation.createOrReplaceTempView(vn)
    t.customer.createOrReplaceTempView(vc)
    try {
      orderedByAll(
        t.spark.sql(
          s"""SELECT r_name, n_name, acct
             |FROM $vr r,
             |LATERAL (SELECT n_name, round(sum(c_acctbal), 4) AS acct
             |         FROM $vn n JOIN $vc c ON c_nationkey = n_nationkey
             |         WHERE n.n_regionkey = r.r_regionkey
             |         GROUP BY n_name ORDER BY acct DESC, n_name LIMIT 2) t""".stripMargin))
    } finally Seq(vr, vn, vc).foreach(t.spark.catalog.dropTempView)
  }

  /** CDC merge-apply — MERGE INTO semantics without a table format: a
    * deterministic change batch (updates for o_orderkey % 5 = 0 with bumped
    * price and a marker priority; inserts at shifted keys for
    * o_orderkey % 7 = 3) applies onto the base by full-outer join + row
    * coalesce: change wins where both exist, inserts survive the right
    * side, untouched base rows the left. The q76 latest-by-key operator is
    * the upstream that produces such a batch from a raw CDC stream; this is
    * the downstream apply. At 100 TB the full outer shuffles the base on
    * the merge key once — full outer cannot broadcast — which is exactly
    * the exchange a q94-style bucketed base layout eliminates (write the
    * base bucketed on the key, and every daily merge is exchange-free on
    * the base side). */
  val q96 = EngineQuery(
    "q96_cdc_merge",
    Some("""WITH upd AS (SELECT o_orderkey, '5-UPDATED' AS o_orderpriority,
           |                    o_totalprice + 1000 AS o_totalprice
           |             FROM orders WHERE o_orderkey % 5 = 0),
           |ins AS (SELECT o_orderkey + 100000000 AS o_orderkey, o_orderpriority,
           |               o_totalprice
           |        FROM orders WHERE o_orderkey % 7 = 3),
           |ch AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
           |merged AS (
           |  SELECT coalesce(c.o_orderkey, b.o_orderkey) AS k,
           |         coalesce(c.o_orderpriority, b.o_orderpriority) AS prio,
           |         coalesce(c.o_totalprice, b.o_totalprice) AS total
           |  FROM orders b FULL OUTER JOIN ch c ON b.o_orderkey = c.o_orderkey)
           |SELECT prio, CAST(count(*) AS BIGINT) AS n,
           |       round(sum(total) / 1000000, 4) AS total_m
           |FROM merged GROUP BY prio ORDER BY ALL""".stripMargin)) { t =>
    val base = t.orders.select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val upd = base.filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), lit("5-UPDATED").as("o_orderpriority"),
        (col("o_totalprice") + 1000).as("o_totalprice"))
    val ins = base.filter(col("o_orderkey") % 7 === 3)
      .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
        col("o_orderpriority"), col("o_totalprice"))
    val ch = upd.unionByName(ins)
      .select(col("o_orderkey").as("c_key"), col("o_orderpriority").as("c_prio"),
        col("o_totalprice").as("c_total"))
    orderedByAll(
      base.join(ch, col("o_orderkey") === col("c_key"), "full_outer")
        .select(
          coalesce(col("c_prio"), col("o_orderpriority")).as("prio"),
          coalesce(col("c_total"), col("o_totalprice")).as("total"))
        .groupBy("prio")
        .agg(count(lit(1)).as("n"),
          round(sum(col("total")) / 1000000, 4).as("total_m")))
  }

  /** Group-wise min-max feature scaling — the normalization pass feature
    * pipelines run before training: per language, n_chars maps to
    * (x − min)/(max − min); reported as the per-group mean and population
    * stddev of the scaled value (degenerate single-valued groups gate on
    * max > min on both engines). Two-phase group stats broadcast back onto
    * a map-only rescale — one shuffle for the stats, one for the rollup,
    * the corpus itself never reshuffles. */
  val q103 = EngineQuery(
    "q103_minmax_scale",
    Some("""WITH s AS (SELECT lang, min(n_chars) AS mn, max(n_chars) AS mx
           |           FROM documents GROUP BY lang),
           |n AS (SELECT d.lang,
           |        CAST(d.n_chars - mn AS DOUBLE) / CAST(mx - mn AS DOUBLE) AS x
           |      FROM documents d JOIN s USING (lang) WHERE mx > mn)
           |SELECT lang, CAST(count(*) AS BIGINT) AS n,
           |       round(avg(x), 4) AS mean_scaled,
           |       round(stddev_pop(x), 4) AS sd_scaled
           |FROM n GROUP BY lang ORDER BY ALL""".stripMargin)) { t =>
    val stats = t.documents.groupBy("lang")
      .agg(min(col("n_chars")).as("mn"), max(col("n_chars")).as("mx"))
    orderedByAll(
      t.documents
        .join(broadcast(stats.filter(col("mx") > col("mn"))), "lang")
        .withColumn("x",
          (col("n_chars") - col("mn")).cast("double") /
            (col("mx") - col("mn")).cast("double"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          round4(avg(col("x"))).as("mean_scaled"),
          round4(stddev_pop(col("x"))).as("sd_scaled")))
  }

  /** SCD Type-2 history build: collapse each user's event-type stream into
    * versioned validity intervals — the slowly-changing-dimension table
    * every warehouse derives from a change log (q96 is the MERGE that
    * applies one batch; this materializes the full bitemporal history in
    * one pass). Consecutive duplicate states collapse (a re-emitted equal
    * state opens no new version); each version carries [valid_from,
    * valid_to) with the open version closed by the 2100-01-01 sentinel —
    * the null-free mirror of the classical '9999-12-31' row.
    *
    * Plan for 100 TB: three window functions (change flag, version number,
    * interval close) all declare the SAME partitioning (user_id) and
    * ordering, so Catalyst plans ONE hash exchange + ONE sort and evaluates
    * the windows back-to-back on it — history depth adds zero extra
    * shuffles. That single user-keyed exchange is the theoretical minimum
    * for any per-entity ordered collapse. */
  /** The SCD2 version table shared by q113 (materialize) and q116 (point-in-
    * time probe): user_id, version, event_type, [valid_from, valid_to). */
  private[operators] def scd2Versions(t: graft.Tables) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    t.events
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .withColumn("version", row_number().over(w).cast("int"))
      .withColumn("valid_from", epochSec(col("ts")))
      .withColumn("valid_to",
        coalesce(epochSec(lead(col("ts"), 1).over(w)), lit(4102444800L)))
      .select(col("user_id"), col("version"), col("event_type"),
        col("valid_from"), col("valid_to"))
  }

  /** The oracle CTEs deriving the same version table (shared q113/q116). */
  private val scd2Sql =
    """o AS (SELECT user_id, event_type, ts, event_id,
      |        lag(event_type) OVER (PARTITION BY user_id
      |                              ORDER BY ts, event_id) AS prev
      |      FROM events),
      |k AS (SELECT user_id, event_type, ts, event_id FROM o
      |      WHERE prev IS NULL OR prev <> event_type),
      |v AS (SELECT user_id, event_type,
      |        CAST(row_number() OVER w AS INT) AS version,
      |        epoch_us(ts)//1000000 AS valid_from,
      |        lead(epoch_us(ts)//1000000, 1, 4102444800) OVER w AS valid_to
      |      FROM k WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))""".stripMargin

  val q113 = EngineQuery(
    "q113_scd2_history",
    Some(s"""WITH $scd2Sql
            |SELECT user_id, version, event_type,
            |       CAST(valid_from AS BIGINT) AS valid_from,
            |       CAST(valid_to AS BIGINT) AS valid_to
            |FROM v ORDER BY ALL""".stripMargin)) { t =>
    orderedByAll(scd2Versions(t))
  }

  /** Point-in-time (PIT) join: each purchase looked up against the SCD2
    * dimension version in effect STRICTLY BEFORE it — "what state was the
    * user in when they bought?", the lookup a feature store must get right
    * (training-serving skew is exactly this join done wrong). Strictly-
    * before (cutoff = ts−1s) so a purchase that itself opens a version
    * reads the PRIOR state, never its own write — the classic off-by-one
    * that leaks the label into the feature.
    *
    * Plan: a PIT probe IS an as-of join (last valid_from ≤ cutoff per key),
    * so this routes through the engine's native AsOfJoin operator (custom
    * LogicalPlan + Strategy + merge-based SparkPlan, q43's machinery): one
    * exchange + sort per side, O(n+m) streaming merge — no interval blow-up,
    * no window over a unioned fact+dim. Version is the tie-break (two
    * versions in one epoch second → the later wins, matching the interval
    * semantics). Purchases before any version coalesce to 'none'. */
  val q116 = EngineQuery(
    "q116_pit_join",
    Some(s"""WITH $scd2Sql,
            |p AS (SELECT event_id, user_id, value,
            |        epoch_us(ts)//1000000 - 1 AS cutoff
            |      FROM events WHERE event_type = 'purchase'),
            |j AS (SELECT p.event_id, p.value, v.event_type AS st, v.version,
            |        row_number() OVER (PARTITION BY p.event_id
            |                           ORDER BY v.valid_from DESC, v.version DESC)
            |          AS rn
            |      FROM p LEFT JOIN v
            |        ON v.user_id = p.user_id AND v.valid_from <= p.cutoff)
            |SELECT coalesce(st, 'none') AS prior_state,
            |       CAST(count(*) AS BIGINT) AS n_purchases,
            |       round(avg(value), 4) AS avg_value
            |FROM j WHERE rn = 1 GROUP BY 1 ORDER BY ALL""".stripMargin)) { t =>
    val p = t.events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id").as("p_user"), col("value"),
        (epochSec(col("ts")) - 1L).as("cutoff"))
    val v = scd2Versions(t)
      .select(col("user_id"), col("version"), col("event_type").as("st"),
        col("valid_from"))
    val joined = graft.plans.AsOfJoin.asof(
      p, v,
      leftKey = p("p_user"), rightKey = v("user_id"),
      leftTime = p("cutoff"), rightTime = v("valid_from"),
      rightTieBreak = Seq(v("version")))
    orderedByAll(
      joined
        .groupBy(coalesce(col("st"), lit("none")).as("prior_state"))
        .agg(count(lit(1)).as("n_purchases"),
          round4(avg(col("value"))).as("avg_value")))
  }

  /** Incremental aggregate-state maintenance — the materialized-view
    * discipline that makes a 100 TB rolling dashboard affordable: the BASE
    * corpus (orders before the cutoff) is reduced ONCE to an algebraic
    * state table (count/sum/min/max per group — one row per group, the only
    * thing a real pipeline persists), and each DELTA batch reduces to the
    * same state shape and MERGES (counts and sums add, mins/maxes combine;
    * avg is DERIVED from merged sum/count, which is why avg itself is never
    * stored). The merge exchanges 2 rows per group, whatever the corpus
    * size; recomputing from scratch would rescan the full history per
    * refresh. The oracle recomputes the aggregate over ALL orders, so it
    * passes only if state split + merge is exactly lossless.
    *
    * In-plan it looks like: two partial aggregations (each pre-reduced
    * map-side) → union of group-grain states → one reduce on the group key.
    * Spark can't know the union's inputs are disjoint row sets of one
    * table; the algebra is the operator. */
  val q120 = EngineQuery(
    "q120_incremental_agg",
    Some("""SELECT strftime(o_orderdate, '%Y-%m') AS mth, o_orderstatus,
           |       CAST(count(*) AS BIGINT) AS n_orders,
           |       round(sum(o_totalprice) / 1000000, 4) AS sum_price_m,
           |       round(min(o_totalprice), 4) AS min_price,
           |       round(max(o_totalprice), 4) AS max_price,
           |       round(sum(o_totalprice) / count(*), 4) AS avg_price
           |FROM orders
           |WHERE o_orderdate >= TIMESTAMP '2001-01-01'
           |GROUP BY 1, 2 ORDER BY ALL""".stripMargin)) { t =>
    // Keep the output small (current year only) but exercise the full split:
    // base = Jan..Jun 2001 "snapshot", delta = the Jul..Aug "new batch".
    val cur = t.orders.filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
    val split = lit("2001-07-01").cast("timestamp")
    def state(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("mth"), col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"), sum(col("o_totalprice")).as("sm"),
        min(col("o_totalprice")).as("mn"), max(col("o_totalprice")).as("mx"))
    val base = state(cur.filter(col("o_orderdate") < split))
    val delta = state(cur.filter(col("o_orderdate") >= split))
    val merged = base.unionAll(delta)
      .groupBy("mth", "o_orderstatus")
      .agg(sum(col("cnt")).as("n_orders"), sum(col("sm")).as("s"),
        min(col("mn")).as("mnm"), max(col("mx")).as("mxm"))
    orderedByAll(
      merged.select(col("mth"), col("o_orderstatus"), col("n_orders"),
        round4(col("s") / 1000000).as("sum_price_m"),
        round4(col("mnm")).as("min_price"),
        round4(col("mxm")).as("max_price"),
        round4(col("s") / col("n_orders")).as("avg_price")))
  }

  /** Top-k per group as a BOUNDED AGGREGATION (q16/q88 give the window
    * formulation; this is the aggregator formulation a 100 TB pipeline
    * reaches for when the group count is huge): a typed Aggregator keeps a
    * k-element buffer per group, so each map task ships AT MOST k rows per
    * group into the exchange — an explicit partial-aggregation bound,
    * independent of whether the optimizer's WindowGroupLimit pushdown
    * fires. The oracle is the rank-window SQL, so the two formulations are
    * proven equivalent row-for-row (ties broken identically: value desc,
    * id asc). */
  val q128 = EngineQuery(
    "q128_topk_agg",
    Some("""SELECT o_orderstatus, CAST(rn AS INT) AS rnk, o_orderkey, o_totalprice
           |FROM (SELECT o_orderstatus, o_orderkey, o_totalprice,
           |        row_number() OVER (PARTITION BY o_orderstatus
           |                           ORDER BY o_totalprice DESC, o_orderkey) AS rn
           |      FROM orders)
           |WHERE rn <= 3 ORDER BY ALL""".stripMargin)) { t =>
    val top3 = udaf(new graft.functions.SketchAggregators.TopKByAgg(3))
    orderedByAll(
      t.orders
        .groupBy("o_orderstatus")
        .agg(top3(col("o_totalprice"), col("o_orderkey")).as("top"))
        .select(col("o_orderstatus"), posexplode(col("top")).as(Seq("p", "x")))
        .select(col("o_orderstatus"), (col("p") + 1).cast("int").as("rnk"),
          col("x._2").as("o_orderkey"), col("x._1").as("o_totalprice")))
  }

  /** Recursive CTE (Spark 4's WITH RECURSIVE) — hop-bounded reachability
    * over the customer–supplier graph, expressed ENTIRELY in SQL: level-0
    * seeds, each recursive step walks one edge, the level guard terminates
    * (Spark's recursive CTEs are UNION ALL-only, so cycles must be cut by
    * an explicit bound — the same discipline any production recursive
    * query needs on a cyclic graph). This is the declarative sibling of
    * q122's driver-side superstep loop: the ENGINE owns the iteration, one
    * plan, no driver coordination — right whenever the recursion depth is
    * a small constant; the driver loop remains the shape for data-driven
    * fixpoints (q60/q108). The DuckDB oracle runs the same recursion
    * text, so the iterative plan is value-checked end to end. Walk count
    * is hop1 ≈ seed-degree, hop2 ≈ Σ supplier-degree — bounded by the
    * 2-hop neighborhood, never the graph. */
  val q134 = EngineQuery(
    "q134_recursive_reach",
    Some("""WITH RECURSIVE cs AS (
           |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |e AS (SELECT c AS src, s AS dst FROM cs
           |      UNION ALL SELECT s, c FROM cs),
           |r AS (
           |  SELECT CAST(0 AS INT) AS level, c_custkey * 2 AS node
           |  FROM customer WHERE c_custkey <= 5
           |  UNION ALL
           |  SELECT r.level + 1, e.dst FROM r JOIN e ON r.node = e.src
           |  WHERE r.level < 2)
           |SELECT level, CAST(count(DISTINCT node) AS BIGINT) AS n_nodes
           |FROM r GROUP BY level ORDER BY ALL""".stripMargin)) { t =>
    val tag = java.util.UUID.randomUUID().toString.replace("-", "_")
    // The edge table is the recursion's INVARIANT input: each recursive
    // step re-executes the recursive term's plan, so deriving the graph
    // inside the CTE would re-run the fact⋈orders distinct once per hop.
    // It is the SAME artifact q122's PageRank trains on —
    // GraphQueries.edgePairs is materialized once per (session, dir) and
    // both consumers read the checkpoint.
    GraphQueries.edgePairs(t).createOrReplaceTempView(s"edge_$tag")
    t.customer.createOrReplaceTempView(s"cust_$tag")
    // spark.sql analyzes eagerly — the views are resolved into the plan at
    // this point, so dropping them right after (q66/q67's convention) does
    // not invalidate the lazily-executed result.
    try t.spark.sql(
      s"""WITH RECURSIVE r AS (
         |  SELECT CAST(0 AS INT) AS level, c_custkey * 2 AS node
         |  FROM cust_$tag WHERE c_custkey <= 5
         |  UNION ALL
         |  SELECT r.level + 1, e.dst FROM r JOIN edge_$tag e ON r.node = e.src
         |  WHERE r.level < 2)
         |SELECT level, CAST(count(DISTINCT node) AS BIGINT) AS n_nodes
         |FROM r GROUP BY level ORDER BY ALL""".stripMargin)
    finally {
      t.spark.catalog.dropTempView(s"edge_$tag")
      t.spark.catalog.dropTempView(s"cust_$tag")
    }
  }

  /** AQE skew-join — q68's problem with the OPTIMIZER doing the splitting,
    * which is the knob a real cluster reaches for first (salting is the
    * deterministic fallback when one key alone exceeds an executor). The
    * join key is genuinely hot: `en` is ~40% of the documents corpus, so
    * its reduce partition is ~2–3× the median, and the full text column
    * deliberately rides the fact exchange (max(text) in the aggregate
    * keeps pruning honest) the way a real document join carries payload.
    *
    * Runs in a CHILD session so the skew knobs are scoped to this query:
    * detection thresholds are scaled to the gate corpus (the 256 MB
    * default is calibrated for production partitions; skew is a RATIO
    * property), broadcast is disabled + merge-hinted so the join is the
    * SMJ that skew-split applies to, and forceOptimizeSkewedJoin accepts
    * the extra downstream exchange (the split breaks the join's hash
    * partitioning that the tier aggregate would otherwise reuse — the
    * standard latency-for-balance trade). The fact side is repartitioned
    * to stand in for the many-mapper stage a production corpus has (skew
    * split regroups MAP-OUTPUT blocks; one small parquet file reads as
    * one map task, which would leave nothing to regroup). Fully oracled —
    * AQE must not change a single row — and SkewJoinSpec asserts
    * `skew=true` on the executed SMJ plus ≥2 splits of the hot partition.
    */
  val q139 = EngineQuery(
    "q139_skew_join_aqe",
    Some("""WITH d AS (SELECT DISTINCT lang,
           |             CASE WHEN lang = 'en' THEN 'head' ELSE 'tail' END AS tier
           |           FROM documents)
           |SELECT tier, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(n_chars) AS BIGINT) AS chars,
           |       substring(max(text), 1, 40) AS sample_text
           |FROM documents JOIN d USING (lang)
           |GROUP BY 1 ORDER BY ALL""".stripMargin)) { t =>
    val s = t.spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // one shuffle partition per lang with headroom, so the hot key's
    // partition is measured alone (the production situation: a hot key's
    // reducer, not a hot key hiding inside a fat hash bucket)
    s.conf.set("spark.sql.shuffle.partitions", "16")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.5")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2k")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1k")
    s.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val td = new graft.Tables(s, t.dir)
    val fact = td.documents
      .select(col("lang"), col("n_chars"), col("text"))
      .repartition(8)
    // The dim is MATERIALIZED (localCheckpoint — 5 rows; in production it
    // is a stored table) for two reasons: it mirrors reality, and
    // OptimizeSkewedJoin's pattern requires each SMJ child to be
    // sort-over-shuffle-stage — a distinct aggregation living between
    // them keeps the rule from matching, measured on this exact query.
    val dim = td.documents.select(col("lang")).distinct()
      .withColumn("tier",
        when(col("lang") === "en", lit("head")).otherwise(lit("tail")))
      .localCheckpoint()
      .hint("merge")
    orderedByAll(
      fact.join(dim, "lang")
        .groupBy("tier")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"),
          substring(max(col("text")), 1, 40).as("sample_text")))
  }

  /** k-anonymity audit — the privacy gate a dataset release runs: every
    * quasi-identifier combination (nation × market segment × 1000-wide
    * balance bucket) whose group is smaller than k=5 re-identifies its
    * members and must be suppressed or generalized before publication.
    * One map-side-combinable aggregation over the table — the report is
    * group-scale, never row-scale, so the audit costs one scan at any
    * corpus size; widening the bucket (the generalization ladder's next
    * rung) only coarsens the same plan. */
  val q150 = EngineQuery(
    "q150_k_anonymity",
    Some("""SELECT c_nationkey, c_mktsegment,
           |       CAST(floor(c_acctbal/1000) AS BIGINT) AS bal_bucket,
           |       CAST(count(*) AS BIGINT) AS n
           |FROM customer GROUP BY 1, 2, 3 HAVING count(*) < 5
           |ORDER BY ALL""".stripMargin)) { t =>
    orderedByAll(
      t.customer
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).as("bal_bucket"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") < 5))
  }

  /** Rank-based winsorization per group: clip a bounded-domain feature at
    * its exact p01/p99 ORDER STATISTICS (nearest-rank, k = ⌈p·n⌉ — no
    * interpolation, so no cross-engine lerp ambiguity and no float
    * thresholds) computed from a VALUE HISTOGRAM: the corpus pass is one
    * map-side-combinable (group, value) count — l_quantity has ≤50 distinct
    * values, so the cumulative-count window that extracts the thresholds
    * runs over a group×50-row table, never the corpus (the q70 offsets
    * discipline: a naive `row_number` over the corpus partitioned by 3
    * return flags puts 600 k rows into 3 tasks). Thresholds broadcast back
    * onto the fact scan for a map-side clamp + one final group-scale
    * aggregate. Integer sums — zero floating-point accumulation. This is
    * the 100 TB recipe for any low-cardinality feature; unbounded-domain
    * features swap the histogram for q99's equi-depth sketch. */
  val q156 = EngineQuery(
    "q156_winsorize",
    Some("""WITH li AS (SELECT l_returnflag AS f, CAST(l_quantity AS BIGINT) AS q FROM lineitem),
           |h AS (SELECT f, q, count(*) AS c FROM li GROUP BY 1, 2),
           |n AS (SELECT f, sum(c) AS n FROM h GROUP BY 1),
           |cum AS (SELECT f, q, sum(c) OVER (PARTITION BY f ORDER BY q) AS cc FROM h),
           |lo AS (SELECT f, min(q) AS q_lo FROM cum JOIN n USING (f)
           |       WHERE cc >= ceil(n * 0.01) GROUP BY f),
           |hi AS (SELECT f, min(q) AS q_hi FROM cum JOIN n USING (f)
           |       WHERE cc >= ceil(n * 0.99) GROUP BY f)
           |SELECT f AS l_returnflag, q_lo, q_hi,
           |       CAST(count(*) AS BIGINT) AS n_rows,
           |       CAST(count(*) FILTER (WHERE q < q_lo) AS BIGINT) AS n_clipped_low,
           |       CAST(count(*) FILTER (WHERE q > q_hi) AS BIGINT) AS n_clipped_high,
           |       CAST(sum(greatest(q_lo, least(q_hi, q))) AS BIGINT) AS sum_winsorized
           |FROM li JOIN lo USING (f) JOIN hi USING (f)
           |GROUP BY 1, 2, 3 ORDER BY ALL""".stripMargin)) { t =>
    import org.apache.spark.sql.expressions.Window
    val li = t.lineitem.select(col("l_returnflag").as("f"),
      col("l_quantity").cast("long").as("q"))
    val h = li.groupBy("f", "q").agg(count(lit(1)).as("c"))
    val n = h.groupBy("f").agg(sum(col("c")).as("n"))
    val cum = h.withColumn("cc", sum(col("c")).over(
      Window.partitionBy("f").orderBy("q"))).join(n, "f")
    val lo = cum.filter(col("cc") >= ceil(col("n") * 0.01))
      .groupBy("f").agg(min(col("q")).as("q_lo"))
    val hi = cum.filter(col("cc") >= ceil(col("n") * 0.99))
      .groupBy("f").agg(min(col("q")).as("q_hi"))
    orderedByAll(
      li.join(broadcast(lo.join(hi, "f")), "f")
        .groupBy(col("f").as("l_returnflag"), col("q_lo"), col("q_hi"))
        .agg(count(lit(1)).as("n_rows"),
          count(when(col("q") < col("q_lo"), 1)).as("n_clipped_low"),
          count(when(col("q") > col("q_hi"), 1)).as("n_clipped_high"),
          sum(greatest(col("q_lo"), least(col("q_hi"), col("q"))))
            .as("sum_winsorized")))
  }

  /** Robust outlier detection per group — median/MAD instead of q78's
    * mean/σ (one far outlier inflates σ enough to hide its siblings; the
    * median absolute deviation has a 50% breakdown point, Hampel's
    * identifier). Exact nearest-rank order statistics, zero sampling.
    *
    * Scale shape (the q156 histogram discipline, taken further): the ONLY
    * corpus-scale work is the one map-side-combinable (group, value) count.
    * Everything downstream is histogram-scale: the deviation histogram is
    * DERIVED from the value histogram (group by |v−med|, summing counts —
    * no second corpus pass), both medians come from cumulative windows over
    * the histogram, and the final outlier count is a filtered sum over the
    * same histogram. A naive median+MAD costs two full corpus sorts; this
    * costs one aggregation and never sorts the corpus at all. Outliers =
    * |v − med| > 3 · 1.4826 · MAD (1.4826 scales MAD to σ under normality).
    * Both engines evaluate the identical expression tree on identical
    * parquet doubles — bit-identical comparisons, no boundary ambiguity. */
  val q161 = EngineQuery(
    "q161_mad_outliers",
    Some("""WITH h AS (SELECT event_type, value AS v, count(*) AS c FROM events GROUP BY 1, 2),
           |n AS (SELECT event_type, sum(c) AS n FROM h GROUP BY 1),
           |cumv AS (SELECT event_type, v, sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cc FROM h),
           |med AS (SELECT event_type, min(v) AS med FROM cumv JOIN n USING (event_type)
           |        WHERE cc >= ceil(n * 0.5) GROUP BY event_type),
           |d AS (SELECT h.event_type, abs(v - med) AS dev, sum(c) AS c
           |      FROM h JOIN med USING (event_type) GROUP BY 1, 2),
           |cumd AS (SELECT event_type, dev, sum(c) OVER (PARTITION BY event_type ORDER BY dev) AS cc FROM d),
           |mad AS (SELECT event_type, min(dev) AS mad FROM cumd JOIN n USING (event_type)
           |        WHERE cc >= ceil(n * 0.5) GROUP BY event_type)
           |SELECT h.event_type, CAST(n AS BIGINT) AS n_events,
           |       round(med, 4) AS med_value, round(mad, 4) AS mad_value,
           |       CAST(coalesce(sum(c) FILTER (WHERE abs(v - med) > 3 * 1.4826 * mad), 0) AS BIGINT) AS n_outliers
           |FROM h JOIN n USING (event_type) JOIN med USING (event_type) JOIN mad USING (event_type)
           |GROUP BY 1, 2, 3, 4 ORDER BY ALL""".stripMargin)) { t =>
    import org.apache.spark.sql.expressions.Window
    // The histogram feeds FIVE consumers (n, the median window, the
    // deviation histogram, and the final rollup twice-removed); without a
    // materialization boundary Catalyst inlined it everywhere — the
    // executed plan ran 16 events scans / 50 exchanges with zero reuse
    // (plans/r17/q161_mad_outliers_before.txt). One lazy checkpoint holds
    // it at histogram scale (distinct (event_type, value) — the frame this
    // query's whole design keeps bounded) and every downstream pass reads
    // the checkpoint: ONE corpus scan at any scale.
    val h = t.events.groupBy(col("event_type"), col("value").as("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false)
    val n = h.groupBy("event_type").agg(sum(col("c")).as("n"))
    val w = Window.partitionBy("event_type")
    val med = h.withColumn("cc", sum(col("c")).over(w.orderBy("v")))
      .join(n, "event_type")
      .filter(col("cc") >= ceil(col("n") * 0.5))
      .groupBy("event_type").agg(min(col("v")).as("med"))
    val d = h.join(broadcast(med), "event_type")
      .groupBy(col("event_type"), abs(col("v") - col("med")).as("dev"))
      .agg(sum(col("c")).as("c"))
    val mad = d.withColumn("cc", sum(col("c")).over(w.orderBy("dev")))
      .join(n, "event_type")
      .filter(col("cc") >= ceil(col("n") * 0.5))
      .groupBy("event_type").agg(min(col("dev")).as("mad"))
    orderedByAll(
      h.join(broadcast(n), "event_type")
        .join(broadcast(med), "event_type")
        .join(broadcast(mad), "event_type")
        .groupBy(col("event_type"), col("n").as("n_events"),
          round4(col("med")).as("med_value"), round4(col("mad")).as("mad_value"))
        .agg(coalesce(sum(when(
          abs(col("v") - col("med")) > lit(3) * lit(1.4826) * col("mad"),
          col("c"))), lit(0L)).as("n_outliers")))
  }

  /** Model-per-segment scoring — the "train tiny models, broadcast, score
    * the corpus map-side" pipeline pattern: q142 stops at the per-group OLS
    * coefficients; this closes the loop by joining them BACK onto the fact
    * stream (broadcast — the model table is group-scale) and auditing the
    * fit row-by-row: large-residual counts and RMSE per segment. At 100 TB
    * the model stays kilobytes, the scoring pass is embarrassingly parallel,
    * and no coefficient ever round-trips through the driver (contrast with
    * the collect-coefficients-into-a-literal antipattern).
    *
    * Determinism: coefficients are rounded to 4dp BEFORE scoring in both
    * engines — Spark's and DuckDB's regr_* accumulations differ in the last
    * ulps, but their 4dp roundings agree (q142's proven grain), making every
    * residual bit-identical across engines. RMSE is computed in thousands
    * (the q117/q94 magnitude discipline). */
  val q162 = EngineQuery(
    "q162_segment_score",
    Some("""WITH m AS (SELECT l_returnflag,
           |  round(regr_slope(l_extendedprice, l_quantity), 4) AS b,
           |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS a
           |FROM lineitem GROUP BY 1)
           |SELECT l.l_returnflag, b AS slope, a AS intercept,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) FILTER (WHERE abs(l_extendedprice - (a + b * l_quantity)) > 20000) AS BIGINT) AS n_large_resid,
           |  round(sqrt(sum((l_extendedprice - (a + b * l_quantity)) * (l_extendedprice - (a + b * l_quantity)) / 1000000) / count(*)), 4) AS rmse_k
           |FROM lineitem l JOIN m USING (l_returnflag)
           |GROUP BY 1, 2, 3 ORDER BY ALL""".stripMargin)) { t =>
    val m = t.lineitem.groupBy("l_returnflag").agg(
      round4(regr_slope(col("l_extendedprice"), col("l_quantity"))).as("b"),
      round4(regr_intercept(col("l_extendedprice"), col("l_quantity"))).as("a"))
    val resid = col("l_extendedprice") - (col("a") + col("b") * col("l_quantity"))
    orderedByAll(
      t.lineitem.join(broadcast(m), "l_returnflag")
        .groupBy(col("l_returnflag"), col("b").as("slope"), col("a").as("intercept"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(abs(resid) > 20000, 1L).otherwise(0L)).as("n_large_resid"),
          round4(sqrt(sum(resid * resid / lit(1000000))
            / count(lit(1)))).as("rmse_k")))
  }

  /** Snapshot diff — DERIVE the changelog q96 APPLIES: given two versions
    * of a keyed table (the new snapshot simulated deterministically from
    * orders: keys ≡0 mod 97 deleted, prices bumped for ≡0 mod 13, shifted
    * keys inserted for ≡0 mod 101), a full-outer join on the key classifies
    * every row added / removed / changed / same and audits the price drift.
    * The inverse operator of q96's merge-apply and the row-LOCALIZING
    * complement of q155's order-invariant checksum (which detects a
    * difference without saying where). Scale shape: ONE key-keyed exchange
    * per side (full outer cannot broadcast); with both snapshots stored
    * bucketed on the key (q94's layout) the diff is exchange-free — that is
    * the shape a daily 100 TB snapshot-compare job runs. Output is
    * action-scale (4 rows); the price delta is a single IEEE subtraction
    * per changed row, identical in both engines. */
  val q165 = EngineQuery(
    "q165_snapshot_diff",
    Some("""WITH newsnap AS (
           |  SELECT o_orderkey, o_orderstatus,
           |         CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 100.0
           |              ELSE o_totalprice END AS o_totalprice
           |  FROM orders WHERE o_orderkey % 97 <> 0
           |  UNION ALL
           |  SELECT o_orderkey + 1000000000, o_orderstatus, o_totalprice
           |  FROM orders WHERE o_orderkey % 101 = 0),
           |d AS (SELECT CASE WHEN o.o_orderkey IS NULL THEN 'added'
           |             WHEN n.o_orderkey IS NULL THEN 'removed'
           |             WHEN o.o_totalprice <> n.o_totalprice
           |               OR o.o_orderstatus <> n.o_orderstatus THEN 'changed'
           |             ELSE 'same' END AS action,
           |        CASE WHEN o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
           |             THEN n.o_totalprice - o.o_totalprice ELSE 0.0 END AS delta
           |      FROM orders o FULL OUTER JOIN newsnap n USING (o_orderkey))
           |SELECT action, CAST(count(*) AS BIGINT) AS n_rows,
           |       round(sum(delta), 4) AS sum_price_delta
           |FROM d GROUP BY 1 ORDER BY ALL""".stripMargin)) { t =>
    val base = t.orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    val newsnap = base
      .filter(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 13 === 0, col("o_totalprice") + 100.0)
          .otherwise(col("o_totalprice")))
      .unionAll(base.filter(col("o_orderkey") % 101 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000000L))
    val o = base.select(col("o_orderkey"),
      col("o_orderstatus").as("o_status"), col("o_totalprice").as("o_price"))
    val n = newsnap.select(col("o_orderkey"),
      col("o_orderstatus").as("n_status"), col("o_totalprice").as("n_price"))
    val action = when(col("o_price").isNull, "added")
      .when(col("n_price").isNull, "removed")
      .when(col("o_price") =!= col("n_price") ||
        col("o_status") =!= col("n_status"), "changed")
      .otherwise("same")
    val delta = when(col("o_price").isNotNull && col("n_price").isNotNull,
      col("n_price") - col("o_price")).otherwise(0.0)
    orderedByAll(
      o.join(n, Seq("o_orderkey"), "full_outer")
        .select(action.as("action"), delta.as("delta"))
        .groupBy("action")
        .agg(count(lit(1)).as("n_rows"),
          round4(sum(col("delta"))).as("sum_price_delta")))
  }

  /** One join-key skew profile row: exact per-key counts (the ONLY
    * corpus-scale exchange, map-side combinable), then every statistic
    * derives from key- or histogram-scale tables — totals/max from one
    * aggregate over the checkpointed counts, top-10 share via
    * TakeOrderedAndProject, p50/p99 key-frequency order statistics from a
    * cumulative window over the count-of-counts histogram (q161's
    * discipline: the no-partition window sees histogram-scale rows, never
    * keys). */
  private def skewProfile(df: org.apache.spark.sql.DataFrame, key: String,
      label: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = df.groupBy(col(key).as("k")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = false)
    val t = c.agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
      max(col("cnt")).as("max_cnt"))
    val tp = c.orderBy(col("cnt").desc, col("k")).limit(10)
      .agg(sum(col("cnt")).as("top10"))
    val cum = c.groupBy("cnt").agg(count(lit(1)).as("nk"))
      .withColumn("cc", sum(col("nk")).over(Window.orderBy("cnt")))
      .localCheckpoint(eager = false)
    def pct(q: Double, name: String) =
      cum.crossJoin(broadcast(t.select(col("n_keys").as("nkk"))))
        .filter(col("cc") >= ceil(col("nkk") * q))
        .agg(min(col("cnt")).as(name))
    t.crossJoin(tp).crossJoin(pct(0.5, "p50_cnt")).crossJoin(pct(0.99, "p99_cnt"))
      .select(lit(label).as("key_col"), col("n_keys"), col("n_rows"),
        col("max_cnt"),
        round4(col("max_cnt") / (col("n_rows") / col("n_keys").cast("double")))
          .as("skew_factor"),
        round4(col("top10") / col("n_rows").cast("double")).as("top10_share"),
        col("p50_cnt"), col("p99_cnt"))
  }

  private def skewProfileSql(table: String, key: String): String =
    s"""SELECT '$table.$key' AS key_col,
       |  CAST(n_keys AS BIGINT) AS n_keys, CAST(n_rows AS BIGINT) AS n_rows,
       |  CAST(max_cnt AS BIGINT) AS max_cnt,
       |  round(max_cnt / (n_rows / CAST(n_keys AS DOUBLE)), 4) AS skew_factor,
       |  round(top10 / CAST(n_rows AS DOUBLE), 4) AS top10_share,
       |  CAST(p50_cnt AS BIGINT) AS p50_cnt, CAST(p99_cnt AS BIGINT) AS p99_cnt
       |FROM (SELECT count(*) AS n_keys, sum(cnt) AS n_rows, max(cnt) AS max_cnt
       |      FROM (SELECT $key AS k, count(*) AS cnt FROM $table GROUP BY 1)),
       |  (SELECT sum(cnt) AS top10 FROM
       |    (SELECT cnt FROM (SELECT $key AS k, count(*) AS cnt FROM $table GROUP BY 1)
       |     ORDER BY cnt DESC, k LIMIT 10)),
       |  (SELECT min(cnt) AS p50_cnt FROM
       |    (SELECT cnt, sum(nk) OVER (ORDER BY cnt) AS cc FROM
       |      (SELECT cnt, count(*) AS nk FROM
       |        (SELECT $key AS k, count(*) AS cnt FROM $table GROUP BY 1) GROUP BY 1)),
       |    (SELECT count(*) AS nkk FROM
       |      (SELECT $key AS k FROM $table GROUP BY 1))
       |    WHERE cc >= ceil(nkk * 0.5)),
       |  (SELECT min(cnt) AS p99_cnt FROM
       |    (SELECT cnt, sum(nk) OVER (ORDER BY cnt) AS cc FROM
       |      (SELECT cnt, count(*) AS nk FROM
       |        (SELECT $key AS k, count(*) AS cnt FROM $table GROUP BY 1) GROUP BY 1)),
       |    (SELECT count(*) AS nkk FROM
       |      (SELECT $key AS k FROM $table GROUP BY 1))
       |    WHERE cc >= ceil(nkk * 0.99))""".stripMargin

  /** Join-key skew diagnostic — the measurement you run BEFORE reaching for
    * q68's manual salt or q139's AQE skew join: exact key-frequency
    * statistics (key count, max, max/avg skew factor, top-10 share, p50/p99
    * per-key frequency) for candidate join/partition keys, here
    * orders.o_custkey and events.user_id in one report. A plan that
    * shuffles on a key with skew_factor 40 needs salting; 1.3 does not —
    * this query turns that choice from folklore into a measured number.
    * See [[skewProfile]] for the scale shape (one combinable corpus
    * exchange per key; everything else key- or histogram-scale). */
  val q166 = EngineQuery(
    "q166_skew_profile",
    Some(s"""SELECT * FROM (${skewProfileSql("orders", "o_custkey")}
            |UNION ALL
            |${skewProfileSql("events", "user_id")}) ORDER BY ALL""".stripMargin)) { t =>
    orderedByAll(
      skewProfile(t.orders, "o_custkey", "orders.o_custkey")
        .unionAll(skewProfile(t.events, "user_id", "events.user_id")))
  }

  /** Population Stability Index — the standard distribution-drift monitor a
    * training-data pipeline runs between corpus snapshots (and a model team
    * runs between train and serve windows): bin the reference period's value
    * distribution, count both periods against the SAME bins, and report the
    * per-bin PSI contribution (p_a − p_b)·ln(p_a/p_b). Here: orders before
    * 1998-01-01 (reference) vs after (current), o_totalprice over 10
    * equal-width bins anchored on the reference period's [min, max]; counts
    * are Laplace-smoothed ((n+0.5)/(N+5)) so an empty bin on either side
    * stays finite. PSI > 0.25 is the conventional "distribution shifted,
    * retrain/refresh" alarm.
    *
    * Scale shape: the bin anchor is ONE scalar aggregate (min/max of the
    * reference slice) broadcast back; bin assignment is a map-side closed
    * form (no quantile pass — the exact-quantile variant composes with
    * q70's distributed ntile machinery when decile bins are wanted); the
    * only data-sized exchange is the 10-key bin aggregate, map-side
    * combined. One corpus scan, same at 100 TB.
    *
    * Determinism: bin = least(greatest(floor((x−lo)/w), 0), 9) is the same
    * IEEE expression on both engines (maxA lands exactly on floor(10) and
    * clamps to bin 9); probabilities and the log term are round4'd. */
  val q168 = EngineQuery(
    "q168_psi_drift",
    Some("""WITH o AS (SELECT o_totalprice AS x,
           |             o_orderdate < TIMESTAMP '1998-01-01' AS is_a FROM orders),
           |b AS (SELECT min(x) AS lo, max(x) AS hi FROM o WHERE is_a),
           |binned AS (SELECT CAST(least(greatest(floor((x - lo) / ((hi - lo) / 10.0)), 0.0), 9.0) AS INT) AS bin,
           |             is_a FROM o CROSS JOIN b),
           |c AS (SELECT bin, sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS na,
           |             sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS nb
           |      FROM binned GROUP BY 1),
           |f AS (SELECT CAST(r.range AS INT) AS bin,
           |             CAST(coalesce(na, 0) AS BIGINT) AS na,
           |             CAST(coalesce(nb, 0) AS BIGINT) AS nb
           |      FROM range(10) r LEFT JOIN c ON r.range = c.bin),
           |tot AS (SELECT sum(na) AS n_a, sum(nb) AS n_b FROM f)
           |SELECT bin, na, nb,
           |       round((na + 0.5) / (n_a + 5.0), 4) AS pa,
           |       round((nb + 0.5) / (n_b + 5.0), 4) AS pb,
           |       round(((na + 0.5) / (n_a + 5.0) - (nb + 0.5) / (n_b + 5.0))
           |             * ln(((na + 0.5) / (n_a + 5.0)) / ((nb + 0.5) / (n_b + 5.0))), 4) AS psi_term
           |FROM f CROSS JOIN tot ORDER BY ALL""".stripMargin)) { t =>
    val o = t.orders.select(col("o_totalprice").as("x"),
      (col("o_orderdate") < lit("1998-01-01").cast("timestamp")).as("is_a"))
    val bounds = o.filter(col("is_a")).agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    val binned = o.crossJoin(broadcast(bounds)).select(
      least(greatest(floor((col("x") - col("lo")) / ((col("hi") - col("lo")) / 10.0)),
        lit(0.0)), lit(9.0)).cast("int").as("bin"),
      col("is_a"))
    val cnts = binned.groupBy("bin").agg(
      sum(when(col("is_a"), 1L).otherwise(0L)).as("na0"),
      sum(when(!col("is_a"), 1L).otherwise(0L)).as("nb0"))
    val spine = t.spark.range(10).select(col("id").cast("int").as("bin"))
    val f = spine.join(cnts, Seq("bin"), "left").select(col("bin"),
      coalesce(col("na0"), lit(0L)).as("na"), coalesce(col("nb0"), lit(0L)).as("nb"))
    val tot = f.agg(sum(col("na")).as("n_a"), sum(col("nb")).as("n_b"))
    val pa = (col("na") + 0.5) / (col("n_a") + 5.0)
    val pb = (col("nb") + 0.5) / (col("n_b") + 5.0)
    orderedByAll(
      f.crossJoin(broadcast(tot)).select(col("bin"), col("na"), col("nb"),
        round4(pa).as("pa"), round4(pb).as("pb"),
        round4((pa - pb) * log(pa / pb)).as("psi_term")))
  }

  /** Market-basket co-occurrence with lift — the co-purchase primitive
    * under every "frequently bought together" recommender and the
    * association-rule screen (lift > 1 = genuinely associated, not just
    * both popular): for part pairs sharing an order, lift(a,b) =
    * P(a,b) / (P(a)·P(b)) = n_ab·N / (n_a·n_b).
    *
    * Scale shape — the self-join trap avoided: joining lineitem to itself
    * on l_orderkey shuffles the fact table TWICE and re-materializes every
    * basket as join rows. Instead ONE order-keyed exchange builds each
    * basket's sorted distinct-part array, pairs explode MAP-SIDE from the
    * array (per-basket quadratic, bounded by basket size — max 12 here,
    * bounded by assortment in any real catalog), and everything after is
    * pair/item-scale. The oracle states the same counts via the naive
    * self-join — values agree, plans don't have to.
    *
    * Determinism: supports are exact integers; lift is ONE double division
    * of exact integer products (bigint·bigint stays exact well past this
    * cardinality), identical on both engines. */
  val q180 = EngineQuery(
    "q180_basket_lift",
    Some("""WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM d),
           |i AS (SELECT l_partkey, count(*) AS n_i FROM d GROUP BY 1),
           |p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n_ab
           |      FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey
           |                       AND a.l_partkey < b.l_partkey
           |      GROUP BY 1, 2 HAVING count(*) >= 2)
           |SELECT pa, pb, CAST(n_ab AS BIGINT) AS n_ab,
           |  round(CAST(n_ab * n_orders AS DOUBLE)
           |        / CAST(ia.n_i * ib.n_i AS DOUBLE), 4) AS lift
           |FROM p JOIN i ia ON p.pa = ia.l_partkey
           |       JOIN i ib ON p.pb = ib.l_partkey
           |       CROSS JOIN n
           |ORDER BY ALL""".stripMargin)) { t =>
    val (items, pairs, nOrders) = memoBasket(t)
    basketLiftFrom(items, pairs, nOrders)
  }

  /** Per-basket part cap for q180's map-side pair explode. The explode is
    * per-basket quadratic, which is the right trade for real baskets (the
    * fixture maxes at 12 parts) but would hand one task cap-free m²/2 pair
    * rows on a pathological m-part basket (a crawler cart, a test order).
    * Baskets above the cap degrade to their [[MaxBasketParts]]
    * HIGHEST-SUPPORT parts (ties to the larger partkey — one deterministic
    * total order): the high-support parts are the ones whose pairs can
    * still clear the global n_ab ≥ 2 support floor, so the slice sheds the
    * pairs least likely to survive it. 64²/2 = 2048 pair rows per basket
    * worst-case — task-bounded at any corpus size. */
  val MaxBasketParts = 64

  /** q180's lift computation over a distinct (l_orderkey, l_partkey) table,
    * with the [[MaxBasketParts]] degrade path — factored for the spec to
    * drive with a pathological synthetic basket. */
  /** Capped co-occurrence pairs (pa < pb, n_ab ≥ 2) over a distinct
    * (l_orderkey, l_partkey) table — the shared explode core of q180
    * (lift) and q204 (item-item CF). See [[MaxBasketParts]] for the
    * degrade path. */
  private[operators] def basketPairs(
      d: org.apache.spark.sql.DataFrame,
      items: org.apache.spark.sql.DataFrame,
      cap: Int): org.apache.spark.sql.DataFrame = {
    // The support join costs one partkey exchange of the distinct pair
    // table (reusable with the n_i aggregation's); the slice then bounds
    // every downstream task. At fixture scale the cap never triggers, so
    // the DuckDB oracles (uncapped) stay exact hash-matches.
    val baskets = d.join(items, Seq("l_partkey"))
      .groupBy("l_orderkey")
      .agg(collect_set(struct(col("n_i"), col("l_partkey"))).as("sup"))
      .select(sort_array(transform(
        slice(sort_array(col("sup"), asc = false), 1, cap),
        s => s.getField("l_partkey"))).as("arr"))
      .filter(size(col("arr")) >= 2)
    baskets
      .select(explode(flatten(transform(
        sequence(lit(1), size(col("arr")) - 1),
        i => transform(
          sequence(i + 1, size(col("arr"))),
          j => struct(element_at(col("arr"), i).as("pa"),
            element_at(col("arr"), j).as("pb")))))).as("p"))
      .select(col("p.pa").as("pa"), col("p.pb").as("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 2)
  }

  private[operators] def basketLift(
      d: org.apache.spark.sql.DataFrame, cap: Int): org.apache.spark.sql.DataFrame = {
    val nOrders = d.agg(countDistinct(col("l_orderkey")).as("n_orders"))
    val items = d.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_i"))
    basketLiftFrom(items, basketPairs(d, items, cap), nOrders)
  }

  private def basketLiftFrom(
      items: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame,
      nOrders: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    orderedByAll(pairs
      .join(items.select(col("l_partkey").as("pa"), col("n_i").as("na")), Seq("pa"))
      .join(items.select(col("l_partkey").as("pb"), col("n_i").as("nb")), Seq("pb"))
      .crossJoin(broadcast(nOrders))
      .select(col("pa"), col("pb"), col("n_ab"),
        round4((col("n_ab") * col("n_orders")).cast("double")
          / (col("na") * col("nb")).cast("double")).as("lift")))

  /** The co-occurrence ARTIFACT (items, pairs, order count), memoized per
    * (session, dir) — q180 (lift) and q204 (item CF) are two views over
    * the same pair table, and a production recommender materializes that
    * table once per corpus build, not once per report. Checkpointed at
    * pair-scale (support-floored item pairs), never corpus-scale. */
  private def memoBasket(t: graft.Tables): (
      org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame) =
    Artifacts.get(t, s"basket$MaxBasketParts") {
      // The distinct (order, part) base feeds all three artifacts (items,
      // the pair explode TWICE via the support join, and the order count);
      // un-checkpointed it re-ran its corpus scan + distinct exchange per
      // eager artifact job (round 17: the build was 3 jobs × a repeated
      // distinct — most of q180's 6.6 s suite-cold). One lazy checkpoint
      // of the base + lazy artifact checkpoints collapse the build into
      // the first consumer's single job graph; every frame still
      // materializes exactly once at pair-/id-scale.
      val d = t.lineitem.select(col("l_orderkey"), col("l_partkey")).distinct()
        .localCheckpoint(eager = false)
      val items = d.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_i"))
        .localCheckpoint(eager = false)
      val pairs = basketPairs(d, items, MaxBasketParts)
        .localCheckpoint(eager = false)
      val nOrders = d.agg(countDistinct(col("l_orderkey")).as("n_orders"))
        .localCheckpoint(eager = false)
      (items, pairs, nOrders)
    }

  /** Sorted-neighborhood candidate window for q188: each record is compared
    * to its next [[ErWindow]] neighbors in (name, key) order within its
    * block. Candidate volume is EXACTLY n×[[ErWindow]] — linear in the
    * corpus — and a run of k identical names still links transitively
    * (row i pairs with i+1, so the run forms a connected chain even when
    * k ≫ [[ErWindow]]); that chain property is what lets SNM replace the
    * within-block quadratic pairing of naive blocking (EntityResolutionSpec
    * proves both the bound and the chain connectivity). */
  val ErWindow = 4

  /** q188: entity resolution / record linkage over the `part` catalog —
    * blocked sorted-neighborhood matching (Hernández & Stolfo's SNM, the
    * textbook linear-time linkage plan). Duplicate-key products are the
    * catalog's dirty reality: 200 parts share 64 distinct names at
    * sf0.001, so "which keys name the same product" is a real linkage
    * problem. Plan shape, at 100 TB:
    *  - BLOCK on the category token (last name token): one hash exchange
    *    of (key, name) pairs — id-scale, never the wide rows;
    *  - per-block SORT by (name, key) — a partitioned window, never a
    *    global sort; each row emits its next [[ErWindow]] neighbors via
    *    `lead`, so candidate generation is map-side after the one
    *    exchange and TOTAL candidates are n×[[ErWindow]] (linear — the
    *    whole point of SNM vs naive within-block pairing, which is
    *    Σ_b n_b² and dies on a 200k-row category);
    *  - score candidates with `levenshtein` (codegen'd Catalyst
    *    expression), keep pairs at edit distance ≤ 3: dist 0 = same-name
    *    entities under different keys (exact-duplicate listings), 1–3 =
    *    near-miss variants for review — the match/possible split every
    *    linkage pipeline hands downstream.
    * A block so hot it outgrows one task degrades gracefully: SNM's sort
    * key is (name, key), so the standard fix — range-split the block on a
    * name prefix with an [[ErWindow]]-row overlap — preserves the window
    * semantics; documented, not needed at catalog scale (largest block
    * here is vocabulary-bounded).
    * Determinism: the (name, key) sort is a unique total order on both
    * engines; levenshtein is exact integer edit distance. */
  val q188 = EngineQuery(
    "q188_entity_resolution",
    Some("""WITH p AS (SELECT p_partkey, p_name,
           |        string_split(p_name, ' ')[-1] AS block FROM part),
           |w AS (SELECT block, p_partkey AS key_a, p_name AS name_a,
           |        lead(p_name, 1) OVER win AS n1, lead(p_partkey, 1) OVER win AS k1,
           |        lead(p_name, 2) OVER win AS n2, lead(p_partkey, 2) OVER win AS k2,
           |        lead(p_name, 3) OVER win AS n3, lead(p_partkey, 3) OVER win AS k3,
           |        lead(p_name, 4) OVER win AS n4, lead(p_partkey, 4) OVER win AS k4
           |      FROM p WINDOW win AS (PARTITION BY block ORDER BY p_name, p_partkey)),
           |c AS (SELECT block, key_a, name_a, k1 AS key_b, n1 AS name_b FROM w
           |      UNION ALL SELECT block, key_a, name_a, k2, n2 FROM w
           |      UNION ALL SELECT block, key_a, name_a, k3, n3 FROM w
           |      UNION ALL SELECT block, key_a, name_a, k4, n4 FROM w)
           |SELECT block, key_a, key_b, CAST(levenshtein(name_a, name_b) AS INT) AS dist
           |FROM c WHERE key_b IS NOT NULL AND levenshtein(name_a, name_b) <= 3
           |ORDER BY ALL""".stripMargin)) { t =>
    erMatches(
      t.part.select(col("p_partkey").as("key"), col("p_name").as("name"),
        element_at(split(col("p_name"), " "), -1).as("block")),
      ErWindow)
  }

  /** q188's SNM core over a (key, name, block) table — factored for the
    * spec to drive candidate-bound and chain-connectivity checks. */
  private[operators] def erMatches(
      recs: org.apache.spark.sql.DataFrame, w: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy("block").orderBy(col("name"), col("key"))
    val cands = recs
      .withColumn("cands", array((1 to w).map(i =>
        struct(lead(col("key"), i).over(win).as("k"),
          lead(col("name"), i).over(win).as("n"))): _*))
      .select(col("block"), col("key").as("key_a"), col("name").as("name_a"),
        explode(col("cands")).as("c"))
      .filter(col("c.k").isNotNull)
    orderedByAll(cands
      .withColumn("dist", levenshtein(col("name_a"), col("c.n")).cast("int"))
      .filter(col("dist") <= 3)
      .select(col("block"), col("key_a"), col("c.k").as("key_b"), col("dist")))
  }

  /** q204: item-item collaborative filtering — the co-occurrence cosine
    * recommender ("customers also bought", Linden et al.'s Amazon
    * item-to-item CF): sim(a,b) = n_ab/√(n_a·n_b) over distinct baskets,
    * top-3 neighbors per item. Same ONE-exchange capped basket explode as
    * q180 ([[basketPairs]] — map-side pairs, [[MaxBasketParts]] degrade),
    * then symmetrize and rank per item: window partitions are
    * item-neighborhood-sized (bounded by the support floor — a neighbor
    * list, never the corpus). Cosine ties rank identically on both
    * engines: n_ab/√(n_a·n_b) from the same exact integers is the same
    * IEEE double everywhere, and the tie falls to the smaller neighbor
    * id. */
  val q204 = EngineQuery(
    "q204_item_cf",
    Some("""WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |i AS (SELECT l_partkey, count(*) AS n_i FROM d GROUP BY 1),
           |p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n_ab
           |      FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey
           |                       AND a.l_partkey < b.l_partkey
           |      GROUP BY 1, 2 HAVING count(*) >= 2),
           |sym AS (SELECT pa AS item, pb AS neighbor, n_ab FROM p
           |        UNION ALL SELECT pb, pa, n_ab FROM p),
           |sc AS (SELECT s.item, s.neighbor, s.n_ab,
           |         CAST(s.n_ab AS DOUBLE) / sqrt(ia.n_i * ib.n_i) AS cos
           |       FROM sym s JOIN i ia ON s.item = ia.l_partkey
           |                  JOIN i ib ON s.neighbor = ib.l_partkey),
           |r AS (SELECT item, neighbor, n_ab, cos,
           |        row_number() OVER (PARTITION BY item
           |                           ORDER BY cos DESC, neighbor) AS rn
           |      FROM sc)
           |SELECT item, CAST(rn AS INT) AS rn, neighbor,
           |  CAST(n_ab AS BIGINT) AS n_ab, round(cos, 4) AS cos_sim
           |FROM r WHERE rn <= 3 ORDER BY ALL""".stripMargin)) { t =>
    import org.apache.spark.sql.expressions.Window
    val (items, pairs, _) = memoBasket(t)
    val sym = pairs.select(col("pa").as("item"), col("pb").as("neighbor"), col("n_ab"))
      .unionByName(pairs.select(col("pb").as("item"), col("pa").as("neighbor"), col("n_ab")))
    val sc = sym
      .join(items.select(col("l_partkey").as("item"), col("n_i").as("na")), "item")
      .join(items.select(col("l_partkey").as("neighbor"), col("n_i").as("nb")), "neighbor")
      .withColumn("cos", col("n_ab").cast("double") / sqrt(col("na") * col("nb")))
    val w = Window.partitionBy("item").orderBy(col("cos").desc, col("neighbor"))
    orderedByAll(sc.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("item"), col("rn").cast("int").as("rn"), col("neighbor"),
        col("n_ab"), round4(col("cos")).as("cos_sim")))
  }

  /** q206: trending items — the "movers" dashboard every commerce/content
    * platform runs: per month, the top-3 parts by distinct order volume,
    * each carrying its previous-month rank (−1 = unranked then) so the
    * dashboard can mark new entries vs steady leaders. One corpus exchange
    * builds the (month, part) distinct-order counts; ranking windows
    * partition per month (catalog-sized, never the corpus) and the
    * previous-rank lookup is a calendar-exact equijoin on
    * (part, month − 1) — month-item-scale. The join's right side re-ranks
    * the SAME window table, so both sides are dataframe-aliased (the
    * derived-self-join resolution rule, q193's lesson). */
  val q206 = EngineQuery(
    "q206_trending",
    Some("""WITH m AS (SELECT date_trunc('month', o.o_orderdate) AS mon, l.l_partkey,
           |        count(DISTINCT l.l_orderkey) AS n_orders
           |      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           |      GROUP BY 1, 2),
           |r AS (SELECT mon, l_partkey, n_orders,
           |        row_number() OVER (PARTITION BY mon
           |                           ORDER BY n_orders DESC, l_partkey) AS rnk
           |      FROM m),
           |t AS (SELECT * FROM r WHERE rnk <= 3),
           |p AS (SELECT t.mon, t.l_partkey, t.n_orders, t.rnk,
           |        prev.rnk AS prev_rnk
           |      FROM t LEFT JOIN r prev
           |        ON prev.l_partkey = t.l_partkey
           |       AND prev.mon = t.mon - INTERVAL 1 MONTH)
           |SELECT CAST(epoch(mon) AS BIGINT) AS mon_sec, l_partkey,
           |  CAST(n_orders AS BIGINT) AS n_orders, CAST(rnk AS INT) AS rnk,
           |  CAST(coalesce(prev_rnk, -1) AS INT) AS prev_rnk
           |FROM p ORDER BY ALL""".stripMargin)) { t =>
    import org.apache.spark.sql.expressions.Window
    // The ranked (month, part) table is the dashboard's backing artifact —
    // memoized per (session, dir) at month×item scale (the q180/q204
    // basket-artifact economics: one corpus join per corpus generation,
    // every report reads the checkpointed rollup).
    val r = Artifacts.get(t, "trending") {
      val m = t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(date_trunc("month", col("o_orderdate")).as("mon"), col("l_partkey"))
        .agg(countDistinct(col("l_orderkey")).as("n_orders"))
      val w = Window.partitionBy("mon").orderBy(col("n_orders").desc, col("l_partkey"))
      // Lazy (round 18, the q180 lesson): the first report's action
      // materializes the rollup once for both its consumers (top + prev)
      // instead of a separate blocking build job before it.
      m.withColumn("rnk", row_number().over(w)).localCheckpoint(eager = false)
    }
    val top = r.filter(col("rnk") <= 3).as("t")
    val prev = r.as("p")
    orderedByAll(top
      .join(prev,
        col("p.l_partkey") === col("t.l_partkey")
          && col("p.mon") === add_months(col("t.mon"), -1).cast("timestamp"),
        "left")
      .select(epochSec(col("t.mon")).as("mon_sec"),
        col("t.l_partkey").as("l_partkey"),
        col("t.n_orders").as("n_orders"),
        col("t.rnk").cast("int").as("rnk"),
        coalesce(col("p.rnk"), lit(-1)).cast("int").as("prev_rnk")))
  }

  val all: Seq[EngineQuery] =
    Seq(q66, q67, q68, q69, q70, q71, q72, q76, q77, q78, q79, q81, q82, q88,
      q96, q103, q113, q116, q120, q128, q134, q139, q150, q156, q161, q162,
      q165, q166, q168, q180, q188, q204, q206)
}
