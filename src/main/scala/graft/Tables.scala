package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver testdata tables (TESTDATA.md / FIXTURES.md §2).
  *
  * The reference engine's "dataset" abstraction is one-or-more parquet files
  * treated as a single logical table (reference: README.md:36,
  * src/parquetreader/reader.py:128-129); `spark.read.parquet` is the native
  * equivalent — a directory of part-files is one table, schema comes from the
  * parquet footers, and column pruning / predicate pushdown are handled by
  * Catalyst + the vectorized parquet reader.
  */
final class Tables(val spark: SparkSession, val dir: String) {
  // events.ts is TIMESTAMP(NANOS) parquet, which Spark 4 rejects outright
  // (PARQUET_TYPE_ILLEGAL). Read nanos as long, then lower to microsecond
  // timestamps — the same precision DuckDB reads these files at, so both
  // engines see identical instants (SURVEY.md §7.4.3).
  spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  // Every table normalizes ALL timestamp-NTZ columns on load, not just
  // events.ts: the same regeneration that flipped events to µs-NTZ also
  // ships orders.o_orderdate / lineitem.l_shipdate as µs-NTZ, which only
  // keep working because no current query casts THEM to BIGINT. Uniform
  // TimestampType (UTC session everywhere) closes the whole drift class.
  private def t(name: String): DataFrame =
    Tables.normalizeAllTs(spark.read.parquet(s"$dir/$name.parquet"))
  // lazy vals: file listing + footer/schema read happen once per table per
  // Tables instance; with Tables.forPath that is once per (session, dir) —
  // a 47-query bench run otherwise pays the footer read 47× per table.
  lazy val region: DataFrame     = t("region")
  lazy val nation: DataFrame     = t("nation")
  lazy val customer: DataFrame   = t("customer")
  lazy val supplier: DataFrame   = t("supplier")
  lazy val part: DataFrame       = t("part")
  lazy val orders: DataFrame     = t("orders")
  lazy val lineitem: DataFrame   = t("lineitem")
  lazy val events: DataFrame     = Tables.normalizeTs(t("events"), "ts")
  lazy val documents: DataFrame  = t("documents")
  lazy val embeddings: DataFrame = t("embeddings")
}

object Tables {
  /** Memoized Tables per (session, data dir): all queries of a run share one
    * set of resolved DataFrames instead of re-reading parquet footers. */
  def forPath(spark: SparkSession, dir: String): Tables =
    Artifacts.get(spark, dir, "tables")(new Tables(spark, dir))

  /** Normalize the event-time column to `TimestampType` across every
    * encoding the driver testdata has shipped with:
    *   - TIMESTAMP(NANOS) read as nanos-as-long (legacy flag above):
    *     exact long division — nanos ≈ 1.7e18 exceed double precision,
    *     so no `/` — then `timestamp_micros`.
    *   - timestamp[us] without UTC adjustment (pyarrow default), which
    *     Spark 4 infers as TIMESTAMP_NTZ: cast to TimestampType. The
    *     session TZ is pinned UTC everywhere (Verify, Bench, sbt), so
    *     NTZ-as-UTC preserves exactly the instants DuckDB reads from the
    *     same file (DuckDB sees naive µs either way — oracle unchanged).
    *   - timestamp[us] UTC-adjusted (TimestampType): pass through.
    * All three load identical instants (TsEncodingSpec). */
  def normalizeTs(df: DataFrame, c: String): DataFrame =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn(c, expr(s"timestamp_micros($c div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(c, col(c).cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** [[normalizeTs]] over every TIMESTAMP_NTZ column of a table (the
    * nanos-as-long case stays events-specific — a bare LongType column is
    * indistinguishable from a legitimate long). */
  def normalizeAllTs(df: DataFrame): DataFrame =
    df.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.TimestampNTZType => f.name
    }.foldLeft(df)((d, c) => normalizeTs(d, c))
}

/** Shared helpers enforcing the determinism rules of SURVEY.md §7.4. */
object dsl {
  /** Total-order the output on every column, left to right — the exact
    * mirror of DuckDB's `ORDER BY ALL`. All query outputs are constructed
    * null-free, so Spark's NULLS FIRST vs DuckDB's NULLS LAST default can
    * never diverge. Spark multi-file read order is not stable (SURVEY.md §2
    * A2), so every oracle-checked result imposes this explicit total order.
    */
  def orderedByAll(df: DataFrame): DataFrame =
    df.orderBy(df.columns.toIndexedSeq.map(col): _*)

  /** Float aggregates are rounded to 4dp on both engines (SURVEY.md §7.4.2). */
  def round4(c: Column): Column = round(c, 4)

  /** Timestamps never leave a query raw: epoch seconds as BIGINT on both
    * engines (Spark `cast(ts as long)` == DuckDB `epoch_us(ts)//1000000`
    * for post-1970 values; SURVEY.md §7.4.3). */
  def epochSec(c: Column): Column = c.cast("long")

  /** Whitespace tokens of the `documents.text` column (single-space
    * separated lowercase tokens per FIXTURES.md §2). */
  def toks(c: Column): Column = split(c, " ")

  /** k-token shingles ("w1 w2 .. wk") per document, distinct. Caller must
    * filter size(tokens) >= k first (below k the kernel returns an empty
    * array). Round 18: a fused codegen expression
    * ([[graft.functions.ShingleJoin]]) replaced the
    * `array_distinct(transform(sequence, i => concat_ws(slice)))` form —
    * higher-order functions are CodegenFallback, so the text family's
    * hottest map expression ran interpreted AND broke whole-stage codegen
    * for its enclosing stage. Same array: same window positions, same
    * space join (null-skipping, ConcatWs's own runtime), same
    * first-occurrence-order distinct — every shingle-bearing oracle hash
    * is unchanged. */
  def shingles(tokCol: Column, k: Int): Column =
    graft.functions.ShingleJoin(tokCol, k)

  /** Left-fold double sum over an array column — identical accumulation
    * order to the DuckDB mirror `list_reduce(list_prepend(0.0, xs), +)`,
    * giving bit-identical doubles across engines. */
  def foldSum(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, x) => acc + x)

  /** L2 norm of a float-array column in double precision. */
  def l2norm(a: Column): Column =
    sqrt(foldSum(transform(a, x => x.cast("double") * x.cast("double"))))
}

/** One engine operator: a DataFrame program plus (optionally) the ANSI-SQL
  * DuckDB oracle the driver hash-compares it against (SURVEY.md §2 Part B).
  * Column names and order MUST match between `body`'s output and `oracle`.
  */
final case class EngineQuery(name: String, oracle: Option[String])(
    body: Tables => DataFrame) {
  def run(spark: SparkSession, sfDir: String): DataFrame =
    body(Tables.forPath(spark, sfDir))
}
