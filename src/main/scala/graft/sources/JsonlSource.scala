package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** JSONL (one JSON object per line) ingest/egress — the de-facto interchange
  * format of LLM training-data pipelines, added as an engine source next to
  * the reference's parquet-only surface.
  *
  * Scale rules encoded here:
  *  - ALWAYS pass an explicit schema at scale: schema inference is a full
  *    extra pass over the data before the real read. The schema-less
  *    overload exists for exploration and says so.
  *  - Malformed lines must not kill a 100 TB job: PERMISSIVE mode captures
  *    them in a `_corrupt_record` column (audit path), DROPMALFORMED drops
  *    them (throughput path). Line-level tolerance is the JSONL analogue of
  *    the reference's file-level `exclude_invalid_files` (A3).
  *  - JSONL is a landing/interchange format, not a query format: no column
  *    pruning, no predicate pushdown, ~4-8× parquet's bytes. [[toParquet]]
  *    is the first thing a pipeline should do with one.
  */
object JsonlSource {

  /** Audit-mode read: bad lines land in `_corrupt_record` instead of
    * failing the job; good lines parse normally. */
  def readJsonl(spark: SparkSession, schema: StructType, path: String*): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path: _*)

  /** Throughput-mode read: malformed lines are dropped. */
  def readJsonlDropMalformed(spark: SparkSession, schema: StructType, path: String*): DataFrame =
    spark.read
      .schema(schema)
      .option("mode", "DROPMALFORMED")
      .json(path: _*)

  /** Write as JSONL (interchange/egress). */
  def writeJsonl(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).json(path)

  /** Land JSONL into parquet — the step every pipeline should run before
    * querying: columnar layout, stats, pruning, pushdown. */
  def toParquet(spark: SparkSession, schema: StructType, jsonlPath: String,
      parquetPath: String): Unit =
    readJsonlDropMalformed(spark, schema, jsonlPath)
      .write.mode("overwrite").parquet(parquetPath)
}
