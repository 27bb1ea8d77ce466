package graft.operators

import graft.SharedSparkSpec
import org.apache.spark.sql.functions._

/** The media near-dup family on degenerate corpora: 0-, 1- and 7-row
  * `documents` tables (the first rows of sf0.001 by doc_id), all below the
  * coarse models' k floor of 8. The one-shot audits (q218/q219/q223) and
  * the nightly ingests (q221/q225/q226) must not throw, and each output
  * schema must equal the query's sf0.001 schema. The 1-row table is doc 0
  * alone — an empty store and a one-doc batch — so its nightly audits must
  * admit everything; the empty table gives empty audits.
  */
class MediaDegenerateSpec extends SharedSparkSpec {

  private val queries = Seq(
    MultimodalQueries.q218, MultimodalQueries.q219, MultimodalQueries.q223,
    MultimodalQueries.q221, MultimodalQueries.q225, MultimodalQueries.q226)
  private val nightly = Set(
    MultimodalQueries.q221, MultimodalQueries.q225, MultimodalQueries.q226).map(_.name)

  private lazy val fullSchemas =
    queries.map(q => q.name -> q.run(spark, sf001).schema).toMap

  for (n <- Seq(0, 1, 7)) test(s"media near-dup family on a $n-row documents table") {
    val dir = tmpDir(s"media_degenerate_$n")
    spark.read.parquet(s"$sf001/documents.parquet")
      .orderBy("doc_id").limit(n)
      .write.parquet(s"$dir/documents.parquet")
    for (q <- queries) {
      val df = q.run(spark, dir)
      val rows = df.collect()
      assert(df.schema == fullSchemas(q.name),
        s"${q.name} on $n rows: schema ${df.schema.simpleString} " +
          s"!= sf0.001 ${fullSchemas(q.name).simpleString}")
      if (n == 0) assert(rows.isEmpty, s"${q.name}: an empty corpus must audit nothing")
      if (n == 1 && nightly(q.name)) {
        val rejected = df.agg(sum(col("n_rejected"))).head()
        assert(rejected.isNullAt(0) || rejected.getLong(0) == 0L,
          s"${q.name}: an empty store must admit the whole batch")
        assert(rows.map(_.getAs[Long]("n_batch")).sum == 1L)
      }
    }
  }
}
