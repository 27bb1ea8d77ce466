package graft.functions

import graft.SharedSparkSpec
import org.apache.spark.sql.functions._

/** [[ShingleJoin]] must produce the EXACT array the old higher-order-
  * function formulation produced — same window positions, same space
  * join, same first-occurrence-order distinct — on every real document,
  * or every shingle-bearing oracle hash (q36/q50/q104/q175/q227, the
  * curation family, the postings layouts…) silently moves. */
class ShingleJoinSpec extends SharedSparkSpec {
  import graft.dsl._

  private def oldShingles(tokCol: org.apache.spark.sql.Column, k: Int) =
    array_distinct(transform(
      sequence(lit(1), size(tokCol) - (k - 1)),
      i => concat_ws(" ", slice(tokCol, i, lit(k)))))

  test("kernel == the old array_distinct(transform(concat_ws(slice))) on every doc") {
    val t = new graft.Tables(spark, sf001)
    for (k <- Seq(3, 5, 8)) {
      val base = t.documents
        .select(col("doc_id"), toks(col("text")).as("tk"))
        .filter(size(col("tk")) >= k)
      val diff = base.select(
        col("doc_id"),
        shingles(col("tk"), k).as("fused"),
        oldShingles(col("tk"), k).as("hof"))
        .filter(not(col("fused") === col("hof")))
        .count()
      assert(diff == 0, s"k=$k: fused shingles diverged from the HOF form on $diff docs")
    }
  }

  /** `shingles` over `rows`, once in a whole-stage-codegen projection and
    * once interpreted, must equal the old form (null-safe) on every row.
    * The rows go through parquet so the optimizer cannot fold the
    * expressions over a local relation before either path runs. */
  private def bothPaths(rows: Seq[Seq[String]], k: Int): Unit = {
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    val spark2 = spark; import spark2.implicits._
    val dir = tmpDir("shingle-nulls")
    rows.zipWithIndex.map { case (tk, i) => (i, tk) }.toDF("i", "tk")
      .write.mode("overwrite").parquet(dir)
    def byRow(c: org.apache.spark.sql.Column): Map[Int, Seq[String]] =
      spark.read.parquet(dir).select(col("i"), c).collect()
        .map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    // The old form's higher-order functions are CodegenFallback, so it
    // never joins a whole-stage projection: its result is the same for
    // both paths.
    val hof = byRow(oldShingles(col("tk"), k))
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    for ((codegen, mode) <- Seq((true, "CODEGEN_ONLY"), (false, "NO_CODEGEN"))) {
      val prev = keys.map(key => key -> spark.conf.getOption(key))
      try {
        spark.conf.set(keys(0), codegen.toString)
        spark.conf.set(keys(1), mode)
        val plan = spark.read.parquet(dir).select(shingles(col("tk"), k))
          .queryExecution.executedPlan
        val fusedInStage = plan.exists {
          case w: WholeStageCodegenExec => w.child.exists(_.isInstanceOf[ProjectExec])
          case _ => false
        }
        assert(fusedInStage == codegen, plan)
        val fused = byRow(shingles(col("tk"), k))
        for (i <- rows.indices)
          assert(fused(i) == hof(i), s"k=$k codegen=$codegen tokens=${rows(i)}")
      } finally prev.foreach {
        case (key, Some(v)) => spark.conf.set(key, v)
        case (key, None) => spark.conf.unset(key)
      }
    }
  }

  test("null token array: kernel == the old form, interpreted and codegen") {
    for (k <- Seq(1, 2, 3)) bothPaths(Seq(null, Seq("a", "b", "c")), k)
  }

  test("null tokens inside the array: both forms skip them, interpreted and codegen") {
    val rows = Seq(
      Seq("a", null, "b", "c"),
      Seq(null, null, null, "a"),  // an all-null window joins to ""
      Seq("a", null, "a", null, "a"),
      Seq(null, "x", null))
    for (k <- Seq(1, 2, 3)) bothPaths(rows, k)
  }

  test("defined empty result below k (the old form's guarded edge)") {
    val spark2 = spark; import spark2.implicits._
    val df = Seq(Seq("a", "b")).toDF("tk")
      .select(shingles(col("tk"), 5).as("sh"))
    assert(df.head().getSeq[String](0).isEmpty)
  }
}
