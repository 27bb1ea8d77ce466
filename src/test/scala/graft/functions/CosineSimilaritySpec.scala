package graft.functions

import graft.{SharedSparkSpec, Tables}
import graft.dsl.{foldSum, l2norm}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The native codegen'd expression must be bit-for-bit identical to the
  * fold-based formulation that the DuckDB oracles mirror — otherwise
  * swapping it into oracle-checked queries would shift rounded values. */
class CosineSimilaritySpec extends SharedSparkSpec {

  /** The oracles' dot product: a left fold from 0.0 in index order. */
  private def dot(a: Column, b: Column): Column =
    foldSum(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")))

  test("native cosine == fold-based cosine, bit-exact, over all pairs of first 50") {
    val e = new Tables(spark, sf001).embeddings.filter(col("vec_id") < 50)
    val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    val pairs = a.crossJoin(b).filter(col("va") < col("vb"))
    val cmp = pairs.select(
      CosineSimilarity(col("ea"), col("eb")).as("native"),
      (dot(col("ea"), col("eb")) / (l2norm(col("ea")) * l2norm(col("eb")))).as("folded"))
    val rows = cmp.collect()
    assert(rows.length == 50 * 49 / 2)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("null input yields null; interpreted eval matches codegen") {
    val df = spark.sql(
      """SELECT CAST(array(1.0, 2.0) AS array<float>) AS a,
        |       CAST(array(2.0, 3.0) AS array<float>) AS b,
        |       CAST(NULL AS array<float>) AS n""".stripMargin)
    val out = df.select(
      CosineSimilarity(col("a"), col("b")).as("ab"),
      CosineSimilarity(col("a"), col("n")).as("an")).collect().head
    assert(math.abs(out.getDouble(0) - 8.0 / (math.sqrt(5) * math.sqrt(13))) < 1e-12)
    assert(out.isNullAt(1))
    // interpreted path
    val expr = CosineSimilarity(
      org.apache.spark.sql.GraftShims.expression(col("a")),
      org.apache.spark.sql.GraftShims.expression(col("b")))
    val lit = CosineSimilarity(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(1.0f, 2.0f), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(2.0f, 3.0f), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))
    val v = lit.eval(null).asInstanceOf[Double]
    assert(math.abs(v - out.getDouble(0)) < 1e-15)
  }
}
