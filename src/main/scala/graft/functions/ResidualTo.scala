package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** `emb − centroid(bucket)` as array<double>, fused and codegen'd — the
  * residual a FAISS-style IVF-PQ index quantizes instead of the raw vector
  * ([[KMeansTrainer.residualTo]]'s kernel). The previous formulation was
  * `zip_with(emb, element_at(typedLit(centroids), bucket+1), x.double − y)`:
  * zip_with is CodegenFallback, so the subtraction ran as an interpreted
  * per-row lambda walk over the corpus in every residual encode build
  * (q140/q146/q186), and the k×dim literal centroid table rode each plan
  * as ~20 KB of expression tree. Here the table is ONE flat reference
  * object (IndexedSeq constructor arg keeps structural equality for plan
  * canonicalization) and the loop runs in generated Java.
  *
  * Numeric contract — identical to the old expression element-for-element:
  * out(i) = emb(i).toDouble − cents(bucket·dim + i), the exact IEEE ops of
  * `x.cast("double") − y`. Accepts array<float> (the only production input)
  * and array<double> for symmetry with [[PqEncode]]/[[PqLut]]. An
  * embedding whose length is not `dim` is an error, never a truncated
  * residual.
  */
case class ResidualTo(left: Expression, right: Expression,
    cents: IndexedSeq[Double], dim: Int) extends BinaryExpression {

  require(dim > 0 && cents.nonEmpty && cents.length % dim == 0,
    "cents must be k x dim, row-major")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_residual_to"

  @transient private lazy val flat: Array[Double] = cents.toArray

  private def elemIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), IntegerType) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<float|double>, int), got ($l, $r)")
  }

  override def nullSafeEval(embAny: Any, bucketAny: Any): Any = {
    val x = embAny.asInstanceOf[ArrayData]
    val off = bucketAny.asInstanceOf[Int] * dim
    require(x.numElements() == dim,
      s"$prettyName: embedding has ${x.numElements()} elements but the model dim is $dim")
    val out = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      out(i) = (if (elemIsFloat) x.getFloat(i).toDouble else x.getDouble(i)) - flat(off + i)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", flat, "double[]")
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val off = ctx.freshName("off"); val out = ctx.freshName("out")
      val get = if (elemIsFloat) s"((double) $a.getFloat($i))" else s"$a.getDouble($i)"
      s"""
         |if ($a.numElements() != $dim) {
         |  throw new IllegalArgumentException("$prettyName: embedding has " + $a.numElements() +
         |    " elements but the model dim is $dim");
         |}
         |int $off = $b * $dim;
         |double[] $out = new double[$dim];
         |for (int $i = 0; $i < $dim; $i++) {
         |  $out[$i] = $get - $centsRef[$off + $i];
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ResidualTo {
  /** Column-API entry point: flat row-major centroid matrix. */
  def apply(emb: Column, bucket: Column, cents: IndexedSeq[Double], dim: Int): Column =
    GraftShims.column(ResidualTo(
      GraftShims.expression(emb), GraftShims.expression(bucket), cents, dim))
}
