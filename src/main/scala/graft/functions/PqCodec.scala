package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** The three PQ kernels — encode, query LUT, ADC score — as fused codegen
  * expressions ([[NearestCentroids]]'s pattern applied to [[PqIndex]]).
  *
  * The previous formulation built each of the M×K per-codeword distances as
  * its own `aggregate(zip_with(slice(emb,...), typedLit(codeword), ...))`
  * column: higher-order functions are CodegenFallback, so every encode and
  * every ADC score ran as interpreted per-row lambda walks with 64 slice +
  * zip_with array allocations per vector, and the 64 inlined codeword
  * literals put ~150 KB of expression tree into every PQ plan (q118, q127,
  * q140, q146, q186) — ~0.4 s of construct/optimize latency per run before
  * a row moved. Here the codebook rides the plan as ONE flat reference
  * object (1 KB of doubles, structural equality preserved via the
  * IndexedSeq constructor arg) and the loops run in generated Java.
  *
  * Numeric contract — bit-exact with the old expressions, pinned by PqSpec
  * against [[PqIndex.encodeLocal]]:
  *  - d2 accumulates `(x.toDouble − cw_i)²` in ascending dim order from 0.0
  *    (the [[KMeansTrainer.d2]] / foldSum(zip_with) rounding, identical IEEE
  *    op sequence);
  *  - argmin is strict `<` over ascending codeword index, so ties keep the
  *    LOWEST codeword — same as `array_position(d, array_min(d))`'s first
  *    match;
  *  - ADC sums `lut(s)(code(s))` in ascending subspace order from 0.0 (the
  *    foldSum order).
  *
  * Inputs are array<float> (raw embeddings) or array<double> (residuals) —
  * both call sites of the old `subD2` cast elements to double first, so the
  * arithmetic is identical either way.
  */
private[functions] trait PqBookExpression extends UnaryExpression {
  def books: IndexedSeq[Double] // flat (s, j, i)-major: M × K × subDim
  def m: Int
  def k: Int
  def subDim: Int

  require(m > 0 && k > 0 && subDim > 0 && books.length == m * k * subDim,
    "books must be m x k x subDim, row-major")

  @transient protected lazy val flat: Array[Double] = books.toArray

  protected def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float> or array<double>, got $other")
  }

  /** Read element `idx` of the input vector as double (both call sites of
    * the old subD2 cast to double before the subtraction). */
  protected def elemAt(x: ArrayData, idx: Int): Double =
    if (elemIsFloat) x.getFloat(idx).toDouble else x.getDouble(idx)

  /** The generated-Java twin of [[elemAt]]. */
  protected def genElemAt(a: String, idx: String): String =
    if (elemIsFloat) s"((double) $a.getFloat($idx))" else s"$a.getDouble($idx)"
}

/** Map-only PQ encode: array<int> of `m` codeword indices per vector. */
case class PqEncode(child: Expression, books: IndexedSeq[Double],
    m: Int, k: Int, subDim: Int)
    extends UnaryExpression with PqBookExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bd = Double.MaxValue
      var j = 0
      while (j < k) {
        var d = 0.0; var i = 0; val off = (s * k + j) * subDim; val xo = s * subDim
        while (i < subDim) {
          val t = elemAt(x, xo + i) - flat(off + i); d += t * t; i += 1
        }
        if (d < bd) { bd = d; best = j }
        j += 1
      }
      codes(s) = best
      s += 1
    }
    new GenericArrayData(codes.map(Int.box))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("books", flat, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val codes = ctx.freshName("codes"); val s = ctx.freshName("s")
      val j = ctx.freshName("j"); val i = ctx.freshName("i")
      val off = ctx.freshName("off"); val xo = ctx.freshName("xo")
      val d = ctx.freshName("d"); val tt = ctx.freshName("t")
      val best = ctx.freshName("best"); val bd = ctx.freshName("bd")
      s"""
         |int[] $codes = new int[$m];
         |for (int $s = 0; $s < $m; $s++) {
         |  int $best = 0;
         |  double $bd = java.lang.Double.MAX_VALUE;
         |  int $xo = $s * $subDim;
         |  for (int $j = 0; $j < $k; $j++) {
         |    double $d = 0.0; int $off = ($s * $k + $j) * $subDim;
         |    for (int $i = 0; $i < $subDim; $i++) {
         |      double $tt = ${genElemAt(a, s"$xo + $i")} - $booksRef[$off + $i];
         |      $d += $tt * $tt;
         |    }
         |    if ($d < $bd) { $bd = $d; $best = $j; }
         |  }
         |  $codes[$s] = $best;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($codes);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-query ADC lookup table: array (size m) of array (size k) of the
  * squared L2 between the query's subvector and each codeword. */
case class PqLut(child: Expression, books: IndexedSeq[Double],
    m: Int, k: Int, subDim: Int)
    extends UnaryExpression with PqBookExpression {

  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def prettyName: String = "graft_pq_lut"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val rows = new Array[Any](m)
    var s = 0
    while (s < m) {
      val row = new Array[Double](k)
      var j = 0
      while (j < k) {
        var d = 0.0; var i = 0; val off = (s * k + j) * subDim; val xo = s * subDim
        while (i < subDim) {
          val t = elemAt(x, xo + i) - flat(off + i); d += t * t; i += 1
        }
        row(j) = d
        j += 1
      }
      rows(s) = new GenericArrayData(row)
      s += 1
    }
    new GenericArrayData(rows)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("books", flat, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val rows = ctx.freshName("rows"); val row = ctx.freshName("row")
      val s = ctx.freshName("s"); val j = ctx.freshName("j")
      val i = ctx.freshName("i"); val off = ctx.freshName("off")
      val xo = ctx.freshName("xo")
      val d = ctx.freshName("d"); val tt = ctx.freshName("t")
      s"""
         |Object[] $rows = new Object[$m];
         |for (int $s = 0; $s < $m; $s++) {
         |  double[] $row = new double[$k];
         |  int $xo = $s * $subDim;
         |  for (int $j = 0; $j < $k; $j++) {
         |    double $d = 0.0; int $off = ($s * $k + $j) * $subDim;
         |    for (int $i = 0; $i < $subDim; $i++) {
         |      double $tt = ${genElemAt(a, s"$xo + $i")} - $booksRef[$off + $i];
         |      $d += $tt * $tt;
         |    }
         |    $row[$j] = $d;
         |  }
         |  $rows[$s] = new org.apache.spark.sql.catalyst.util.GenericArrayData($row);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($rows);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** ADC score: approx squared L2 = Σ_s lut(s)(code(s)) — the per-candidate
  * hot loop of every PQ search (runs once per (vector, query) pair). A
  * code count other than the LUT's subspace count is an error, never a
  * truncated sum. */
case class PqAdc(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_adc"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(ArrayType(DoubleType, _), _), ArrayType(IntegerType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<array<double>>, array<int>), got ($l, $r)")
  }

  override def nullSafeEval(lutAny: Any, codesAny: Any): Any = {
    val lut = lutAny.asInstanceOf[ArrayData]
    val codes = codesAny.asInstanceOf[ArrayData]
    val n = lut.numElements()
    require(codes.numElements() == n,
      s"$prettyName: lut has $n subspaces but codes has ${codes.numElements()}")
    var sum = 0.0
    var s = 0
    while (s < n) {
      sum += lut.getArray(s).getDouble(codes.getInt(s))
      s += 1
    }
    sum
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (lut, codes) => {
      val n = ctx.freshName("n"); val s = ctx.freshName("s")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = $lut.numElements();
         |if ($codes.numElements() != $n) {
         |  throw new IllegalArgumentException("$prettyName: lut has " + $n +
         |    " subspaces but codes has " + $codes.numElements());
         |}
         |double $sum = 0.0;
         |for (int $s = 0; $s < $n; $s++) {
         |  $sum += $lut.getArray($s).getDouble($codes.getInt($s));
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object PqCodec {
  def encode(emb: Column, books: IndexedSeq[Double], m: Int, k: Int, subDim: Int): Column =
    GraftShims.column(PqEncode(GraftShims.expression(emb), books, m, k, subDim))

  def lut(emb: Column, books: IndexedSeq[Double], m: Int, k: Int, subDim: Int): Column =
    GraftShims.column(PqLut(GraftShims.expression(emb), books, m, k, subDim))

  def adc(lut: Column, codes: Column): Column =
    GraftShims.column(PqAdc(GraftShims.expression(lut), GraftShims.expression(codes)))
}
