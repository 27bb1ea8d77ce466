package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The packed-bucket scan shared by [[HammingCosineTop1]] and
  * [[HammingCosineReject]]: walk ONE packed bucket (ids ascending; id-major
  * `words`-long signatures; id-major fixed-`dim` embeddings), admit the
  * entries within Hamming `slack` of the query signature, and score each
  * admitted entry with EXACT cosine against the query embedding. A subclass
  * adds only what it does with an admitted entry (and, optionally, when the
  * scan stops early), in both the interpreted [[eval]] and the generated
  * code.
  *
  * Numeric contract: Hamming is bit_count over the XOR of the raw signature
  * words; cosine accumulates dot and both norms in index order with double
  * precision and combines as dot/(sqrt·sqrt) — exactly
  * [[CosineSimilarity]]; rounding, where a step needs it, is Spark's
  * round(x, 4) on doubles (BigDecimal.valueOf → setScale(4, HALF_UP)). A
  * null input makes the result null.
  */
abstract class HammingCosineScan extends Expression with ExpectsInputTypes {
  import HammingCosineScan.ScanStep

  def ids: Expression
  def sigs: Expression
  def embs: Expression
  def qsig: Expression
  def qemb: Expression
  def words: Int
  def slack: Int
  def dim: Int

  /** The subclass's own operands, after the five scan inputs. */
  protected def extra: Seq[Expression]
  protected def extraTypes: Seq[DataType]

  override def children: Seq[Expression] = Seq(ids, sigs, embs, qsig, qemb) ++ extra
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType), ArrayType(FloatType),
      ArrayType(LongType), ArrayType(FloatType)) ++ extraTypes
  override def nullable: Boolean = true

  /** Interpreted per-row step over the scan. */
  protected abstract class Step {
    /** Whether the scan goes on to entry `e`, checked before its Hamming test. */
    def continue(ids: ArrayData, e: Int): Boolean = true
    /** Entry `e` was admitted with raw cosine `raw`. */
    def admit(ids: ArrayData, e: Int, raw: Double): Unit
    def result: Any
  }

  /** A fresh step for one row, given the values of [[extra]]. */
  protected def step(extraValues: Seq[Any]): Step

  /** The generated form of [[step]]: `ids` is the ids array, `e` the entry
    * index, `raw` the admitted entry's raw cosine, `extraValues` the
    * generated [[extra]] operands. */
  protected def genStep(ctx: CodegenContext, ev: ExprCode, ids: String, e: String,
      raw: String, extraValues: Seq[ExprCode]): ScanStep

  override def eval(input: InternalRow): Any = {
    val values = children.map(_.eval(input))
    if (values.contains(null)) return null
    val Seq(idsA, sigsA, embsA, qsigA, qembA) =
      values.take(5).map(_.asInstanceOf[ArrayData])
    val n = math.min(idsA.numElements(),
      math.min(sigsA.numElements() / words, embsA.numElements() / dim))
    val qw = Array.tabulate(words)(qsigA.getLong)
    val qn = math.min(qembA.numElements(), dim)
    val qd = new Array[Double](dim)
    var i = 0
    while (i < qn) { qd(i) = qembA.getFloat(i).toDouble; i += 1 }
    val st = step(values.drop(5))
    var e = 0
    while (e < n && st.continue(idsA, e)) {
      var h = 0; var k = 0; val soff = e * words
      while (k < words) {
        h += java.lang.Long.bitCount(sigsA.getLong(soff + k) ^ qw(k)); k += 1
      }
      if (h <= slack) {
        var dot = 0.0; var nx = 0.0; var ny = 0.0
        var j = 0; val eoff = e * dim
        while (j < qn) {
          val xv = qd(j)
          val yv = embsA.getFloat(eoff + j).toDouble
          dot += xv * yv; nx += xv * xv; ny += yv * yv
          j += 1
        }
        st.admit(idsA, e, dot / (math.sqrt(nx) * math.sqrt(ny)))
      }
      e += 1
    }
    st.result
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val Seq(idsG, sigsG, embsG, qsigG, qembG) = gens.take(5)
    val n = ctx.freshName("n"); val qw = ctx.freshName("qw")
    val qd = ctx.freshName("qd"); val qn = ctx.freshName("qn")
    val k = ctx.freshName("k"); val e = ctx.freshName("e")
    val h = ctx.freshName("h"); val soff = ctx.freshName("soff")
    val eoff = ctx.freshName("eoff"); val j = ctx.freshName("j")
    val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx")
    val ny = ctx.freshName("ny"); val raw = ctx.freshName("raw")
    val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
    val st = genStep(ctx, ev, idsG.value.toString, e, raw, gens.drop(5))
    val guard = if (st.guard.isEmpty) "" else s" && ${st.guard}"
    ev.copy(code =
      code"""
        ${Block.blocksToBlock(gens.map(_.code))}
        boolean ${ev.isNull} = true;
        ${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        if (${gens.map(g => s"!${g.isNull}").mkString(" && ")}) {
          int $n = java.lang.Math.min(${idsG.value}.numElements(),
            java.lang.Math.min(${sigsG.value}.numElements() / $words,
              ${embsG.value}.numElements() / $dim));
          long[] $qw = new long[$words];
          for (int $k = 0; $k < $words; $k++) $qw[$k] = ${qsigG.value}.getLong($k);
          int $qn = java.lang.Math.min(${qembG.value}.numElements(), $dim);
          double[] $qd = new double[$dim];
          for (int $k = 0; $k < $qn; $k++) $qd[$k] = (double) ${qembG.value}.getFloat($k);
          ${st.init}
          for (int $e = 0; $e < $n$guard; $e++) {
            int $h = 0; int $soff = $e * $words;
            for (int $k = 0; $k < $words; $k++) {
              $h += java.lang.Long.bitCount(${sigsG.value}.getLong($soff + $k) ^ $qw[$k]);
            }
            if ($h <= $slack) {
              double $dot = 0.0, $nx = 0.0, $ny = 0.0;
              int $eoff = $e * $dim;
              for (int $j = 0; $j < $qn; $j++) {
                double $xv = $qd[$j];
                double $yv = (double) ${embsG.value}.getFloat($eoff + $j);
                $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
              }
              double $raw = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
              ${st.admit}
            }
          }
          ${st.finish}
        }
      """)
  }
}

object HammingCosineScan {
  /** A generated scan step: `init` runs once per row before the scan,
    * `guard` (empty for none) is an extra loop condition checked before
    * each entry, `admit` runs per admitted entry, `finish` sets the
    * result (and clears isNull) after the scan. */
  final case class ScanStep(init: String, guard: String, admit: String, finish: String)

  def round4(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Java source of [[round4]] over the double expression `x`. */
  def round4Code(x: String): String =
    s"java.math.BigDecimal.valueOf($x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()"
}
