package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused per-bucket retrieval kernel for the cross-modal family
  * (q220/q224/q231): the [[HammingCosineScan]] of ONE packed bucket
  * (256-bit signatures), returning the running maximum of the admitted
  * entries by (round4(cos) desc, id asc) as an (img_id, cos) struct —
  * null when no entry is admitted.
  *
  * Why fused: the shortlist form of this kernel (round-14 intermediate)
  * made candidate FORMATION cheap — 3.04 G Hamming evals in 2.4 s at
  * sf10x — but still emitted the slack-admitted population (23.3 M rows
  * at sf10x) into two embedding fetch joins + a pair-scale top-1
  * aggregation, which cost ~8.4 s of the 13 s warm. Scoring inside the
  * scan removes the fetch joins entirely: the cosine flops on admitted
  * entries are trivial (23 M × 2·dim ≈ 3 GFLOP), the per-(query, probe)
  * output is ONE 16-byte struct, and the per-query top-1 is an 8-row
  * aggregation. It also RESTORES exact slack-only semantics — a bounded
  * shortlist had to argue an eviction-loss tail; a running max has none.
  *
  * Numeric contract (mirrored by CrossModalSpec/CrossModalIncrementalSpec
  * single-node references): the scan's Hamming and cosine; comparison is
  * on the ROUNDED value with ascending-id scan order, so the strict `>`
  * update keeps the LOWEST id among rounded ties. A cheap `raw > best −
  * 1e-4` guard skips the BigDecimal for candidates that cannot reach the
  * current best after rounding (round4 moves a value by < 5e-5).
  */
case class HammingCosineTop1(
    ids: Expression, sigs: Expression, embs: Expression,
    qsig: Expression, qemb: Expression,
    words: Int, slack: Int, dim: Int)
    extends HammingCosineScan {
  import HammingCosineScan.{round4, round4Code, ScanStep}

  require(words > 0 && slack >= 0 && dim > 0, "words, slack, dim must be positive")

  override protected def extra: Seq[Expression] = Nil
  override protected def extraTypes: Seq[DataType] = Nil
  override def dataType: DataType = StructType(Seq(
    StructField("img_id", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = false)))
  override def prettyName: String = "graft_hamming_cosine_top1"

  override protected def step(extraValues: Seq[Any]): Step = new Step {
    private var found = false
    private var bestId = 0L
    private var bestCos = Double.NegativeInfinity
    def admit(ids: ArrayData, e: Int, raw: Double): Unit =
      if (!found || raw > bestCos - 1e-4) {
        val r = round4(raw)
        if (!found || r > bestCos) { found = true; bestCos = r; bestId = ids.getLong(e) }
      }
    def result: Any = if (found) new GenericInternalRow(Array[Any](bestId, bestCos)) else null
  }

  override protected def genStep(ctx: CodegenContext, ev: ExprCode, ids: String, e: String,
      raw: String, extraValues: Seq[ExprCode]): ScanStep = {
    val found = ctx.freshName("found"); val r = ctx.freshName("r")
    val bestId = ctx.freshName("bestId"); val bestCos = ctx.freshName("bestCos")
    ScanStep(
      init = s"""boolean $found = false;
                |long $bestId = 0L;
                |double $bestCos = java.lang.Double.NEGATIVE_INFINITY;""".stripMargin,
      guard = "",
      admit = s"""if (!$found || $raw > $bestCos - 1e-4) {
                 |  double $r = ${round4Code(raw)};
                 |  if (!$found || $r > $bestCos) {
                 |    $found = true; $bestCos = $r; $bestId = $ids.getLong($e);
                 |  }
                 |}""".stripMargin,
      finish = s"""if ($found) {
                  |  ${ev.isNull} = false;
                  |  ${ev.value} = new ${classOf[GenericInternalRow].getName}(new Object[]{$bestId, $bestCos});
                  |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(ids = newChildren(0), sigs = newChildren(1), embs = newChildren(2),
      qsig = newChildren(3), qemb = newChildren(4))
}

object HammingCosineTop1 {
  /** Column-API entry point. */
  def apply(ids: Column, sigs: Column, embs: Column, qsig: Column,
      qemb: Column, words: Int, slack: Int, dim: Int): Column =
    GraftShims.column(HammingCosineTop1(
      GraftShims.expression(ids), GraftShims.expression(sigs),
      GraftShims.expression(embs), GraftShims.expression(qsig),
      GraftShims.expression(qemb), words, slack, dim))
}
