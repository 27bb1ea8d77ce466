package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused per-bucket ingest DECISION kernel for the nightly media family
  * (q221/q225/q226): the [[HammingCosineScan]] of ONE packed bucket,
  * returning TRUE as soon as any entry with id < `idBound` sits within Hamming
  * `slack` of the query signature AND at exact rounded cosine ≥
  * `threshold` of the query embedding — i.e. "does a neighbor that
  * rejects this arrival exist in this bucket?". FALSE when none does;
  * null only when an input is null (an absent ledger bucket under a left
  * join).
  *
  * `idBound` encodes both sides of the store-or-earlier-member rule in one
  * kernel: the frozen-ledger scan passes Long.MaxValue (ANY ledger member
  * rejects — everything there was processed earlier), the batch-internal
  * scan passes the arrival's own doc_id (only LOWER ids count — q125's
  * earlier-member rule). Because ids are packed ascending, the scan BREAKS
  * at the first id ≥ bound, so the batch-internal pass does half the
  * entries on average — and any pass exits at the first verified hit,
  * which for dup-heavy ingests is the common case.
  *
  * Why fused (the [[HammingCosineTop1]] lesson applied to the ingest
  * family): the join-row form evaluated ledger ⋈ batch Hamming CONDITIONS
  * as join rows — Σ_b |ledger_b|·|batch_b| rows through the join operator
  * (~10⁹ at sf100x) — then shipped the admitted pairs into two embedding
  * fetch joins and a distinct. Here the same arithmetic runs as a
  * primitive-array loop inside one projection, the embeddings live in the
  * packed operand (q231's convention: vectors stay where a production IVF
  * index keeps them), and the ONLY thing that leaves the scan is one
  * boolean per arrival — nothing pair-scale exists at any point.
  *
  * Numeric contract — identical to the join-row form it replaces
  * (mirrored by MediaIncrementalSpec/MediaIncrementalFamilySpec's
  * single-node references): the scan's Hamming and cosine; the decision
  * compares round4(cos) against `threshold`. A cheap `raw ≥ threshold −
  * 1e-4` guard skips the BigDecimal for candidates that cannot reach the
  * threshold after rounding (round4 moves a value by < 5e-5).
  */
case class HammingCosineReject(
    ids: Expression, sigs: Expression, embs: Expression,
    qsig: Expression, qemb: Expression, idBound: Expression,
    words: Int, slack: Int, dim: Int, threshold: Double)
    extends HammingCosineScan {
  import HammingCosineScan.{round4, round4Code, ScanStep}

  require(words > 0 && slack >= 0 && dim > 0, "words, slack, dim must be positive")

  override protected def extra: Seq[Expression] = Seq(idBound)
  override protected def extraTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_hamming_cosine_reject"

  override protected def step(extraValues: Seq[Any]): Step = new Step {
    private val bound = extraValues.head.asInstanceOf[Long]
    private var hit = false
    override def continue(ids: ArrayData, e: Int): Boolean = !hit && ids.getLong(e) < bound
    def admit(ids: ArrayData, e: Int, raw: Double): Unit =
      if (raw >= threshold - 1e-4 && round4(raw) >= threshold) hit = true
    def result: Any = hit
  }

  override protected def genStep(ctx: CodegenContext, ev: ExprCode, ids: String, e: String,
      raw: String, extraValues: Seq[ExprCode]): ScanStep = {
    val hit = ctx.freshName("hit")
    ScanStep(
      init = s"boolean $hit = false;",
      guard = s"!$hit && $ids.getLong($e) < ${extraValues.head.value}",
      admit = s"if ($raw >= $threshold - 1e-4 && ${round4Code(raw)} >= $threshold) $hit = true;",
      finish = s"${ev.isNull} = false; ${ev.value} = $hit;")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(ids = newChildren(0), sigs = newChildren(1), embs = newChildren(2),
      qsig = newChildren(3), qemb = newChildren(4), idBound = newChildren(5))
}

object HammingCosineReject {
  /** Column-API entry point. */
  def apply(ids: Column, sigs: Column, embs: Column, qsig: Column,
      qemb: Column, idBound: Column,
      words: Int, slack: Int, dim: Int, threshold: Double): Column =
    GraftShims.column(HammingCosineReject(
      GraftShims.expression(ids), GraftShims.expression(sigs),
      GraftShims.expression(embs), GraftShims.expression(qsig),
      GraftShims.expression(qemb), GraftShims.expression(idBound),
      words, slack, dim, threshold))
}
