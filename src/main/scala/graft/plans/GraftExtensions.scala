package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{
  Abs, And, Cast, Expression, Length, LessThanOrEqual, Levenshtein, Subtract}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
import org.apache.spark.sql.types.NumericType
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Production registration path for the engine's Catalyst extensions —
  * `spark.sql.extensions=graft.plans.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`) wires them into EVERY
  * session of the application at build time, where
  * `AsOfJoin.register` / `experimental.extraOptimizations` are the
  * per-session dev hooks the tests and ad-hoc sessions use. Same objects
  * are injected either way.
  *
  * Every engine session passes through here, so this is also where the
  * JVM-wide codegen class cache gets its size (see
  * [[GraftExtensions.CodegenCacheEntries]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.codegenCacheSized
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => LevenshteinLengthGuard)
    // The engine's fixed-arity codegen expressions, SQL-callable — the same
    // objects the DataFrame helpers wrap, so `spark.sql("... graft_cosine
    // (a, b) ...")` and `CosineSimilarity(a, b)` are one implementation.
    // (HyperplaneSignature carries a config payload — plane matrix + dim —
    // and stays DataFrame-only.)
    def fn(name: String, arity: Int)(build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(build.getClass.getName, name),
        (args: Seq[Expression]) => {
          require(args.length == arity, s"$name expects $arity arguments, got ${args.length}")
          build(args)
        }))
    fn("graft_cosine", 2)(a => graft.functions.CosineSimilarity(a(0), a(1)))
    fn("graft_minhash_sig", 1)(a => graft.functions.MinHashSignature(a(0)))
    fn("graft_simhash_sig", 1)(a => graft.functions.SimHashSignature(a(0)))
    fn("graft_morton", 2)(a => graft.functions.MortonCode(a(0), a(1)))
    fn("graft_cms_estimate", 2)(a => graft.functions.CmsEstimateCount(a(0), a(1)))
  }
}

object GraftExtensions {

  /** Entries of Spark's compiled-class cache (`CodeGenerator`'s LRU over
    * generated sources, one per JVM). Spark sizes it once, from the static
    * conf `spark.sql.codegen.cache.maxEntries` (default 100), when
    * `CodeGenerator` is first initialised. The engine's working set is far
    * larger: one pass of the 233 `SparkEntry` queries at sf0.01 compiles
    * 2,707 classes (`compiles_setup` plus the cold `compiles` of Bench's
    * BENCH_DETAIL.json, 4 cores), and the q215/q216 curation funnels alone
    * compile about 300. With 100 entries every warm pass evicted and
    * recompiled almost all of them, and the JIT then compiled the fresh
    * bytecode again. 4096 holds the whole suite with about 1.5x headroom.
    * An entry costs about 25 KB of heap (source text, class and its
    * loader): perfbench's `llm_pipeline` heap peak rose 6.5 MB when its
    * 359 classes stopped being evicted. */
  val CodegenCacheEntries = 4096

  /** Initialises `CodeGenerator` under a conf carrying the size above. Only
    * the first initialisation in the JVM reads the conf, so this counts only
    * if no codegen ran before the first engine session was built; otherwise
    * the cache keeps the size it was created with. */
  private lazy val codegenCacheSized: Unit = {
    val conf = new SQLConf
    conf.setConf(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES, CodegenCacheEntries)
    SQLConf.withExistingConf(conf)(CodeGenerator.compileTime)
    ()
  }
}

/** Optimizer rule: in front of `levenshtein(a, b) <= k` in a Filter or
  * Join condition, conjoin the cheap necessary condition
  * `abs(length(a) - length(b)) <= k` — the length difference lower-bounds
  * edit distance FOR ANY bound expression k (not just literals), and `And`
  * short-circuits in both interpreted and generated code, so the O(|a|·|b|)
  * dynamic program runs only on rows the guard cannot reject. On a blocked
  * fuzzy-dedup join (q55's shape, where k is min(length)/4) most candidate
  * pairs differ wildly in length; at 100 TB this turns the edit distance
  * from the per-row cost into the per-survivor cost. k must be
  * deterministic (it is evaluated a second time in the guard).
  *
  * Explicit recursion instead of `transformUp`: the rewrite leaves the
  * original comparison in place, so a naive transform would re-match it on
  * the optimizer's next fixed-point pass and stack guards forever. The
  * already-guarded case is matched FIRST and left untouched, making the
  * rule idempotent.
  */
object LevenshteinLengthGuard extends Rule[LogicalPlan] {

  /** `levenshtein(a,b) <= k`, possibly with an analyzer-inserted Cast
    * around the levenshtein (int → k's wider numeric type). */
  private object LevCmp {
    def unapply(e: Expression): Option[(Expression, Expression, Expression)] = e match {
      case LessThanOrEqual(l, k) =>
        val lev = l match {
          case Levenshtein(a, b, None) => Some((a, b))
          case c: Cast =>
            c.child match {
              case Levenshtein(a, b, None) => Some((a, b))
              case _ => None
            }
          case _ => None
        }
        lev.map { case (a, b) => (a, b, k) }
      case _ => None
    }
  }

  private def guard(a: Expression, b: Expression, k: Expression): Expression = {
    val diff = Abs(Subtract(Length(a), Length(b)))
    val lhs = if (k.dataType == diff.dataType) diff else Cast(diff, k.dataType)
    LessThanOrEqual(lhs, k)
  }

  private def guardable(k: Expression): Boolean =
    k.dataType.isInstanceOf[NumericType] && k.deterministic &&
      !k.exists(_.isInstanceOf[Levenshtein])

  private def rewrite(e: Expression): Expression = e match {
    case And(g, cmp @ LevCmp(a, b, k)) if g.semanticEquals(guard(a, b, k)) =>
      And(g, cmp) // already guarded — do not descend, do not re-guard
    case cmp @ LevCmp(a, b, k) if guardable(k) =>
      And(guard(a, b, k), cmp)
    case _ => e.mapChildren(rewrite)
  }

  // Both homes of a predicate: Filter, and Join conditions (the optimizer
  // pushes filters into the join they apply across — q55's blocked
  // fuzzy-join lands there).
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, _) =>
      val rewritten = rewrite(cond)
      if (rewritten.fastEquals(cond)) f else f.copy(condition = rewritten)
    case j: Join if j.condition.isDefined =>
      val cond = j.condition.get
      val rewritten = rewrite(cond)
      if (rewritten.fastEquals(cond)) j else j.copy(condition = Some(rewritten))
  }
}
