package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Distributed BPE vocabulary TRAINING — learning the merge table that
  * [[GreedyBpeTokens]] applies (reference behavior: the classic byte-pair
  * encoding trainer of Sennrich et al. 2016, the algorithm behind every
  * public BPE tokenizer).
  *
  * Scale shape: ONE corpus-scale pass builds the word-frequency table
  * (Zipf-bounded — orders of magnitude smaller than a 100 TB corpus), and
  * every superstep after that touches only word forms. Each merge rank is
  * one superstep in q60's fixpoint discipline: a distributed pair-count
  * (map-side partial aggregation over adjacent symbol pairs, weighted by
  * word frequency) followed by a 1-row argmax collect — the same inherent
  * driver coordination as q60's convergence detector, never a corpus
  * collect. The chosen merge is applied map-only to the word forms, which
  * are eagerly localCheckpointed per superstep so the plan stays flat
  * across O(vocab budget) iterations (lineage-growth lesson from the q60
  * loop); superseded checkpoint blocks are freed by the ContextCleaner.
  *
  * Determinism: ties on pair frequency break on the lexicographically
  * smallest (left, right) — same rule in the local reference trainer, so
  * the merge sequences are comparable token for token (BpeTrainSpec).
  */
object BpeTrainer {

  /** One learned merge: at `rank`, symbols `left`+`right` (frequency `freq`
    * at merge time) fuse into the new symbol `left+right`. */
  final case class Merge(rank: Int, left: String, right: String, freq: Long)

  /** Greedy left-to-right application of ONE merge inside a word form:
    * "aaa" under (a,a) becomes ["aa","a"] — a consumed symbol never
    * re-pairs with the next occurrence. Shared by the local reference and
    * the distributed map step, so they cannot drift. */
  def applyMerge(syms: IndexedSeq[String], l: String, r: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Single-node reference trainer over an explicit word-frequency table —
    * the parity oracle for [[train]] (BpeTrainSpec asserts equal merge
    * sequences) and small enough to audit by hand. */
  def trainLocal(wordCounts: Seq[(String, Long)], maxMerges: Int): Seq[Merge] = {
    var forms: Seq[(Vector[String], Long)] =
      wordCounts.map { case (w, c) => (w.map(_.toString).toVector, c) }
    val out = Seq.newBuilder[Merge]
    var rank = 0
    var stop = false
    while (rank < maxMerges && !stop) {
      val stats = scala.collection.mutable.Map.empty[(String, String), Long]
      forms.foreach { case (syms, c) =>
        var i = 0
        while (i + 1 < syms.length) {
          val p = (syms(i), syms(i + 1))
          stats(p) = stats.getOrElse(p, 0L) + c
          i += 1
        }
      }
      val best = stats.toSeq
        .map { case ((l, r), f) => (l, r, f) }
        .sortBy { case (l, r, f) => (-f, l, r) }
        .headOption
      best match {
        case Some((l, r, f)) if f >= 2 =>
          out += Merge(rank, l, r, f)
          forms = forms.map { case (syms, c) => (applyMerge(syms, l, r), c) }
          rank += 1
        case _ => stop = true // every pair unique (or no pairs): nothing to learn
      }
    }
    out.result()
  }

  /** Distributed trainer over a `text` column. Returns the learned merge
    * table (vocab-budget-bounded — inherently driver-sized, like q92's
    * centroids).
    *
    * The corpus-scale pass (word→frequency) is declarative DataFrame code —
    * Catalyst's scan/shuffle planning matters there. The superstep loop then
    * drops to the RDD API deliberately: its operators are already opaque
    * imperative lambdas ([[applyMerge]] over Vector[String] — Catalyst can
    * optimize nothing inside them), and at one Spark JOB per merge rank the
    * per-job SQL planning overhead was the measured dominant cost (~0.2 s ×
    * vocab budget ≫ the actual ~50 ms of work on the Zipf-bounded word
    * table). reduceByKey+takeOrdered(1) is the same partial-agg + top-1
    * physical shape the SQL formulation planned — minus the planner. */
  def train(docs: DataFrame, maxMerges: Int): Seq[Merge] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // The ONLY corpus-scale pass: whitespace words -> frequency table.
    // The word table is vocab-scale, so the superstep jobs run 4-way:
    // per-task overhead, not data, dominates a 32-way shuffle of it.
    var forms: org.apache.spark.rdd.RDD[(Vector[String], Long)] = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .as[(String, Long)]
      .rdd
      .map { case (w, c) => (w.map(_.toString).toVector, c) }
      .coalesce(4)
    // marks for block-store checkpointing; materializes under the first
    // superstep's argmax job, so each superstep costs ONE job
    forms.localCheckpoint()
    // Argmax order: max frequency, ties to the lexicographically smallest
    // (left, right) — trainLocal's exact rule.
    val byFreqThenPair: Ordering[((String, String), Long)] =
      Ordering.by { case ((l, r), f) => (-f, l, r) }
    val out = Seq.newBuilder[Merge]
    var rank = 0
    var stop = false
    while (rank < maxMerges && !stop) {
      // Superstep: distributed weighted pair-count (map-side combine via
      // reduceByKey), per-partition top-1 via takeOrdered — never a global
      // sort, one 1-element collect to the coordinator.
      val best = forms
        .flatMap { case (syms, c) =>
          (0 until syms.length - 1).iterator.map(i => ((syms(i), syms(i + 1)), c))
        }
        .reduceByKey(_ + _)
        .takeOrdered(1)(byFreqThenPair)
        .headOption
      best match {
        case Some(((l, r), f)) if f >= 2 =>
          out += Merge(rank, l, r, f)
          val next = forms.map { case (syms, c) => (applyMerge(syms, l, r), c) }
          next.localCheckpoint() // superseded blocks freed by ContextCleaner
          forms = next
          rank += 1
        case _ => stop = true
      }
    }
    out.result()
  }

  /** Trained vocabulary for [[GreedyBpeTokens]]: every single character
    * seen in the merge table's symbols plus each merged symbol — the frozen
    * form a tokenizer deploys after training. */
  def vocabOf(merges: Seq[Merge], singles: Seq[String]): Seq[String] =
    (singles ++ merges.map(m => m.left + m.right)).distinct

  /** Merges learned from a data dir's `documents` table, memoized per
    * (session, dir, budget) — training is the expensive upstream, its
    * consumers (q106's merge table, q107's tokenize pass) are derivations,
    * same amortization as the q60 cluster labels. */
  def trainedMerges(t: graft.Tables, maxMerges: Int): Seq[Merge] =
    graft.Artifacts.get(t, s"bpe$maxMerges")(
      train(t.documents, maxMerges))
}
