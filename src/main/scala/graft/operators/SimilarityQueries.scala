package graft.operators

import graft.{Artifacts, EngineQuery, dsl}
import graft.dsl._
import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection and similarity search over documents/embeddings —
  * the scale-path operators of an LLM data pipeline (SURVEY.md §2 q24, q25 +
  * q35/q37/q38 extensions).
  *
  * Scale design:
  *  - q24 (MinHash+LSH banding) and q35 (SimHash banding) find candidate
  *    pairs by joining on (band, band-hash) buckets — never a crossJoin; the
  *    expensive exact verification runs only on candidates. This is the
  *    shape that works at 10^9 documents.
  *  - q25 is the brute-force cosine top-k BASELINE (quality oracle); q37 is
  *    the IVF-bucketed approximate variant — the scale path, searching only
  *    the query's centroid bucket (|bucket| ≈ N/C instead of N per query).
  *  - All hash families are seeded constants → fully deterministic output.
  */
object SimilarityQueries {

  private val NumHashes = 64
  private[graft] val Bands = 16 // × 4 rows per band: P(candidate | J=0.8) ≈ 1 - 3e-4

  /** doc_id + distinct 5-token shingle set, docs with >= 5 tokens. Tokens
    * are materialized as a column first — see dsl.shingles. */
  private[graft] def shingled(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), toks(col("text")).as("tk"))
      .filter(size(col("tk")) >= 5)
      .select(col("doc_id"), shingles(col("tk"), 5).as("sh"))

  /** LSH candidate id pairs from the shingled corpus — the pre-checkpoint
    * q24 pipeline, exposed so PlanInvariantsSpec can assert its shape (the
    * checkpoint boundary in q24 hides it behind a Scan ExistingRDD). */
  private[graft] def minhashCandidatePairs(base: DataFrame): DataFrame = {
    // 64 seeded min-hashes per doc, MAP-ONLY: the shingle set is a bounded
    // array column, so the signature is a pure per-row function — one fused
    // codegen loop (double-hashing family g_i = h1 + i*h2), no explode
    // (|corpus|×|shingles| intermediate rows), no groupBy shuffle. The
    // typed-Aggregator formulation (SketchAggregators.MinHashSigAgg, parity
    // -tested against this expression) remains for inputs that arrive as
    // rows rather than arrays.
    val sigs = base
      .select(col("doc_id"), graft.functions.MinHashSignature(col("sh")).as("sig"))
    // 16 bands × 4 rows: band hash = xxhash64 over the band's signature
    // slice. The full band-hash ARRAY rides along (16 longs per exploded
    // row) so the canonical-band test below can see every band at the join.
    val bhArr = array((0 until Bands).map { b =>
      xxhash64((b * 4 + 1 to b * 4 + 4).map(j => element_at(col("sig"), j)): _*)
    }: _*)
    val bandCols = (0 until Bands).map { b =>
      struct(lit(b).as("band"), element_at(col("bhs"), b + 1).as("bh"))
    }
    val bands = sigs
      .withColumn("bhs", bhArr)
      .select(col("doc_id"), col("bhs"), explode(array(bandCols: _*)).as("x"))
      .select(col("doc_id"), col("bhs"), col("x.band").as("band"), col("x.bh").as("bh"))
    // hint("merge"): a broadcast self-join would compute the signature
    // pipeline TWICE (no exchange reuse under BroadcastExchange, confirmed
    // in PLANS.md) and could not broadcast a 10⁹-doc signature table anyway;
    // sort-merge makes both sides' shuffles identical → ReusedExchange runs
    // the sig scan once. Canonical-band dedup (see q49): keep a pair only
    // in the FIRST band where the band hashes agree — algebraic uniqueness,
    // no distinct shuffle over the candidate pairs.
    val firstBand = (0 until Bands).foldRight(lit(-1): Column) { (b, els) =>
      when(element_at(col("l.bhs"), b + 1) === element_at(col("r.bhs"), b + 1), lit(b))
        .otherwise(els)
    }
    bands.as("l").hint("merge")
      .join(bands.as("r"), Seq("band", "bh"))
      .filter(col("l.doc_id") < col("r.doc_id") && col("band") === firstBand)
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
  }

  /** The verified LSH pair table, memoized per (session, dir) — the
    * near-dup PAIR ARTIFACT a production dedup pipeline materializes once
    * per corpus build (the [[graft.operators.AdvancedQueries]] memoBasket
    * convention: q180/q204 are two views over one co-occurrence artifact;
    * q24/q217 are two views over this one). The checkpointed value is the
    * verified pair set — id pairs + one double, bounded FAR below corpus
    * scale — never the shingle table (pinning the shingles of a 100 TB
    * corpus is not viable, and they stay un-cached below). Round 17: both
    * queries previously re-ran the full signature + band self-join +
    * verification per call — 2 identical corpus pipelines per bench pass
    * (q217 2.08 s + q24 1.79 s warm at sf0.1 for one artifact's work).
    *
    * The banded+verified pipeline shared VERBATIM by q24 (the LSH
    * contract, no-oracle) and q217 (the same output gated on q36's exact
    * oracle — recall-1 proof on this corpus). */
  private def bandedVerifiedPairs(t: graft.Tables): DataFrame =
    orderedByAll(Artifacts.get(t, "lshverified")({
      val base = shingled(t.documents)
      // Candidate id pairs are materialized once (lazy localCheckpoint):
      // they feed the doc-id fetch AND the final verification join, and
      // re-deriving them would re-run the band self-join. localCheckpoint
      // over persist(): storage lives at the RDD layer, so the
      // ContextCleaner releases it as soon as the frame is unreachable — a
      // plain persist() pins a CacheManager entry forever unless someone
      // calls unpersist(), which no caller of a lazily-returned query CAN
      // call (the leak the round-3 bench logged as `Asked to cache already
      // cached data`). On a cluster with executor churn the trade-off
      // reverses (truncated lineage can't recompute lost blocks) — there,
      // persist + an after-action release hook is the knob.
      val cand = minhashCandidatePairs(base).localCheckpoint(eager = false)
      verifyCandidates(cand, base).localCheckpoint()
    }))

  val q24 = EngineQuery("q24_dedup_minhash", None)(bandedVerifiedPairs)

  /** q24's banded near-dup pipeline GATED on the EXACT oracle — q36's SQL
    * verbatim, the layout-losslessness convention (q144/q151/q181/q184/q187)
    * applied to the approximate path: LSH banding is a lossy-in-theory
    * candidate filter, but its output AFTER exact-Jaccard verification
    * equals the exact q36 pair set exactly when banding recall over
    * J ≥ 0.5 pairs is 1. On this corpus that holds with margin: the planted
    * near-dup population sits at J ≥ 0.75 (sf0.1 minimum; ≥ 0.857 at
    * sf0.001/0.01), where the 16-band × 4-row scheme's per-pair miss
    * probability is ≤ 2.3e-3 (4e-6 at J = 0.857) — and because the 64
    * min-hash seeds are fixed, recall on a given corpus is DETERMINISTIC:
    * measured 1.0 at sf0.001/0.01/0.1 (PLANS.md round-11), so the hash gate
    * is reproducible, not a coin flip. The general-case caveat is exactly
    * why q24 itself stays a no-oracle LSH contract: at J barely above 0.5
    * the banding captures only 1−(1−0.5⁴)¹⁶ ≈ 64.5% of pairs, and a corpus
    * with borderline near-dups would (correctly, per the LSH contract) miss
    * some — q210 AUDITS recall rather than assuming it. This entry turns
    * the favorable-corpus case into a hard correctness gate. */
  val q217 = EngineQuery(
    "q217_minhash_verified", TextQueries.q36.oracle)(bandedVerifiedPairs)

  /** Exact-Jaccard verification of candidate id pairs (shared by q24 and
    * q145): ONE corpus pass fetches the shingle sets of just the docs that
    * appear in a candidate pair; materialized once because both
    * verification join sides read it. (The corpus-wide alternative joined
    * the full shingle table twice — two corpus-wide shuffles of
    * document-sized arrays, or a corpus-wide cache. The candidate-
    * restricted slice is the 100 TB-safe middle: memory bounded by
    * |candidates|.) */
  private def verifyCandidates(cand: DataFrame, base: DataFrame): DataFrame = {
    val candDocs = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val candSh = base.join(candDocs, Seq("doc_id")).localCheckpoint(eager = false)
    cand
      .join(candSh.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(candSh.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .withColumn("jaccard",
        size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb"))).cast("double"))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), round4(col("jaccard")).as("jaccard"))
  }

  /** Cosine via the native codegen'd Catalyst expression — bit-identical to
    * the fold-based dot/norm formulation the DuckDB oracles mirror
    * (see graft.functions.CosineSimilarity's numeric contract). */
  private def cosine(aEmb: Column, bEmb: Column): Column =
    graft.functions.CosineSimilarity(aEmb, bEmb)

  val q25 = EngineQuery(
    "q25_knn_cosine",
    Some("""WITH e AS (SELECT vec_id, embedding,
           |        sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |          list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
           |          (a, b) -> a + b)) AS nrm
           |       FROM embeddings),
           |p AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |          list_transform(generate_series(1, 64),
           |            i -> CAST(q.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
           |          (a, b) -> a + b) / (q.nrm * e.nrm) AS cos
           |      FROM e q, e WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id),
           |r AS (SELECT query_id, neighbor_id, cos,
           |        row_number() OVER (PARTITION BY query_id
           |                           ORDER BY cos DESC, neighbor_id) AS rn
           |      FROM p)
           |SELECT query_id, neighbor_id, round(cos, 4) AS cos_sim, CAST(rn AS INT) AS rn
           |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin)) { t =>
    val e = t.embeddings.select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < 10).select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    // Queries are the small side → broadcast; the big side streams through
    // map-only (no shuffle of the corpus), then per-query top-k.
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    q25Shape(e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("q_emb"), col("embedding")))
      .withColumn("rn", row_number().over(w)))
  }

  private def q25Shape(scored: DataFrame): DataFrame =
    scored.filter(col("rn") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round4(col("cos")).as("cos_sim"), col("rn"))
      .orderBy(col("query_id"), col("rn"))

  /** SimHash near-dup: 64-bit per-token-hash bit-majority signature, then
    * 4×16-bit band bucketing for candidates, hamming <= 8 verification.
    * No SQL oracle (bit-level majority vote is not reasonably expressible);
    * covered by ScalaTest against brute-force hamming pairs.
    */
  val q35 = EngineQuery("q35_dedup_simhash", None) { t =>
    // Bit-majority SimHash, MAP-ONLY: per-row fused loop over the token
    // array (see q24's note — same explode/shuffle elimination; the
    // SimHashAgg Aggregator remains for row-shaped inputs).
    val sh = t.documents
      .select(col("doc_id"), graft.functions.SimHashSignature(toks(col("text"))).as("sim"))
    val bandCols = (0 until 4).map(i =>
      struct(lit(i).as("band"),
        shiftright(col("sim"), i * 16).bitwiseAND(lit(0xFFFFL)).as("bh")))
    val bands = sh.select(col("doc_id"), col("sim"), explode(array(bandCols: _*)).as("x"))
      .select(col("doc_id"), col("sim"), col("x.band").as("band"), col("x.bh").as("bh"))
    // merge hint: identical shuffle on both sides → the SimHash signature
    // scan is computed once and reused. Canonical-band dedup (see q49): a
    // pair is kept only in the FIRST band whose 16-bit signature segments
    // agree — map-side bit math on the sig XOR, no distinct shuffle.
    val xorSim = col("l.sim").bitwiseXOR(col("r.sim"))
    val firstBand = (0 until 4).foldRight(lit(-1): Column) { (b, els) =>
      when(shiftright(xorSim, b * 16).bitwiseAND(lit(0xFFFFL)) === 0, lit(b))
        .otherwise(els)
    }
    val pairs = bands.as("l").hint("merge")
      .join(bands.as("r"), Seq("band", "bh"))
      .filter(col("l.doc_id") < col("r.doc_id") && col("band") === firstBand)
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        col("l.sim").as("sim_a"), col("r.sim").as("sim_b"))
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= 8)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
    orderedByAll(pairs)
  }

  /** IVF approximate k-NN served from the TRAINED quantizer: vectors are
    * bucketed by their nearest k-means centroid ([[graft.functions.
    * KMeansTrainer]], converged Lloyd's loop, memoized per session/dir —
    * the train-once/serve-everywhere amortization), and each query probes
    * its `NProbe` nearest buckets (multi-probe IVF: candidates ≈
    * nprobe·N/k per query instead of N — the standard recall/latency knob,
    * still never all-pairs). Assignment and probe selection are literal-
    * centroid expressions (k×dim model as plan literals — map-only, zero
    * exchange; [[graft.functions.KMeansTrainer.coarseBucket]]/
    * [[graft.functions.KMeansTrainer.probeBuckets]], shared with q127).
    * Approximate by construction → no SQL oracle; recall vs q25 is
    * ASSERTED in KnnSpec (trained centroids + 2-probe must beat the old
    * seeded single-probe floor). */
  val q37 = EngineQuery("q37_knn_ivf", None) { t =>
    val model = graft.functions.KMeansTrainer.trainedModel(t)
    val e = t.embeddings.select(col("vec_id"), col("embedding"))
    // Map-only assignment: the k×dim model rides the plan as literal
    // arrays ([[graft.functions.KMeansTrainer.coarseBucket]], shared with
    // q127), so neither corpus nor queries pay an exchange to learn their
    // bucket — the crossJoin+window formulation this replaces shuffled
    // N×k rows on vec_id for the same argmin. PlanMetricsSpec pins it.
    val buckets = e.select(col("vec_id"), col("embedding"),
      graft.functions.KMeansTrainer.coarseBucket(col("embedding"), model).as("bucket"))
    // Queries probe their NProbe nearest buckets (not just the one they
    // live in): near-boundary neighbors sit one bucket over.
    val q = e.filter(col("vec_id") < 10).select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      explode(graft.functions.KMeansTrainer
        .probeBuckets(col("embedding"), model, NProbe)).as("bucket"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    orderedByAll(
      buckets.join(broadcast(q), "bucket")
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos", cosine(col("q_emb"), col("embedding")))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("query_id"), col("neighbor_id"), round4(col("cos")).as("cos_sim"), col("rn")))
  }

  /** Buckets probed per query in q37's multi-probe IVF search. */
  private val NProbe = 2

  /** Embedding-cosine near-dup pairs, blocked by label (the "bucket" at this
    * data's scale; swap for LSH hyperplane buckets beyond ~1e5 vectors).
    * Threshold applied on the rounded value on both engines so a last-ulp
    * difference can never flip membership.
    */
  val q38 = EngineQuery(
    "q38_embed_neardup",
    Some("""WITH e AS (SELECT vec_id, label, embedding,
           |        sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |          list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
           |          (a, b) -> a + b)) AS nrm
           |       FROM embeddings)
           |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           |       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |          list_transform(generate_series(1, 64),
           |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
           |          (x, y) -> x + y) / (a.nrm * b.nrm), 4) AS cos_sim
           |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
           |WHERE round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |          list_transform(generate_series(1, 64),
           |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
           |          (x, y) -> x + y) / (a.nrm * b.nrm), 4) >= 0.4
           |ORDER BY ALL""".stripMargin)) { t =>
    val e = t.embeddings.select(col("vec_id"), col("label"), col("embedding"))
    val a = e.select(col("vec_id").as("vec_a"), col("label"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("vec_b"), col("label"), col("embedding").as("eb"))
    orderedByAll(
      a.join(b, Seq("label"))
        .filter(col("vec_a") < col("vec_b"))
        .withColumn("cos_sim", round4(cosine(col("ea"), col("eb"))))
        .filter(col("cos_sim") >= 0.4)
        .select(col("vec_a"), col("vec_b"), col("cos_sim")))
  }

  /** Random-hyperplane LSH parameters for q49. 32 signed projections → 8
    * bands × 4 bits. Seeded Gaussian planes: fully deterministic output.
    * At this corpus size 4-bit bands (16 buckets/band) keep recall high
    * (P[candidate | cos=0.4] ≈ 0.75); at 10⁹ vectors the same code runs
    * with 12–16-bit bands (more, narrower buckets → fewer candidate pairs
    * per band at the cost of more bands for the same recall). */
  private val HyperPlanes = 32
  private val HpBandBits = 4
  private val HpBands = HyperPlanes / HpBandBits
  private lazy val planes: IndexedSeq[Double] = {
    val rng = new scala.util.Random(20260812L)
    IndexedSeq.fill(HyperPlanes * 64)(rng.nextGaussian())
  }

  /** q49: embedding near-dup via hyperplane LSH — the UNBLOCKED scale path
    * q38's scaladoc promises (q38 blocks by `label`, which is a stand-in:
    * block size is unbounded in the number of same-label vectors). Here the
    * blocking key is data-derived: sign of the dot product against 32 seeded
    * Gaussian hyperplanes, banded 8×4 bits; near-identical vectors agree on
    * most signs, so they collide in ≥1 band with high probability. Exact
    * cosine verification runs on candidates only — precision is exact, only
    * recall is approximate (so no SQL oracle; recall vs the brute-force pair
    * set is asserted in ScalaTest, like q37 vs q25).
    */
  val q49 = EngineQuery("q49_embed_neardup_lsh", None) { t =>
    val e = t.embeddings.select(col("vec_id"), col("embedding"))
    // All 32 sign bits in ONE codegen'd pass, packed into a long.
    val sigs = e.select(col("vec_id"),
      graft.functions.HyperplaneSignature(col("embedding"), planes, 64).as("sig"))
    // Band b's bucket id = bits [4b, 4b+4) of the signature.
    val bandCols = (0 until HpBands).map(b =>
      struct(lit(b).as("band"),
        shiftright(col("sig"), b * HpBandBits).bitwiseAND(lit((1 << HpBandBits) - 1)).as("bh")))
    val bands = sigs
      .select(col("vec_id"), col("sig"), explode(array(bandCols: _*)).as("x"))
      .select(col("vec_id"), col("sig"), col("x.band").as("band"), col("x.bh").as("bh"))
    // CANONICAL-BAND dedup, no shuffle: a pair colliding in k bands would be
    // emitted k times; keep it only where `band` is the FIRST band whose
    // signature nibbles agree (computable map-side from sig XOR — nibble b
    // of the XOR is zero iff band b collides). Uniqueness is algebraic, so
    // the |candidates|-sized distinct/groupBy shuffle disappears entirely;
    // the join still moves only (id, sig, band) longs, never embeddings.
    // merge hint: identical shuffle on both sides → the signature scan is
    // computed once and reused (see q24 comment).
    val xorSig = col("l.sig").bitwiseXOR(col("r.sig"))
    val firstBand = (0 until HpBands).foldRight(lit(-1): Column) { (b, els) =>
      when(shiftright(xorSig, b * HpBandBits)
        .bitwiseAND(lit((1 << HpBandBits) - 1)) === 0, lit(b)).otherwise(els)
    }
    val cand = bands.as("l").hint("merge")
      .join(bands.as("r"), Seq("band", "bh"))
      .filter(col("l.vec_id") < col("r.vec_id") && col("band") === firstBand)
      .select(col("l.vec_id").as("vec_a"), col("r.vec_id").as("vec_b"))
    orderedByAll(
      cand
        .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
        .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
        .withColumn("cos_sim", round4(cosine(col("ea"), col("eb"))))
        .filter(col("cos_sim") >= 0.4)
        .select(col("vec_a"), col("vec_b"), col("cos_sim")))
  }

  /** One distributed Lloyd's (k-means) step over the embedding corpus — the
    * training pass behind q37's IVF index: assign every vector to its
    * nearest of k=8 seeded centroids (L2², fixed fold order → bit-identical
    * across engines, ties broken by centroid id), then recompute the
    * centroid means. Plan shape for 100 TB:
    *  - the centroid table broadcasts (k vectors), assignment is map-side
    *    scoring under a BroadcastNestedLoopJoin;
    *  - the per-vector argmin is `min(struct(dist, cid))` — a partial-
    *    aggregable reduction, so the only corpus-wide exchange carries ONE
    *    row per vector, not k;
    *  - the centroid recompute explodes positions AFTER assignment and
    *    partial-aggregates map-side down to k×dim cells.
    * Output per centroid: member count, mean squared distance, norm of the
    * recomputed mean — the quantities a training loop monitors. */
  val q92 = EngineQuery(
    "q92_kmeans_step",
    Some("""WITH c AS (SELECT vec_id AS cid, embedding AS cvec
           |           FROM embeddings WHERE vec_id < 8),
           |d AS (SELECT e.vec_id, c.cid, e.embedding,
           |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |          list_transform(generate_series(1, 64),
           |            i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))
           |               * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)))),
           |          (a, b) -> a + b) AS d2
           |      FROM embeddings e CROSS JOIN c),
           |a AS (SELECT vec_id, cid, embedding, d2,
           |        row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
           |      FROM d),
           |asg AS (SELECT * FROM a WHERE rn = 1),
           |m AS (SELECT cid, g.i AS pos, avg(CAST(embedding[g.i] AS DOUBLE)) AS mx
           |      FROM asg CROSS JOIN generate_series(1, 64) g(i)
           |      GROUP BY cid, g.i),
           |nn AS (SELECT cid, round(sqrt(sum(mx * mx)), 4) AS new_norm FROM m GROUP BY cid),
           |s AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
           |             round(avg(d2), 4) AS mean_d2
           |      FROM asg GROUP BY cid)
           |SELECT s.cid, n_members, mean_d2, new_norm
           |FROM s JOIN nn USING (cid) ORDER BY ALL""".stripMargin)) { t =>
    val e = t.embeddings.select(col("vec_id"), col("embedding"))
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val d2 = dsl.foldSum(zip_with(col("embedding"), col("cvec"),
      (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))))
    val asg = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), struct(d2.as("d2"), col("cid")).as("dc"))
      .groupBy("vec_id")
      .agg(min(col("dc")).as("m"), first(col("embedding")).as("emb"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("m.d2").as("d2"), col("emb"))
    val stats = asg.groupBy("cid")
      .agg(count(lit(1)).as("n_members"), round4(avg(col("d2"))).as("mean_d2"))
    val norms = asg
      .select(col("cid"), posexplode(col("emb")).as(Seq("pos", "x")))
      .groupBy("cid", "pos")
      .agg(avg(col("x").cast("double")).as("mx"))
      .groupBy("cid")
      .agg(round4(sqrt(sum(col("mx") * col("mx")))).as("new_norm"))
    orderedByAll(stats.join(norms, "cid"))
  }

  /** k-means trained to CONVERGENCE ([[graft.functions.KMeansTrainer]]):
    * the loop around q92's single Lloyd's step — per-iteration broadcast
    * centroids, one corpus aggregation down to k×dim cells, driver-side
    * shift fixpoint (q60's convergence discipline; centroid state is
    * driver-sized like q106's merge table). Emits the converged model's
    * per-cluster profile plus the iteration count. The iterative fixpoint
    * is not SQL-expressible → no DuckDB oracle; KMeansTrainSpec pins the
    * distributed loop to a single-node reference trainer (identical
    * iteration count + assignments, centroids within float tolerance), and
    * q92 — the same step, oracled — stays the per-step correctness anchor.
    */
  val q108 = EngineQuery("q108_kmeans_train", None) { t =>
    val spark = t.spark
    import spark.implicits._
    val m = graft.functions.KMeansTrainer.trainedModel(t)
    orderedByAll(
      m.centroids.indices.map { c =>
        val norm = math.sqrt(m.centroids(c).map(x => x * x).sum)
        (c, m.nMembers(c), m.iters,
          BigDecimal(if (m.nMembers(c) == 0) 0.0 else m.sumD2(c) / m.nMembers(c))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
          BigDecimal(norm).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toDF("cid", "n_members", "iters", "mean_d2", "centroid_norm"))
  }

  /** Candidates re-ranked exactly per query in q118/q127 (ADC top-R). */
  private val PqRerank = 25

  /** Shared tail of the PQ searches (q118 full compressed-domain scan,
    * q127 IVF-restricted scan): ADC-score the (vec_id, codes) rows against
    * the broadcast query table's LUTs, keep the top-[[PqRerank]] per query
    * (ids and scores only through the rank exchange), then re-rank those
    * candidates with EXACT cosine against their raw embeddings — top-5 out.
    */
  private def adcRerank(codesWithQueries: DataFrame, emb: DataFrame): DataFrame = {
    val wAdc = Window.partitionBy("query_id").orderBy(col("adc").asc, col("vec_id"))
    val cand = codesWithQueries
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adc", graft.functions.PqIndex.adcScore(col("lut"), col("codes")))
      .withColumn("crn", row_number().over(wAdc))
      .filter(col("crn") <= PqRerank)
      .select(col("query_id"), col("q_emb"), col("vec_id"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    orderedByAll(
      cand.join(emb.select(col("vec_id"), col("embedding")), "vec_id")
        .withColumn("cos", cosine(col("q_emb"), col("embedding")))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("query_id"), col("neighbor_id"),
          round4(col("cos")).as("cos_sim"), col("rn")))
  }

  /** PQ-compressed ANN ([[graft.functions.PqIndex]]): the memory-scale path
    * past q37's IVF — vectors quantized to M=4 codebook indices (4 B vs
    * 256 B raw), queries scan the CODES with a broadcast per-query lookup
    * table (asymmetric distance), and only the top-R ADC candidates are
    * re-ranked with exact cosine against their raw embeddings. Every stage
    * before the top-R reduction is map-only; the reduction exchanges ids and
    * scores, never vectors. Approximate by construction → no SQL oracle;
    * PqSpec pins encode parity (distributed expression vs local encoder),
    * codebook determinism, and recall@5 vs q25's exact top-k. */
  val q118 = EngineQuery("q118_knn_pq", None) { t =>
    val m = graft.functions.PqIndex.trainedModel(t)
    val enc = graft.functions.PqIndex.encoded(t)
    val q = t.embeddings.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        graft.functions.PqIndex.lutExpr(col("embedding"), m).as("lut"))
    // Compressed-domain scan: ADC score from codes alone; the top-R window
    // ranks (query_id, vec_id, score) rows — the raw embedding column is
    // pruned out of the exchange. Shared rerank tail: [[adcRerank]].
    adcRerank(
      enc.select(col("vec_id"), col("codes")).crossJoin(broadcast(q)),
      t.embeddings)
  }

  /** IVF-PQ — the two trained artifacts composed into the production ANN
    * index (the FAISS IVFPQ shape): q108's k-means model partitions the
    * corpus into coarse buckets, q118's codebooks compress every vector to
    * 4 bytes, and a query ADC-scans ONLY its [[NProbe]] nearest buckets'
    * codes before exactly re-ranking the top-R. Candidates per query ≈
    * nprobe·N/k compressed codes — the scan cost knob (IVF) and the memory
    * knob (PQ) multiply.
    *
    * Plan: coarse assignment AND probe selection are literal-centroid
    * expressions (the model is driver-sized — map-only argmin / top-2 via
    * the [[graft.functions.KMeansTrainer.coarseBucket]]/`probeBuckets`
    * helpers shared with q37); probes explode to an equi-join key
    * so bucket pruning is a hash join against the broadcast query table,
    * never a nested-loop filter. Codes are encoded on the fly here; at
    * rest they'd be the stored index (4 B/vector). No oracle (doubly
    * approximate); PqSpec asserts recall@5 vs q25 and probe-restriction
    * consistency. Residual encoding (PQ over vector − centroid, FAISS's
    * default) is the accuracy upgrade path — same plan, different training
    * input. */
  val q127 = EngineQuery("q127_knn_ivfpq", None) { t =>
    val km = graft.functions.KMeansTrainer.trainedModel(t)
    val pq = graft.functions.PqIndex.trainedModel(t)
    val e = t.embeddings.select(col("vec_id"), col("embedding"))
    // coarse assignment: map-only literal-centroid argmin (shared helper)
    val enc = e.select(col("vec_id"),
      graft.functions.KMeansTrainer.coarseBucket(col("embedding"), km).as("bucket"),
      graft.functions.PqIndex.encodeExpr(col("embedding"), pq).as("codes"))
    // queries: 2 nearest coarse buckets (sorted (d2, cid) structs) + ADC LUT
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        graft.functions.PqIndex.lutExpr(col("embedding"), pq).as("lut"),
        explode(graft.functions.KMeansTrainer
          .probeBuckets(col("embedding"), km, NProbe)).as("bucket"))
    adcRerank(enc.join(broadcast(q), "bucket"), e)
  }

  /** IVF-PQ with RESIDUAL encoding — the FAISS IVFPQ default and q127's
    * documented accuracy upgrade: codes quantize (vector − coarse
    * centroid) instead of the raw vector, so the 4-byte budget covers only
    * the within-cell offset the bucket id doesn't already carry. The
    * query-side LUT is computed per PROBED bucket against the query's
    * residual w.r.t. THAT bucket's centroid (ADC in residual space needs
    * the same origin on both sides), which is why the LUT projection sits
    * after the probe explode — still map-only literal-codebook math, still
    * the same plan as q127: assignment/probes/encode/LUT are all
    * expressions, bucket pruning is the equi-join against the broadcast
    * query table, candidates ≈ nprobe·N/k. No oracle (doubly approximate);
    * PqSpec asserts residual-encode parity vs the local encoder and
    * recall@5 strictly above q127's raw-vector floor at the same
    * nprobe/R. */
  val q140 = EngineQuery("q140_knn_ivfpq_residual", None) { t =>
    val km = graft.functions.KMeansTrainer.trainedModel(t)
    val pqr = graft.functions.PqIndex.trainedResidualModel(t)
    val e = t.embeddings.select(col("vec_id"), col("embedding"))
    // Staged projections, not nesting: encodeExpr/lutExpr reference their
    // input once per codeword (M×K = 64×), and these higher-order
    // expressions are interpreted — inlining the residual (which itself
    // embeds the coarse argmin) re-evaluates it 64× per row (measured 15×
    // the q127 runtime). As separate aliases, bucket and res are computed
    // once per row; CollapseProject keeps them materialized because a
    // non-cheap producer referenced more than once is never inlined.
    val enc = e
      .select(col("vec_id"), col("embedding"),
        graft.functions.KMeansTrainer.coarseBucket(col("embedding"), km).as("bucket"))
      .select(col("vec_id"), col("bucket"),
        graft.functions.KMeansTrainer.residualTo(
          col("embedding"), col("bucket"), km).as("res"))
      .select(col("vec_id"), col("bucket"),
        graft.functions.PqIndex.encodeExpr(col("res"), pqr).as("codes"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        explode(graft.functions.KMeansTrainer
          .probeBuckets(col("embedding"), km, NProbe)).as("bucket"))
      .select(col("query_id"), col("q_emb"), col("bucket"),
        graft.functions.KMeansTrainer.residualTo(
          col("q_emb"), col("bucket"), km).as("qres"))
      .select(col("query_id"), col("q_emb"), col("bucket"),
        graft.functions.PqIndex.lutExpr(col("qres"), pqr).as("lut"))
    adcRerank(enc.join(broadcast(q), "bucket"), e)
  }

  /** The stored-index rows of `docs` — (band, bh, doc_id), [[Bands]] rows
    * per eligible doc. Shared by the full build (q145) and the delta
    * append (q183) so the two write paths cannot drift. */
  private def bandRows(docs: DataFrame): DataFrame = {
    val sigs = shingled(docs)
      .select(col("doc_id"), graft.functions.MinHashSignature(col("sh")).as("sig"))
    val bandCols = (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((b * 4 + 1 to b * 4 + 4).map(j => element_at(col("sig"), j)): _*).as("bh"))
    }
    sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("x"))
      .select(col("x.band").as("band"), col("x.bh").as("bh"), col("doc_id"))
  }

  /** The MinHash LSH index AT REST — q24's banded rows `(band, bh, doc_id)`
    * written ONCE bucketed by the FULL serving key (band, bh), memoized per
    * (session, dir): the corpus-scale work of fuzzy dedup (shingling the
    * text and hashing 64 min-hashes per doc) is paid at index-build, q144's
    * pattern applied to the MinHash family. 24 bytes × 16 bands per doc at
    * rest. Both key columns must be bucket columns: v1 bucketing elides the
    * join exchange only when join keys equal bucket columns exactly
    * (bh-only bucketing re-shuffled both sides — measured). */
  private[graft] def minhashBandTable(t: graft.Tables): String =
    Artifacts.get(t, "minhash")({
      val tbl = graft.sources.LayoutWriter.deterministicName("mh_bands", t.dir, 8)
      graft.sources.LayoutWriter.writeBucketed(
        bandRows(t.documents), tbl, Seq("band", "bh"), 8, "overwrite")
      tbl
    })

  /** Build provenance of the incrementally-maintained band index (q183) —
    * the q181 evidence shape: which files each generation wrote and how
    * many band rows, so MinhashAppendSpec can prove the append touched
    * only delta-sized data. */
  final case class BandAppendStats(
      table: String,
      baseRows: Long,
      deltaRows: Long,
      baseFiles: Set[String],
      deltaFiles: Set[String])

  /** q181's incremental-maintenance mechanism applied to the OTHER stored
    * similarity index: the minhash band table grows by a delta-batch append
    * (doc_id ≡ 0 (mod 8) — the same "daily batch" split) into the same
    * (band, bh)-bucketed table. Only the delta docs are shingled, signed
    * and banded; their rows land in bucket-aligned files next to the base
    * generation, and serving reads the union through one bucketed scan
    * with no exchange on the band keys. */
  private[graft] def appendedBandStats(t: graft.Tables): BandAppendStats =
    Artifacts.get(t, "minhash-append")({
      val tbl = graft.sources.LayoutWriter.deterministicName("mh_bands_inc", t.dir, 8)
      val isDelta = pmod(col("doc_id"), lit(8)) === 0
      graft.sources.LayoutWriter.writeBucketed(
        bandRows(t.documents.filter(!isDelta)), tbl, Seq("band", "bh"), 8, "overwrite")
      val baseFiles = t.spark.table(tbl).inputFiles.toSet
      val baseRows = t.spark.table(tbl).count()
      graft.sources.LayoutWriter.writeBucketed(
        bandRows(t.documents.filter(isDelta)), tbl, Seq("band", "bh"), 8, "append")
      val allFiles = t.spark.table(tbl).inputFiles.toSet
      val total = t.spark.table(tbl).count()
      BandAppendStats(tbl, baseRows, total - baseRows, baseFiles, allFiles -- baseFiles)
    })

  /** q24's MinHash near-dup pairs served from the STORED band index: once
    * the index outgrows the broadcast threshold (always, at corpus scale)
    * the self-join runs off the table's (band, bh) bucketing with NO
    * exchange on the band keys (MinhashLayoutSpec pins that shape with
    * broadcast disabled; under the threshold AQE broadcasts, equally
    * shuffle-free on the big side), candidate pairs then dedup with a
    * groupBy bounded by |candidates| (the stored index is 3 lean columns,
    * so pair dedup replaces q24's ride-along bhs-array canonical-band test
    * — a candidate-sized shuffle traded for a 16×-smaller index), and the
    * exact-Jaccard verification tail is shared with q24. Same output as
    * q24 by construction (same bands, same threshold — the spec pins
    * row-for-row equality); no SQL oracle for the same reason q24 has
    * none. */
  val q145 = EngineQuery("q145_minhash_layout", None) { t =>
    serveBandIndex(t.spark.table(minhashBandTable(t)), t)
  }

  /** The index-served near-dup query — q145's serving plan, shared verbatim
    * by q183 so the incremental index answers through the identical
    * candidate join + exact-Jaccard verification tail. */
  private def serveBandIndex(idx: DataFrame, t: graft.Tables): DataFrame = {
    val cand = idx.as("l")
      .join(idx.as("r"), Seq("band", "bh"))
      .filter(col("l.doc_id") < col("r.doc_id"))
      .groupBy(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("nb"))
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint(eager = false)
    orderedByAll(verifyCandidates(cand, shingled(t.documents)))
  }

  /** q145's near-dup query served from the INCREMENTALLY-MAINTAINED band
    * index ([[appendedBandStats]]) — q181's append mechanism on the second
    * stored similarity artifact, closing the "every layout is write-once"
    * gap for the LSH path too. Same output as q24/q145 by construction
    * (same bands, same threshold — MinhashAppendSpec pins row-for-row
    * equality, delta-sized append provenance, and the exchange-free
    * serve); no SQL oracle for the same reason q24 has none. */
  val q183 = EngineQuery("q183_minhash_append", None) { t =>
    serveBandIndex(t.spark.table(appendedBandStats(t).table), t)
  }

  /** (vec_id, bucket, codes) of `vecs` under the FROZEN models — shared by
    * the full build (q146) and the delta append (q186) so the two encode
    * paths cannot drift. */
  private def encodedCodes(vecs: DataFrame,
      km: graft.functions.KMeansTrainer.Trained,
      pqr: graft.functions.PqIndex.Model): DataFrame =
    vecs
      .select(col("vec_id"), col("embedding"),
        graft.functions.KMeansTrainer.coarseBucket(col("embedding"), km).as("bucket"))
      .select(col("vec_id"), col("bucket"),
        graft.functions.KMeansTrainer.residualTo(
          col("embedding"), col("bucket"), km).as("res"))
      .select(col("vec_id"), col("bucket"),
        graft.functions.PqIndex.encodeExpr(col("res"), pqr).as("codes"))

  /** The residual IVF-PQ index AT REST — inverted lists as PARTITION
    * directories: q140's (vec_id, codes) rows land ONCE under
    * `bucket=<cell>/` dirs (4 B codes + id per vector — what a production
    * ANN service actually stores), memoized per (session, dir). The encode
    * pass over the corpus is the build cost; q127/q140 re-encode per query
    * by design (their declared shape is the live composition of the two
    * trained models), this layout is their at-rest complement. */
  private[graft] def ivfpqCodesDir(t: graft.Tables): String =
    Artifacts.get(t, "ivfpq")({
      val km = graft.functions.KMeansTrainer.trainedModel(t)
      val pqr = graft.functions.PqIndex.trainedResidualModel(t)
      val out = java.nio.file.Files.createTempDirectory("graft_q146_ivfpq").toString
      encodedCodes(t.embeddings.select(col("vec_id"), col("embedding")), km, pqr)
        .write.mode("overwrite").partitionBy("bucket").parquet(out)
      out
    })

  /** Build provenance of the incrementally-maintained code layout (q186). */
  final case class CodesAppendStats(
      dir: String,
      baseRows: Long,
      deltaRows: Long,
      baseFiles: Set[String],
      deltaFiles: Set[String])

  /** q181/q183's append mechanism on the THIRD stored artifact — and the
    * second layout MECHANISM: the IVF-PQ lists are PARTITION DIRECTORIES
    * (not a bucketed table), and a partitioned parquet write in append mode
    * lands the delta batch's code files inside the existing `bucket=<cell>/`
    * dirs without touching a base file. Models are FROZEN (the versioned
    * quantizer every production ANN ingest encodes against — retraining
    * per batch would invalidate every stored code); only the delta vectors
    * (vec_id ≡ 0 (mod 8)) are assigned/encoded, and DPP partition skipping
    * serves the union exactly as it served the one-shot build. */
  private[graft] def appendedCodesStats(t: graft.Tables): CodesAppendStats =
    Artifacts.get(t, "ivfpq-append")({
      val km = graft.functions.KMeansTrainer.trainedModel(t)
      val pqr = graft.functions.PqIndex.trainedResidualModel(t)
      val out = java.nio.file.Files.createTempDirectory("graft_q186_ivfpq").toString
      val isDelta = pmod(col("vec_id"), lit(8)) === 0
      val e = t.embeddings.select(col("vec_id"), col("embedding"))
      encodedCodes(e.filter(!isDelta), km, pqr)
        .write.mode("overwrite").partitionBy("bucket").parquet(out)
      val baseFiles = t.spark.read.parquet(out).inputFiles.toSet
      val baseRows = t.spark.read.parquet(out).count()
      encodedCodes(e.filter(isDelta), km, pqr)
        .write.mode("append").partitionBy("bucket").parquet(out)
      val allFiles = t.spark.read.parquet(out).inputFiles.toSet
      val total = t.spark.read.parquet(out).count()
      CodesAppendStats(out, baseRows, total - baseRows, baseFiles, allFiles -- baseFiles)
    })

  /** q140's residual IVF-PQ served from the STORED code partitions with the
    * probe restriction applied by DYNAMIC PARTITION PRUNING: the broadcast
    * query-probe table feeds the `bucket` partition filter, so non-probed
    * inverted lists are skipped at FILE-LISTING time — the IVF "scan only
    * nprobe lists" contract enforced by the layout itself before a single
    * code row is read (q133's DPP mechanics applied to ANN). Warm queries
    * are pure ADC scan + exact re-rank; the corpus encode happened at
    * build. Same output as q140 (same models, same codes, same probes —
    * IvfpqLayoutSpec pins row-for-row equality, the dynamicpruning
    * partition filter, and build-once memoization); no oracle for the same
    * reason q140 has none. */
  val q146 = EngineQuery("q146_ivfpq_layout", None) { t =>
    serveIvfpqDir(ivfpqCodesDir(t), t)
  }

  /** The DPP-pruned ADC serve off a stored code directory — q146's serving
    * plan, shared verbatim by q186. */
  private def serveIvfpqDir(dir: String, t: graft.Tables): DataFrame = {
    val km = graft.functions.KMeansTrainer.trainedModel(t)
    val pqr = graft.functions.PqIndex.trainedResidualModel(t)
    val e = t.embeddings.select(col("vec_id"), col("embedding"))
    val enc = t.spark.read.parquet(dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        explode(graft.functions.KMeansTrainer
          .probeBuckets(col("embedding"), km, NProbe)).as("bucket"))
      .select(col("query_id"), col("q_emb"), col("bucket"),
        graft.functions.KMeansTrainer.residualTo(
          col("q_emb"), col("bucket"), km).as("qres"))
      .select(col("query_id"), col("q_emb"), col("bucket"),
        graft.functions.PqIndex.lutExpr(col("qres"), pqr).as("lut"))
    adcRerank(enc.join(broadcast(q), "bucket"), e)
  }

  /** q146's ANN query served from the INCREMENTALLY-MAINTAINED code layout
    * ([[appendedCodesStats]]) — with q181 (bucketed postings), q183
    * (bucketed bands) and q184 (compaction), every stored index artifact
    * now has a rebuild-free ingest path across BOTH layout mechanisms
    * (bucketed tables and partition directories). Same output as q146 by
    * construction (frozen models, codes union ≡ one-shot encode —
    * IvfpqAppendSpec pins row-for-row equality, delta-file provenance
    * under the existing bucket dirs, and the surviving DPP prune); no
    * oracle for the same reason q140/q146 have none. */
  val q186 = EngineQuery("q186_ivfpq_append", None) { t =>
    serveIvfpqDir(appendedCodesStats(t).dir, t)
  }

  /** Cosine threshold shared by q38 (exact blocked), q49 (LSH) and q154
    * (SemDeDup) so their pair sets are directly comparable in the specs. */
  private[graft] val NearDupT = 0.4

  /** The vec_ids SemDeDup removes: within each TRAINED k-means cluster,
    * every vector that has a lower-id neighbor at cosine ≥ [[NearDupT]]
    * (keep-the-earliest representative rule, deterministic). Exposed for
    * SemDedupSpec's parity/recall assertions. */
  private[graft] def semdedupDropped(t: graft.Tables): DataFrame = {
    val m = graft.functions.KMeansTrainer.trainedModel(t)
    val e = t.embeddings.select(col("vec_id"), col("embedding"),
      graft.functions.KMeansTrainer.coarseBucket(col("embedding"), m).as("bucket"))
    e.select(col("bucket"), col("vec_id").as("vec_a"), col("embedding").as("ea"))
      .join(e.select(col("bucket"), col("vec_id").as("vec_b"), col("embedding").as("eb")),
        Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(round4(cosine(col("ea"), col("eb"))) >= NearDupT)
      .select(col("bucket"), col("vec_b").as("vec_id"))
      .distinct()
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    * pairing embeddings ONLY within their trained k-means cluster — the
    * production recipe for embedding-level dedup at web scale (the paper
    * runs it on LAION/CommonCrawl). q38's exact near-dup blocks on the
    * `label` column (a stand-in); here the blocking key is LEARNED from the
    * data itself — the same converged quantizer q37/q127/q140 serve from
    * (train once, derive everywhere), assigned map-only via literal-centroid
    * argmin with zero exchange. Candidate pairs are Σ n_c² over clusters
    * ≈ N²/k instead of N²; precision is exact (real cosine on every
    * candidate), only recall is approximate — cross-cluster pairs are
    * unseen by design — so no SQL oracle: SemDedupSpec pins exact parity
    * vs a local single-node reference and recall vs q38's brute-force
    * pair set. Output is the per-cluster audit a pipeline operator logs:
    * cluster size and how many members SemDeDup would drop. */
  val q154 = EngineQuery("q154_semdedup", None) { t =>
    val m = graft.functions.KMeansTrainer.trainedModel(t)
    val e = t.embeddings.select(col("vec_id"),
      graft.functions.KMeansTrainer.coarseBucket(col("embedding"), m).as("bucket"))
    val drops = semdedupDropped(t).groupBy("bucket").agg(count(lit(1)).as("n_dropped"))
    orderedByAll(
      e.groupBy("bucket").agg(count(lit(1)).as("n_vecs"))
        .join(drops, Seq("bucket"), "left")
        .select(col("bucket"), col("n_vecs"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped")))
  }

  /** The drops of INCREMENTAL SemDeDup (q185): the base corpus's retained
    * set is FROZEN state (built once by q154's rule on the base alone), and
    * a delta vector is dropped iff it near-dups (cos ≥ [[NearDupT]]) a
    * retained base member of its cluster or an earlier-id delta member —
    * q90's store-vs-batch ingest asymmetry lifted to the semantic level.
    * Exposed for SemDedupIncrementalSpec's parity assertions. */
  private[graft] def semdedupIncrementalDropped(t: graft.Tables): DataFrame = {
    val m = graft.functions.KMeansTrainer.trainedModel(t)
    val isDelta = pmod(col("vec_id"), lit(8)) === 0
    val e = t.embeddings.select(col("vec_id"), col("embedding"),
      graft.functions.KMeansTrainer.coarseBucket(col("embedding"), m).as("bucket"))
    val base = e.filter(!isDelta)
    val delta = e.filter(isDelta)
    // Base-internal dedup (q154's rule over base alone) fixes the frozen
    // retained set — in production this is the stored state, not recomputed.
    val baseRetained =
      base.join(semdedupDroppedOf(t, onlyBase = true), Seq("vec_id"), "left_anti")
    // Every retained base member precedes every delta member; within the
    // delta the lower id precedes (ga flags the generation).
    val earlier = baseRetained
      .select(col("bucket"), col("vec_id").as("vec_a"),
        col("embedding").as("ea"), lit(0).as("ga"))
      .unionAll(delta.select(col("bucket"), col("vec_id").as("vec_a"),
        col("embedding").as("ea"), lit(1).as("ga")))
    earlier
      .join(broadcast(delta.select(col("bucket"), col("vec_id").as("vec_b"),
        col("embedding").as("eb"))), Seq("bucket"))
      .filter(col("ga") === 0 || col("vec_a") < col("vec_b"))
      .filter(round4(cosine(col("ea"), col("eb"))) >= NearDupT)
      .select(col("bucket"), col("vec_b").as("vec_id"))
      .distinct()
  }

  /** Incremental SemDeDup — the DAILY-BATCH form of q154 and the semantic
    * member of the incremental-dedup family (q90 exact digests, q125 fuzzy
    * minhash, q185 embeddings): the corpus's retained set is frozen state;
    * only the delta batch is scored, each delta vector against the retained
    * members of its own trained cluster plus earlier delta members. The
    * audit reports, per cluster, the frozen size, the batch size, and how
    * many of the batch SemDeDup refuses.
    *
    * Scale shape: the DELTA side broadcasts (a daily batch vs a 100 TB
    * store); the frozen corpus streams map-side through the bucket-keyed
    * join — no corpus-scale shuffle, no base×base pairs ever re-formed
    * (the base dedup ran when the store was built; here it is re-derived
    * once because the engine owns no cross-query state). Candidate work is
    * Σ_c delta_c × (retained_c + delta_c) — delta-sized, the exact q90
    * asymmetry. No SQL oracle (embedding math, like q154);
    * SemDedupIncrementalSpec pins parity vs a local reference of the same
    * frozen-state rule and the dropped-set/audit consistency. */
  val q185 = EngineQuery("q185_semdedup_incremental", None) { t =>
    val m = graft.functions.KMeansTrainer.trainedModel(t)
    val isDelta = pmod(col("vec_id"), lit(8)) === 0
    val e = t.embeddings.select(col("vec_id"),
      graft.functions.KMeansTrainer.coarseBucket(col("embedding"), m).as("bucket"),
      isDelta.as("is_delta"))
    val drops = semdedupIncrementalDropped(t)
      .groupBy("bucket").agg(count(lit(1)).as("n_delta_dropped"))
    // n_base_retained mirrors the frozen store's per-cluster size.
    val baseDroppedIds = semdedupDroppedOf(t, onlyBase = true)
    val sizes = e.join(baseDroppedIds.select(col("vec_id"), lit(1).as("bd")),
        Seq("vec_id"), "left")
      .groupBy("bucket")
      .agg(sum(when(!col("is_delta") && col("bd").isNull, 1L).otherwise(0L))
        .as("n_base_retained"),
        sum(when(col("is_delta"), 1L).otherwise(0L)).as("n_delta"))
    orderedByAll(
      sizes.join(drops, Seq("bucket"), "left")
        .select(col("bucket"), col("n_base_retained"), col("n_delta"),
          coalesce(col("n_delta_dropped"), lit(0L)).as("n_delta_dropped")))
  }

  /** Base-only variant of [[semdedupDropped]] (q185's frozen store). The
    * base-internal dedup IS the frozen state a production store holds —
    * memoized per (session, dir) as an id-scale checkpoint, because q185
    * consumes it twice per run (the retained-set anti-join and the
    * n_base_retained audit) and re-deriving base×base pairs per consumer
    * is exactly what frozen state exists to avoid. The onlyBase=false
    * path (q154's live rule) stays unmemoized — SemDedupSpec audits its
    * executed plan, which a checkpoint would blank out. */
  private def semdedupDroppedOf(t: graft.Tables, onlyBase: Boolean): DataFrame = {
    def build: DataFrame = {
      val m = graft.functions.KMeansTrainer.trainedModel(t)
      val src = t.embeddings.select(col("vec_id"), col("embedding"))
      val filtered = if (onlyBase) src.filter(pmod(col("vec_id"), lit(8)) =!= 0) else src
      val e = filtered.select(col("vec_id"), col("embedding"),
        graft.functions.KMeansTrainer.coarseBucket(col("embedding"), m).as("bucket"))
      e.select(col("bucket"), col("vec_id").as("vec_a"), col("embedding").as("ea"))
        .join(e.select(col("bucket"), col("vec_id").as("vec_b"), col("embedding").as("eb")),
          Seq("bucket"))
        .filter(col("vec_a") < col("vec_b"))
        .filter(round4(cosine(col("ea"), col("eb"))) >= NearDupT)
        .select(col("vec_b").as("vec_id")).distinct()
    }
    if (onlyBase)
      Artifacts.get(t, "semfrozen")(build.localCheckpoint())
    else build
  }

  /** Johnson–Lindenstrauss projection dims: d=64 in, k=8 out (8× cheaper
    * downstream distance math; JL distortion ε ~ sqrt(ln n / k)). */
  private val JlD = 64
  private val JlK = 8

  /** Seeded Rademacher (±1) projection matrix, k×d. java.util.Random's LCG
    * is pinned by its spec, so every JVM generates the identical matrix —
    * and the DuckDB oracle embeds the SAME values as a literal, so both
    * engines multiply by bit-identical coefficients. */
  private[graft] val JlR: Array[Array[Double]] = {
    val rng = new scala.util.Random(20260813L)
    Array.fill(JlK, JlD)(if (rng.nextBoolean()) 1.0 else -1.0)
  }

  /** Johnson–Lindenstrauss random projection (Achlioptas 2003 ±1 variant) of
    * the embedding corpus: y = R·x with a seeded k×d Rademacher matrix,
    * reported as per-label norm-preservation stats — E[‖y‖²/k] = ‖x‖²/d, so
    * the dimension-normalized ratio concentrates at 1. This is the
    * TRAINING-FREE dimensionality reduction of the ANN stack: unlike
    * q108/q118's learned quantizers there is nothing to fit, broadcast or
    * version — the "model" is 512 literal ±1s baked into the plan, the
    * projection is one fused map-side expression (zero exchanges before the
    * label-scale rollup), and at 100 TB it composes with q127/q140 as a
    * front-end that shrinks every downstream distance computation 8×.
    *
    * Determinism: each y_j folds x_i·R[j][i] left-to-right (dsl.foldSum ≡
    * the oracle's list_reduce/list_prepend), ratios are formed with the
    * identical ·8.0/ nx expression, and min/max are order-independent;
    * avg sums ~1.0-scale ratios, far inside the 4dp grain. */
  val q164 = EngineQuery(
    "q164_jl_project",
    Some {
      val m = JlR.map(row => row.mkString("[", ", ", "]"))
        .mkString("[", ",\n    ", "]")
      s"""WITH mat AS (SELECT $m AS r),
         |e AS (SELECT label, embedding,
         |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
         |    (a, b) -> a + b) AS nx,
         |  list_transform(generate_series(1, $JlK), j ->
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(generate_series(1, $JlD),
         |        i -> CAST(embedding[i] AS DOUBLE) * r[j][i])),
         |      (a, b) -> a + b)) AS y
         |  FROM embeddings, mat),
         |s AS (SELECT label,
         |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(y, v -> v * v)), (a, b) -> a + b) * 8.0 / nx AS ratio
         |  FROM e WHERE nx > 0)
         |SELECT CAST(label AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS n_vecs,
         |       round(avg(ratio), 4) AS avg_ratio,
         |       round(min(ratio), 4) AS min_ratio,
         |       round(max(ratio), 4) AS max_ratio
         |FROM s GROUP BY 1 ORDER BY ALL""".stripMargin
    }) { t =>
    val nx = foldSum(transform(col("embedding"),
      x => x.cast("double") * x.cast("double")))
    val y = array((0 until JlK).map { j =>
      foldSum(zip_with(col("embedding"), array(JlR(j).map(lit): _*),
        (x, r) => x.cast("double") * r))
    }: _*)
    val ny = foldSum(transform(y, v => v * v))
    orderedByAll(
      t.embeddings
        .select(col("label"), nx.as("nx"), (ny * 8.0).as("ny8"))
        .filter(col("nx") > 0)
        .select(col("label"), (col("ny8") / col("nx")).as("ratio"))
        .groupBy(col("label").cast("long").as("label"))
        .agg(count(lit(1)).as("n_vecs"),
          round4(avg(col("ratio"))).as("avg_ratio"),
          round4(min(col("ratio"))).as("min_ratio"),
          round4(max(col("ratio"))).as("max_ratio")))
  }

  /** q199 knobs: candidate pool per query, MMR picks, relevance/diversity
    * trade-off (the standard λ=0.7 default). */
  val MmrPool = 20
  val MmrK = 5
  val MmrLambda = 0.7

  /** q199: MMR diversified rerank — the serving step between ANN recall
    * and the user (RAG context assembly, dedup'd search results):
    * Maximal Marginal Relevance (Carbonell & Goldstein '98) greedily picks
    * argmax λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s), trading relevance
    * against redundancy with what's already selected. Scale shape: the
    * pool stage is q25's broadcast-queries map-only scan + per-query
    * top-[[MmrPool]] (bounded windows); the iterative selection — which
    * no relational plan expresses — runs INSIDE a per-query group
    * (`flatMapGroups`), pool-bounded work per group, distributed across
    * any number of queries. The rerank never sees more than
    * [[MmrPool]] rows per query, so 10⁹ queries cost 10⁹ × O(pool²·k)
    * with zero cross-query state. Ties resolve to the
    * (higher-relevance, lower-id) candidate — one deterministic order.
    * No oracle (greedy iterative argmax is not reasonably expressible in
    * ANSI SQL) — MmrSpec pins a hand-computed diversification case, the
    * flatMapGroups plumbing against a driver-side run of the SAME
    * selection function, and the diversity property vs plain top-k. */
  val q199 = EngineQuery("q199_mmr_rerank", None) { t =>
    val spark = t.spark
    import spark.implicits._
    val out = mmrPool(t).as[(Long, Long, Double, Seq[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cands = it.map { case (_, id, rel, emb) =>
          (id, rel, emb.map(_.toDouble).toArray)
        }.toArray.sortBy(c => (-c._2, c._1))
        mmrSelect(cands, MmrK, MmrLambda).zipWithIndex.map {
          case ((id, rel, mmr), i) => (qid, i + 1, id, rel, mmr)
        }
      }
      .toDF("query_id", "rn", "neighbor_id", "cos_sim", "mmr")
    orderedByAll(out.select(col("query_id"), col("rn"), col("neighbor_id"),
      round4(col("cos_sim")).as("cos_sim"), round4(col("mmr")).as("mmr")))
  }

  /** q25's scored candidates, cut to the per-query MMR pool (embedding
    * carried for the candidate-candidate sims) — factored for MmrSpec. */
  private[operators] def mmrPool(t: graft.Tables): DataFrame = {
    val e = t.embeddings.select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < 10).select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("q_emb"), col("embedding")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= MmrPool)
      .select(col("query_id"), col("vec_id"), col("cos"), col("embedding"))
  }

  /** Greedy MMR over a candidate pool sorted by (rel desc, id asc) — the
    * single selection definition the engine's per-group rerank and the
    * spec's driver-side reference share. Returns (id, rel, mmrScore) in
    * pick order; first-maximum-wins over the sorted pool gives the
    * (higher-rel, lower-id) tie rule. */
  private[operators] def mmrSelect(
      cands: Array[(Long, Double, Array[Double])], k: Int,
      lambda: Double): Seq[(Long, Double, Double)] = {
    def cosLocal(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val picked = scala.collection.mutable.ArrayBuffer[(Long, Double, Double)]()
    val pickedEmb = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    val used = new Array[Boolean](cands.length)
    while (picked.length < math.min(k, cands.length)) {
      var bestIdx = -1
      var bestScore = Double.NegativeInfinity
      var i = 0
      while (i < cands.length) {
        if (!used(i)) {
          var maxSim = 0.0
          pickedEmb.foreach { s =>
            val cs = cosLocal(cands(i)._3, s); if (cs > maxSim) maxSim = cs
          }
          val score = lambda * cands(i)._2 - (1 - lambda) * maxSim
          if (score > bestScore) { bestScore = score; bestIdx = i }
        }
        i += 1
      }
      used(bestIdx) = true
      picked += ((cands(bestIdx)._1, cands(bestIdx)._2, bestScore))
      pickedEmb += cands(bestIdx)._3
    }
    picked.toSeq
  }

  /** q209: MinHash calibration audit — how well do the 64-hash signature
    * estimates track EXACT Jaccard on the pairs the dedup pipeline acts
    * on? The sketch theory says per-pair σ = √(J(1−J)/64) ≤ 0.0625; this
    * query measures the realized bias / MAE / worst case on the q36 exact
    * pair set (the ground truth that stops being computable at 100 TB —
    * audit the sketch where exact still runs, then trust it at scale, the
    * same discipline as q208). Plan: exact pairs from the shared
    * inverted-index core, signatures map-only ([[graft.functions
    * .MinHashSignature]]), two id-keyed joins fetch each pair's
    * signatures, the component-agreement fold is per-row array math, and
    * the report is one aggregate row. Everything after the (already
    * audited) exact-pair formation is pair-scale. No oracle (MinHash is
    * the part SQL can't express — the exact side is q36's oracled SQL);
    * MinhashCalibrationSpec pins the realized errors inside the
    * theoretical envelope. */
  val q209 = EngineQuery("q209_minhash_calibration", None) { t =>
    val pairs = TextQueries.corpusJaccardPairs(t)
    val sigs = shingled(t.documents)
      .select(col("doc_id"), graft.functions.MinHashSignature(col("sh")).as("sig"))
    val est = aggregate(
      zip_with(col("sa"), col("sb"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (a, x) => a + x).cast("double") / NumHashes
    val joined = pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sa")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sb")), "doc_b")
      .select(col("jac"), est.as("est"))
      .withColumn("err", col("est") - col("jac"))
    joined.agg(
      count(lit(1)).as("n_pairs"),
      round4(avg(col("jac"))).as("mean_jac"),
      round4(avg(col("est"))).as("mean_est"),
      round4(avg(col("err"))).as("bias"),
      round4(avg(abs(col("err")))).as("mae"),
      round4(max(abs(col("err")))).as("max_abs_err"))
  }

  /** q210: ANN recall audit — the third member of the sketch-calibration
    * family (q208 quantiles, q209 minhash, q210 vector search): recall@5
    * of the trained multi-probe IVF path (q37) against the exact cosine
    * baseline (q25), per query and overall. This is the number an ANN
    * deployment publishes with every index build — serving switches to
    * the approximate path only because this audit says what it loses.
    * Both sides are existing audited plans; the audit itself is one
    * query-keyed join of two 50-row result sets plus a rollup. The
    * summary row (query_id = −1) carries the mean recall. */
  val q210 = EngineQuery("q210_ann_recall_audit", None) { t =>
    val exact = q25.run(t.spark, t.dir)
      .select(col("query_id"), col("neighbor_id"))
    val approx = q37.run(t.spark, t.dir)
      .select(col("query_id").as("a_qid"), col("neighbor_id").as("a_nid"))
    val hits = exact
      .join(approx,
        col("query_id") === col("a_qid") && col("neighbor_id") === col("a_nid"),
        "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("a_nid").isNotNull, 1L).otherwise(0L)).as("n_hit"))
      .withColumn("recall", round4(col("n_hit").cast("double") / col("n_exact")))
    val overall = hits.agg(
      lit(-1L).as("query_id"), sum(col("n_exact")).as("n_exact"),
      sum(col("n_hit")).as("n_hit"),
      round4(sum(col("n_hit")).cast("double") / sum(col("n_exact"))).as("recall"))
    orderedByAll(hits.unionByName(overall))
  }

  /** Deterministic stub TEXT encoder into the embeddings table's 64-dim
    * space: the document's UTF-8 bytes through the SAME partition-level
    * encoder boundary as the media modalities
    * ([[Multimodal.embedFeatures]] — stub model with the avalanche-fixed
    * geometry, real plumbing: in production this is where the text tower
    * of a two-tower model loads, once per partition). Filter-the-documents
    * -side-first contract as every encoder caller: the query set is
    * bounded (doc_id < `limit`, q25/q37's convention), so the encode is a
    * map-only pass over `limit` rows, never the corpus. */
  private[graft] def textQueryEmbeddings(
      t: graft.Tables, limit: Long = 10): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    implicit val mEnc = Encoders.product[Multimodal.MediaRecord]
    val qdocs = t.documents.filter(col("doc_id") < limit)
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .map { case (id, src, text) =>
        Multimodal.MediaRecord(id, src, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    Multimodal.embedFeatures(qdocs).toDF
      .select(col("doc_id").as("query_id"), col("embedding").as("q_emb"))
  }

  /** Buckets probed per text query in q229 — 4 of [[graft.functions.
    * KMeansTrainer.K]] = 8: a text-tower query vector is NOT a member of
    * the indexed corpus, so it lands between cells more often than q37's
    * in-corpus queries and needs a wider probe fan to reach the same
    * recall regime (measured on the gate fixtures sf0.001/sf0.01:
    * recall@5 0.54/0.52 at nprobe 2, 0.76/0.78 at 4, 1.00/1.00 at 8 =
    * exhaustive; 4 is the knee — half the candidate volume of exhaustive
    * for three quarters of its recall, and TextRetrievalSpec re-measures
    * the sweep so these numbers cannot rot). */
  private[graft] val NProbeText = 4

  /** TEXT→EMBEDDINGS cross-modal retrieval — documents querying the
    * `embeddings` table BY CONTENT with no id bridge (the two-tower serving
    * shape: text through its encoder tower, ANN against the standing
    * vector index): each query doc's text embeds via the shared stub
    * encoder boundary ([[textQueryEmbeddings]]), probes its [[NProbeText]]
    * nearest cells of q37's TRAINED coarse quantizer (probe selection is
    * the fused codegen literal-centroid expression — map-only, zero
    * exchange), and exact cosine + deterministic top-5 runs on the probed
    * cells only (candidates ≈ nprobe·N/k per query, never all-pairs; the
    * bounded query set broadcasts, the corpus never shuffles). Same output
    * shape as q37. Approximate by construction (trained quantizer + stub
    * encoder) → no SQL oracle; TextRetrievalSpec pins recall@5 vs the
    * exact brute-force anchor under the SAME query vectors, determinism,
    * and the cartesian-free plan. */
  val q229 = EngineQuery("q229_text_vec_retrieval", None) { t =>
    textRetrievalTop5(t, NProbeText)
  }

  /** q229's serve body at an explicit probe width — TextRetrievalSpec
    * sweeps it to keep [[NProbeText]]'s measured-knee claim honest. */
  private[graft] def textRetrievalTop5(t: graft.Tables, nprobe: Int): DataFrame = {
    val model = graft.functions.KMeansTrainer.trainedModel(t)
    val e = t.embeddings.select(col("vec_id"), col("embedding"))
    val buckets = e.select(col("vec_id"), col("embedding"),
      graft.functions.KMeansTrainer.coarseBucket(col("embedding"), model).as("bucket"))
    val q = textQueryEmbeddings(t).select(
      col("query_id"), col("q_emb"),
      explode(graft.functions.KMeansTrainer
        .probeBuckets(col("q_emb"), model, nprobe)).as("bucket"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    orderedByAll(
      buckets.join(broadcast(q), "bucket")
        .withColumn("cos", cosine(col("q_emb"), col("embedding")))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("query_id"), col("neighbor_id"),
          round4(col("cos")).as("cos_sim"), col("rn")))
  }

  val all: Seq[EngineQuery] =
    Seq(q24, q25, q35, q37, q38, q49, q92, q108, q118, q127, q140, q145, q146,
      q154, q164, q183, q185, q186, q199, q209, q210, q217, q229)
}
