package graft.operators

import graft.{Artifacts, EngineQuery, dsl}
import graft.dsl._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis + exact/n-gram dedup operators over the `documents` table —
  * the LLM-training-pipeline surface (SURVEY.md §2 q23, q26, q29 plus the
  * q31–q34/q36 extensions: language-ID, quality scoring, token counting,
  * fingerprinting, n-gram Jaccard dedup).
  *
  * Scale notes: every per-document computation is a codegen'd column
  * expression over the token array (no UDF, no collect); the only shuffles
  * are the final aggregations and — for q36 — the inverted-index self-join
  * on shingle, which is the standard way to find near-dup pairs without a
  * crossJoin (skewed hot shingles are handled by AQE skew-join at runtime).
  */
object TextQueries {

  /** Exact dedup by normalized full text `lower(trim(text))` (SURVEY §2 key),
    * keyed on the content DIGEST `sha2(normalized, 256)`: both the groupBy
    * and the survivor semi-join shuffle 64-hex-char digests instead of the
    * corpus's own bytes — at 100 TB that is the difference between moving
    * ~10 TB of text through two exchanges and moving ~6 GB of digests.
    * SHA-256 collisions are cryptographically negligible, so group structure
    * is identical to grouping by the text itself (DuckDB oracle mirrors with
    * its sha256()). Survivor per duplicate group = min doc_id —
    * deterministic, unlike dropDuplicates' arbitrary row pick. Reported as
    * surviving-doc count per language of the survivor.
    */
  val q23 = EngineQuery(
    "q23_dedup_exact",
    Some("""WITH k AS (SELECT doc_id, lang, sha256(lower(trim(text))) AS key
           |           FROM documents),
           |     s AS (SELECT min(doc_id) AS keep_id FROM k GROUP BY key)
           |SELECT lang, CAST(count(*) AS BIGINT) AS survivors
           |FROM k JOIN s ON doc_id = keep_id
           |GROUP BY lang ORDER BY ALL""".stripMargin)) { t =>
    // unhex: shuffle the 32 raw digest bytes, not 64 hex chars (the oracle
    // can keep grouping on the hex form — group structure is identical and
    // the key never reaches the output).
    val keyed = t.documents.select(
      col("doc_id"), col("lang"),
      unhex(sha2(lower(trim(col("text"))), 256)).as("key"))
    val keep = keyed.groupBy("key").agg(min(col("doc_id")).as("keep_id"))
    orderedByAll(
      keyed
        .join(keep, keyed("doc_id") === keep("keep_id"), "left_semi")
        .groupBy("lang")
        .agg(count(lit(1)).as("survivors")))
  }

  val q26 = EngineQuery(
    "q26_text_stats",
    Some("""SELECT term, CAST(count(*) AS BIGINT) AS cnt
           |FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents) t
           |GROUP BY term ORDER BY cnt DESC, term LIMIT 20""".stripMargin)) { t =>
    t.documents
      .select(explode(toks(col("text"))).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term"))
      .limit(20)
  }

  /** Generator/UDTF surface: row expansion via the built-in explode
    * Generator — a custom Catalyst Generator is unnecessary because explode
    * over a computed array expresses every flatMap-shaped expansion the
    * reference surface needs (SURVEY.md §2 q29 note, §7.5).
    */
  val q29 = EngineQuery(
    "q29_udtf_generator",
    Some("""SELECT lang, CAST(count(DISTINCT sh) AS BIGINT) AS shingle_cnt,
           |       CAST(count(*) AS BIGINT) AS total
           |FROM (SELECT lang,
           |        unnest(list_transform(
           |          generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)),
           |          i -> array_to_string((string_split(text,' '))[i:i+2], ' '))) AS sh
           |      FROM documents) t
           |GROUP BY lang ORDER BY ALL""".stripMargin)) { t =>
    orderedByAll(
      t.documents
        .select(col("lang"), toks(col("text")).as("tk"))
        .filter(size(col("tk")) >= 3)
        // all instances, not distinct — `total` counts every expansion row
        .select(col("lang"), explode(transform(
          sequence(lit(1), size(col("tk")) - 2),
          i => concat_ws(" ", slice(col("tk"), i, lit(3))))).as("sh"))
        .groupBy("lang")
        .agg(countDistinct(col("sh")).as("shingle_cnt"), count(lit(1)).as("total")))
  }

  /** Language-ID by token-frequency profile: score each candidate language
    * by how many of its 3 signature tokens appear; argmax with struct
    * ordering (score, then lang name) — deterministic on both engines.
    * Profiles derived from observed per-language token frequencies in the
    * driver testdata; this is the n-gram-heuristic shape, not a real model.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("customer", "hash", "join"),
    "en" -> Seq("hash", "order", "table"),
    "es" -> Seq("slow", "agg", "vector"),
    "fr" -> Seq("scan", "data", "batch"),
    "zh" -> Seq("join", "small", "column"))

  val q31 = EngineQuery(
    "q31_lang_id",
    Some {
      val cands = langProfiles.map { case (l, ms) =>
        val lst = ms.map(m => s"'$m'").mkString("[", ", ", "]")
        s"struct_pack(sc := len(list_filter(string_split(text,' '), x -> list_contains($lst, x))), l := '$l')"
      }.mkString("[", ", ", "]")
      s"""WITH scored AS (SELECT doc_id, lang, unnest($cands) AS cand FROM documents),
         |best AS (SELECT doc_id, any_value(lang) AS lang, max(cand).l AS predicted
         |         FROM scored GROUP BY doc_id)
         |SELECT lang, predicted, CAST(count(*) AS BIGINT) AS cnt
         |FROM best GROUP BY lang, predicted ORDER BY ALL""".stripMargin
    }) { t =>
    val cands = langProfiles.map { case (l, ms) =>
      struct(
        size(filter(toks(col("text")), x => x.isin(ms: _*))).cast("long").as("sc"),
        lit(l).as("l"))
    }
    orderedByAll(
      t.documents
        .select(col("lang"), array_max(array(cands: _*)).getField("l").as("predicted"))
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("cnt")))
  }

  /** Quality scoring: token count, avg token length, stopword ratio, and a
    * composite score — the length/punct/stopword-ratio family of filters a
    * training-data pipeline applies before dedup.
    */
  val q32 = EngineQuery(
    "q32_quality_score",
    Some("""SELECT doc_id,
           |  CAST(len(string_split(text,' ')) AS INT) AS n_tok,
           |  round(CAST(list_sum(list_transform(string_split(text,' '), x -> length(x))) AS DOUBLE)
           |        / CAST(len(string_split(text,' ')) AS DOUBLE), 4) AS avg_tok_len,
           |  round(CAST(len(list_filter(string_split(text,' '),
           |          x -> list_contains(['the','a','of','and','in','to'], x))) AS DOUBLE)
           |        / CAST(len(string_split(text,' ')) AS DOUBLE), 4) AS stop_ratio,
           |  round(least(1.0, CAST(len(string_split(text,' ')) AS DOUBLE) / 200.0)
           |        * (1.0 - CAST(len(list_filter(string_split(text,' '),
           |             x -> list_contains(['the','a','of','and','in','to'], x))) AS DOUBLE)
           |           / CAST(len(string_split(text,' ')) AS DOUBLE)), 4) AS score
           |FROM documents ORDER BY ALL""".stripMargin)) { t =>
    val tk = toks(col("text"))
    val nTok = size(tk)
    val stops = Seq("the", "a", "of", "and", "in", "to")
    val stopRatio = size(filter(tk, x => x.isin(stops: _*))).cast("double") / nTok.cast("double")
    orderedByAll(
      t.documents.select(
        col("doc_id"),
        nTok.as("n_tok"),
        round4(aggregate(transform(tk, x => length(x)), lit(0), (a, x) => a + x)
          .cast("double") / nTok.cast("double")).as("avg_tok_len"),
        round4(stopRatio).as("stop_ratio"),
        round4(least(lit(1.0), nTok.cast("double") / 200.0) * (lit(1.0) - stopRatio)).as("score")))
  }

  /** Token counting two ways: whitespace split and a BPE-ish regex
    * ([a-z]+|[0-9]+|other) — the latter is what a tokenizer-budget estimate
    * looks like before a real BPE vocab is available.
    */
  val q33 = EngineQuery(
    "q33_token_count",
    Some("""SELECT lang,
           |  CAST(sum(len(string_split(text,' '))) AS BIGINT) AS ws_tokens,
           |  CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS re_tokens,
           |  round(avg(CAST(len(string_split(text,' ')) AS DOUBLE)), 4) AS avg_ws_tokens
           |FROM documents GROUP BY lang ORDER BY ALL""".stripMargin)) { t =>
    orderedByAll(
      t.documents
        .select(col("lang"),
          size(toks(col("text"))).as("ws"),
          regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).as("re"))
        .groupBy("lang")
        .agg(
          sum(col("ws")).as("ws_tokens"),
          sum(col("re")).as("re_tokens"),
          round4(avg(col("ws").cast("double"))).as("avg_ws_tokens")))
  }

  /** Document fingerprint: polynomial rolling hash over per-token codes,
    * mod 1e9+7 at each step (stays far from int64 overflow — ANSI-safe).
    * Fold order is fixed and mirrored exactly by the oracle's
    * list_reduce(list_prepend(0, ...)).
    */
  val q34 = EngineQuery(
    "q34_fingerprint",
    Some("""SELECT doc_id,
           |  list_reduce(list_prepend(CAST(0 AS BIGINT),
           |    list_transform(string_split(text,' '),
           |      t -> CAST(length(t) AS BIGINT) * 131 + CAST(ascii(t) AS BIGINT))),
           |    (a, b) -> (a * 31 + b) % 1000000007) AS fp
           |FROM documents ORDER BY ALL""".stripMargin)) { t =>
    orderedByAll(
      t.documents.select(
        col("doc_id"),
        aggregate(
          toks(col("text")), lit(0L),
          (h, tk) => (h * 31L + (length(tk).cast("long") * 131L + ascii(tk).cast("long")))
            % 1000000007L).as("fp")))
  }

  /** Exact n-gram (5-token shingle) Jaccard near-dup pairs via an
    * inverted-index self-join on shingle — the crossJoin-free formulation
    * that survives scale: |pairs| is bounded by shingle co-occurrence, not
    * |docs|². Threshold applied on the exact (integer-arithmetic) ratio.
    */
  val q36 = EngineQuery(
    "q36_dedup_ngram_jaccard",
    Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents
           |           WHERE len(string_split(text,' ')) >= 5),
           |s AS (SELECT DISTINCT doc_id,
           |        unnest(list_transform(generate_series(1, len(toks) - 4),
           |          i -> array_to_string(toks[i:i+4], ' '))) AS sh
           |      FROM t),
           |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
           |c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
           |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
           |      GROUP BY a.doc_id, b.doc_id)
           |SELECT doc_a, doc_b,
           |       round(CAST(common AS DOUBLE) / CAST(x.n + y.n - common AS DOUBLE), 4) AS jaccard
           |FROM c JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
           |WHERE CAST(common AS DOUBLE) / CAST(x.n + y.n - common AS DOUBLE) >= 0.5
           |ORDER BY ALL""".stripMargin)) { t =>
    orderedByAll(
      corpusJaccardPairs(t)
        .select(col("doc_a"), col("doc_b"), round4(col("jac")).as("jaccard")))
  }

  /** Shared by q36 (pair list) and q60 (transitive clusters): 5-gram
    * inverted-index self-join, Jaccard >= 0.5. One pass computes the
    * inverted index; set sizes derive from it with a reusable aggregation
    * instead of re-shingling the corpus per branch. The shuffle_hash hint
    * makes both sides' shingle-keyed shuffles identical → AQE
    * ReusedExchange computes the index once (a broadcast self-join would
    * build it twice and can't broadcast a corpus-sized index anyway), and
    * unlike a merge hint it skips sorting the exploded index on the wide
    * shingle key — the sort dominated first-run latency (8.3s vs 1.9s
    * unhinted at sf0.1).
    *
    * The index is keyed on `xxhash64(shingle)`, not the shingle string: the
    * exchange carries 16 bytes per posting instead of the shingle's ~30+
    * (measured 5.6 MB → 3.2 MB at sf0.1 — the difference between shuffling
    * the corpus ×5 and shuffling compact postings at 100 TB). A 64-bit
    * collision would merge two shingle groups — P ≈ n²·2⁻⁶⁴, ~1e-9 at 10⁶
    * distinct shingles, and the common-count it would perturb is
    * oracle-checked at three SFs. The same trick cannot use a cheaper key:
    * common-shingle COUNTS feed Jaccard, so the join key must distinguish
    * shingles, not just bucket them (contrast q24's LSH bands, which only
    * need candidate recall). */
  private[operators] def ngramJaccardPairs(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val inv = invPostings(docs)
    ngramJaccardPairsFrom(inv, inv.groupBy("doc_id").agg(count(lit(1)).as("n")))
  }

  /** The pair-formation half of [[ngramJaccardPairs]] over a prebuilt
    * postings frame `(doc_id, s)` + sizes `(doc_id, n)` — so callers that
    * hold the session-memoized corpus artifact ([[corpusPostings]]) never
    * re-shingle. */
  private[operators] def ngramJaccardPairsFrom(
      inv: org.apache.spark.sql.DataFrame,
      sizes: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val common = inv.as("a").hint("shuffle_hash")
      .join(inv.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    val jac = col("common").cast("double") /
      (col("na") + col("nb") - col("common")).cast("double")
    common
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .filter(jac >= 0.5)
      .select(col("doc_a"), col("doc_b"), jac.as("jac"))
  }

  /** Session-memoized corpus 5-gram postings — the IN-SESSION twin of
    * q144's at-rest layout: `(doc_id, s = xxhash64(5-shingle))` postings
    * plus per-doc set sizes `(doc_id, n)`, both eagerly localCheckpointed
    * once per (session, data dir). Before this cache, every member of the
    * n-gram family (q36 pairs, q60/q87/q104 cluster labels, q125
    * incremental fuzzy, q144/q181 index builds, q151 prefix filter, q191
    * incremental components, q209 minhash calibration) re-ran the
    * corpus-scale tokenize+shingle+explode pass from the text — ~8 scans
    * where one suffices. At 100 TB this artifact is what a real pipeline
    * materializes first (q144 IS its durable form); postings are 16 B/row
    * and sizes are id-scale, so holding them for the session is cheap.
    * Losslessness is free to prove: every oracled consumer still
    * hash-matches its from-text DuckDB SQL. */
  private[operators] def corpusPostings(
      t: graft.Tables): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
    Artifacts.get(t, "ngram5")({
      val inv = invPostings(t.documents).localCheckpoint()
      val sizes = inv.groupBy("doc_id").agg(count(lit(1)).as("n")).localCheckpoint()
      (inv, sizes)
    })

  /** q36's pair list served from the memoized corpus postings. */
  private[operators] def corpusJaccardPairs(t: graft.Tables): org.apache.spark.sql.DataFrame = {
    val (inv, sizes) = corpusPostings(t)
    ngramJaccardPairsFrom(inv, sizes)
  }

  /** The memoized corpus postings restricted to a reference id set — the
    * ref side of [[deltaNearDupDrops]]. Callers whose reference
    * is SLICE-INVARIANT (q216's frozen store across generations) compute
    * this once and checkpoint it instead of re-restricting per slice. */
  private[operators] def refPostings(
      t: graft.Tables,
      refIds: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    corpusPostings(t)._1.join(refIds, Seq("doc_id"), "left_semi")

  /** Row bound under which a MATERIALIZED delta frame broadcasts as the
    * pair join's build side (~16 B/posting → ~160 MB at the bound, far
    * under the broadcast hard limit; on a cluster, re-probed by every
    * ledger partition, which is where broadcast beats re-shuffling the
    * ledger). The decision reads the TRUE size (a count on the caller's
    * checkpoint), never the optimizer estimate: the serve path's delta
    * derives from at-rest postings tables whose file-size stats land the
    * estimate over the threshold, and the pair join degraded to a
    * sort-merge that shuffled + sorted the STORE postings once per
    * generation (measured 43 s vs 7 s live at sf10x — the live form's
    * broadcast came from a lucky explode underestimate, not a better
    * plan). A bulk backfill whose delta exceeds the bound keeps the
    * shuffle join — the no-degrade contract the no-hint rule existed
    * for, now enforced on truth instead of estimates. */
  private[operators] val DeltaBroadcastRows = 10000000L

  /** DELTA-ONLY near-dup drops — q125's standing-index economics lifted to
    * pair FORMATION for the incremental funnels (q215/q216): the ids of
    * `deltaInv`'s docs that pair (exact 5-gram Jaccard ≥ 0.5, set sizes
    * from `sizes`) with any doc of `refInv` (either id order — the frozen
    * store/ledger reference) or with a LOWER-id doc of `deltaInv` (the
    * within-batch earlier-member rule). Both sides arrive as restrictions
    * of the standing corpus postings: the caller checkpoints the delta
    * side and also appends it to its admitted postings, so one corpus
    * postings scan serves both. The ref ∪ delta postings stream map-side;
    * the DELTA side is the natural build side (bounded by the ingest,
    * never the corpus — the q90 asymmetry, fuzzy form). It broadcasts when
    * `broadcastDelta` (the caller's truth-sized decision against
    * [[DeltaBroadcastRows]]); otherwise the planner chooses, so a bulk
    * backfill falls back to a shuffle join instead of dying at the
    * broadcast limit.
    * CurationPlanSpec's no-corpus-build-side audit pins the dangerous
    * direction. The candidate-pair aggregation is bounded by |delta| ×
    * near-dup fan-in. Nothing here depends on the full-corpus pair
    * artifact. Exact semantics (every pair sharing ≥ 1 shingle is
    * counted), proven by q215/q216 still hash-matching their from-text
    * DuckDB oracle. Docs under 5 tokens have no postings and can never
    * drop — the oracle's `ntok >= 5` guard. */
  private[operators] def deltaNearDupDrops(
      sizes: org.apache.spark.sql.DataFrame,
      refInv: org.apache.spark.sql.DataFrame,
      deltaInv: org.apache.spark.sql.DataFrame,
      broadcastDelta: Boolean = false): org.apache.spark.sql.DataFrame = {
    val streamInv = refInv
      .withColumn("is_ref", lit(true))
      .unionByName(deltaInv.withColumn("is_ref", lit(false)))
    // The pair-admission predicate is constant per (c,b) doc pair, so
    // putting it in the join condition prunes candidates without changing
    // any surviving pair's exact common-shingle count. The c.doc_id =!=
    // b.doc_id guard makes overlap harmless: current callers pass disjoint
    // refIds/deltaIds, but without it a doc present on BOTH sides would
    // pair with its own ref copy at Jaccard 1 and drop itself.
    val buildSide = if (broadcastDelta) broadcast(deltaInv) else deltaInv
    val common = streamInv.as("c")
      .join(buildSide.as("b"),
        col("c.s") === col("b.s") &&
          col("c.doc_id") =!= col("b.doc_id") &&
          (col("c.is_ref") || col("c.doc_id") < col("b.doc_id")))
      .groupBy(col("b.doc_id").as("delta_doc"), col("c.doc_id").as("other_doc"))
      .agg(count(lit(1)).as("common"))
    val jac = col("common").cast("double") /
      (col("nd") + col("no") - col("common")).cast("double")
    common
      .join(sizes.select(col("doc_id").as("delta_doc"), col("n").as("nd")), "delta_doc")
      .join(sizes.select(col("doc_id").as("other_doc"), col("n").as("no")), "other_doc")
      .filter(jac >= 0.5)
      .select(col("delta_doc").as("doc_id")).distinct()
  }

  /** Redaction / scrubbing (the PII-scrub shape of a training pipeline):
    * pattern-redact "sensitive" tokens, report per-language redaction
    * volume. Patterns are trivial here (the corpus has no real PII) but the
    * operator — global regexp rewrite + match counting, both codegen'd — is
    * the real thing. */
  val q44 = EngineQuery(
    "q44_redact",
    Some("""SELECT lang,
           |  CAST(count(*) FILTER (WHERE regexp_matches(text, '\b(value|key)\b')) AS BIGINT)
           |    AS docs_affected,
           |  CAST(sum(len(regexp_extract_all(text, '\b(value|key)\b'))) AS BIGINT)
           |    AS total_redactions,
           |  CAST(sum(length(regexp_replace(text, '\b(value|key)\b', '[REDACTED]', 'g'))
           |       - length(text)) AS BIGINT) AS added_chars
           |FROM documents GROUP BY lang ORDER BY ALL""".stripMargin)) { t =>
    val pat = "\\b(value|key)\\b"
    orderedByAll(
      t.documents
        .select(col("lang"),
          regexp_count(col("text"), lit(pat)).as("hits"),
          (length(regexp_replace(col("text"), pat, "[REDACTED]")) - length(col("text"))).as("delta"))
        .groupBy("lang")
        .agg(
          sum(when(col("hits") > 0, 1L).otherwise(0L)).as("docs_affected"),
          sum(col("hits")).as("total_redactions"),
          sum(col("delta").cast("long")).as("added_chars")))
  }

  /** Quality filtering: the q32 score applied as a survival threshold —
    * the shape of a pre-training corpus filter pass. */
  val q45 = EngineQuery(
    "q45_quality_filter",
    Some("""WITH scored AS (
           |  SELECT lang,
           |    least(1.0, CAST(len(string_split(text,' ')) AS DOUBLE) / 200.0)
           |      * (1.0 - CAST(len(list_filter(string_split(text,' '),
           |           x -> list_contains(['the','a','of','and','in','to'], x))) AS DOUBLE)
           |         / CAST(len(string_split(text,' ')) AS DOUBLE)) AS score
           |  FROM documents)
           |SELECT lang,
           |  CAST(count(*) FILTER (WHERE score >= 0.5) AS BIGINT) AS survivors,
           |  CAST(count(*) AS BIGINT) AS total,
           |  round(avg(score), 4) AS avg_score
           |FROM scored GROUP BY lang ORDER BY ALL""".stripMargin)) { t =>
    val tk = toks(col("text"))
    val nTok = size(tk)
    val stops = Seq("the", "a", "of", "and", "in", "to")
    val stopRatio = size(filter(tk, x => x.isin(stops: _*))).cast("double") / nTok.cast("double")
    val score = least(lit(1.0), nTok.cast("double") / 200.0) * (lit(1.0) - stopRatio)
    orderedByAll(
      t.documents
        .select(col("lang"), score.as("score"))
        .groupBy("lang")
        .agg(
          sum(when(col("score") >= 0.5, 1L).otherwise(0L)).as("survivors"),
          count(lit(1)).as("total"),
          round4(avg(col("score"))).as("avg_score")))
  }

  /** TF-IDF: term frequency per document × inverse document frequency over
    * the corpus, averaged per language, top-3 terms each. Corpus size joins
    * in as a broadcast 1-row aggregate (no driver collect). The tf⋈df join
    * keys on term and is left to AQE: a web-scale vocabulary (10⁷–10⁸ terms)
    * must NOT be broadcast, and a shuffle join on term is correct there. */
  val q47 = EngineQuery(
    "q47_tfidf",
    Some("""WITH tok AS (SELECT doc_id, lang, unnest(string_split(text,' ')) AS term
           |            FROM documents),
           |tf AS (SELECT doc_id, lang, term, count(*) AS tf FROM tok GROUP BY 1, 2, 3),
           |dfx AS (SELECT term, count(*) AS dfn FROM tf GROUP BY term),
           |n AS (SELECT count(*) AS n_docs FROM documents),
           |sc AS (SELECT lang, term,
           |         avg(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(dfn AS DOUBLE))) AS s
           |       FROM tf JOIN dfx USING (term) CROSS JOIN n GROUP BY lang, term),
           |r AS (SELECT lang, term, s,
           |        row_number() OVER (PARTITION BY lang ORDER BY s DESC, term) AS rn
           |      FROM sc)
           |SELECT lang, term, round(s, 4) AS tfidf, CAST(rn AS INT) AS rn
           |FROM r WHERE rn <= 3 ORDER BY lang, rn""".stripMargin)) { t =>
    val tok = t.documents.select(col("doc_id"), col("lang"), explode(toks(col("text"))).as("term"))
    val tf = tok.groupBy("doc_id", "lang", "term").agg(count(lit(1)).as("tf"))
    val dfx = tf.groupBy("term").agg(count(lit(1)).as("dfn"))
    val n = t.documents.agg(count(lit(1)).as("n_docs"))
    val sc = tf
      .join(dfx, "term")
      .crossJoin(broadcast(n))
      .groupBy("lang", "term")
      .agg(avg(col("tf").cast("double")
        * log(col("n_docs").cast("double") / col("dfn").cast("double"))).as("s"))
    val w = Window.partitionBy("lang").orderBy(col("s").desc, col("term"))
    sc.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("lang"), col("term"), round4(col("s")).as("tfidf"), col("rn"))
      .orderBy(col("lang"), col("rn"))
  }

  /** Benchmark decontamination: drop/flag training documents that share any
    * 8-token shingle with the held-out eval set (here: `source = 'src0'`
    * stands in for the benchmark corpus). The eval shingle set is BOUNDED BY
    * THE BENCHMARK SIZE — tiny relative to the training corpus — so the
    * explicit broadcast is the correct 100 TB plan: the training corpus
    * streams map-side through a broadcast hash join, no corpus shuffle.
    * Output: contaminated doc + how many 8-gram shingles it shares.
    */
  val q50 = EngineQuery(
    "q50_decontaminate",
    Some("""WITH t AS (SELECT doc_id, lang, source, string_split(text, ' ') AS tk
           |           FROM documents),
           |s AS (SELECT doc_id, lang, source, array_to_string(tk[i:i+7], ' ') AS sh
           |      FROM t, unnest(generate_series(1, len(tk)-7)) AS u(i)
           |      WHERE len(tk) >= 8),
           |sd AS (SELECT DISTINCT doc_id, lang, source, sh FROM s),
           |ev AS (SELECT DISTINCT sh FROM sd WHERE source = 'src0')
           |SELECT sd.doc_id, sd.lang, CAST(count(*) AS BIGINT) AS n_hits
           |FROM sd JOIN ev USING (sh) WHERE sd.source <> 'src0'
           |GROUP BY 1, 2 ORDER BY ALL""".stripMargin)) { t =>
    val sh = t.documents
      .select(col("doc_id"), col("lang"), col("source"), toks(col("text")).as("tk"))
      .filter(size(col("tk")) >= 8)
      .select(col("doc_id"), col("lang"), col("source"),
        explode(shingles(col("tk"), 8)).as("sh"))
    val ev = sh.filter(col("source") === "src0").select("sh").distinct()
    orderedByAll(
      sh.filter(col("source") =!= "src0")
        .join(broadcast(ev), "sh")
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_hits")))
  }

  /** Gopher/C4-style repetitiousness signal: per-document bigram counts —
    * total vs distinct. Reported as integers (n_bigrams, n_repeated) rather
    * than a rounded ratio: ratios with power-of-two denominators land
    * exactly on the .xxxx5 boundary where Spark and DuckDB round() diverge
    * (SURVEY §7.4.2), while counts are exact on both engines. Map-only: one
    * scan, per-row array ops, one aggregation-free projection.
    */
  val q51 = EngineQuery(
    "q51_repetition",
    Some("""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS tk
           |           FROM documents),
           |g AS (SELECT doc_id, lang,
           |        len(tk) - 1 AS n_bigrams,
           |        len(list_distinct(list_transform(generate_series(1, len(tk)-1),
           |          i -> array_to_string(tk[i:i+1], ' ')))) AS n_distinct
           |      FROM t WHERE len(tk) >= 2)
           |SELECT doc_id, lang, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           |       CAST(n_bigrams - n_distinct AS BIGINT) AS n_repeated
           |FROM g ORDER BY ALL""".stripMargin)) { t =>
    val g = t.documents
      .select(col("doc_id"), col("lang"), toks(col("text")).as("tk"))
      .filter(size(col("tk")) >= 2)
      .withColumn("n_bigrams", (size(col("tk")) - 1).cast("long"))
      .withColumn("n_distinct",
        size(array_distinct(transform(
          sequence(lit(1), size(col("tk")) - 1),
          i => concat_ws(" ", slice(col("tk"), i, lit(2)))))).cast("long"))
    orderedByAll(
      g.select(col("doc_id"), col("lang"), col("n_bigrams"),
        (col("n_bigrams") - col("n_distinct")).as("n_repeated")))
  }

  /** Fuzzy near-dup via edit distance, blocked: candidate pairs share
    * (lang, first-2-token prefix), then levenshtein ≤ 25% of the shorter
    * text confirms. Blocking is what makes this scale — the equi-join on
    * the block key shuffles once and never goes all-pairs; edit distance
    * (O(n·m) per pair) runs only inside blocks. The prefix block is the
    * demo key; at 100 TB swap in a MinHash band or [[q34]]'s fingerprint
    * as the block key — same join shape. Distances are exact ints on both
    * engines (classic Levenshtein), so the oracle hash-matches.
    */
  val q55 = EngineQuery(
    "q55_dedup_fuzzy",
    Some("""WITH d AS (SELECT doc_id, lang, text, string_split(text, ' ') AS tk
           |           FROM documents),
           |b AS (SELECT doc_id, lang, text,
           |        array_to_string(tk[1:2], ' ') AS pfx FROM d),
           |p AS (SELECT a.doc_id AS doc_a, c.doc_id AS doc_b, a.lang,
           |        CAST(levenshtein(a.text, c.text) AS BIGINT) AS dist,
           |        least(len(a.text), len(c.text)) AS mn
           |      FROM b a JOIN b c ON a.lang = c.lang AND a.pfx = c.pfx
           |                       AND a.doc_id < c.doc_id)
           |SELECT doc_a, doc_b, lang, dist FROM p
           |WHERE dist * 4 <= mn ORDER BY ALL""".stripMargin)) { t =>
    // Decide with small rows, move big rows once (guide §8 / round 18):
    // the r17 shape self-joined TEXT-carrying rows on the block key, so
    // one hot (lang, pfx) block was a single shuffle partition doing ALL
    // of its n² O(n·m) edit-distance work in one task — at the sf1x
    // scaling decade q55 ran 27 s warm at 8 AND 32 cores (a straggler no
    // core count can split; AQE skew-join cannot split a single key).
    // Now: (1) pairs form on (doc_id, length)-only rows — the hot block's
    // pair EXPANSION is still one task, but it is comparison-cheap; the
    // length pre-guard (|Δlen| lower-bounds edit distance; no row can
    // pass 4·dist ≤ mn unless 4·|Δlen| ≤ mn) prunes ~75% of blocked pairs
    // before any text moves; (2) surviving pairs fetch their texts by two
    // doc_id equi-joins, which re-distributes the expensive DP evaluation
    // by PAIR across the full width instead of by block; (3) the DP is
    // the BANDED threshold form — levenshtein(a, b, k) is O(n·k) and
    // returns −1 past the bound, and with k = ⌊mn/4⌋ the ≥ 0 test is
    // exactly the 4·dist ≤ mn test on ints (d ≤ ⌊mn/4⌋ ⟺ 4d ≤ mn), so
    // the survivors' `dist` needs no second DP. Same rows, same dist —
    // the oracle hash pins it.
    val k = t.documents.select(
      col("doc_id"), col("lang"),
      concat_ws(" ", slice(toks(col("text")), 1, 2)).as("pfx"),
      length(col("text")).as("len"))
    val ka = k.select(col("doc_id").as("doc_a"), col("lang"), col("pfx"),
      col("len").as("la"))
    val kc = k.select(col("doc_id").as("doc_b"), col("lang"), col("pfx"),
      col("len").as("lc"))
    val mn = least(col("la"), col("lc"))
    val cand = ka.join(kc, Seq("lang", "pfx"))
      .filter(col("doc_a") < col("doc_b") &&
        abs(col("la") - col("lc")) * 4 <= mn)
      .select(col("doc_a"), col("doc_b"), col("lang"), mn.as("mn"))
      // Explicit width pin (the nearDupDroppedFrom lesson): the pair
      // frame is ~28 B/row but each row costs an O(n·k) DP downstream,
      // and AQE coalesces by BYTES — unpinned it folded the whole DP
      // stage into ONE task (thread-dumped at sf1x: a single executor
      // thread in levenshteinDistance while 31 idled).
      .repartition(t.spark.sessionState.conf.numShufflePartitions,
        col("doc_a"), col("doc_b"))
    val texts = t.documents.select(col("doc_id"), col("text"))
    orderedByAll(
      cand
        .join(texts.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
        .join(texts.select(col("doc_id").as("doc_b"), col("text").as("tc")), "doc_b")
        .withColumn("dist",
          org.apache.spark.sql.GraftShims.column(
            org.apache.spark.sql.catalyst.expressions.Levenshtein(
              org.apache.spark.sql.GraftShims.expression(col("ta")),
              org.apache.spark.sql.GraftShims.expression(col("tc")),
              Some(org.apache.spark.sql.GraftShims.expression(
                floor(col("mn") / 4).cast("int")))))
            .cast("long"))
        .filter(col("dist") >= 0)
        .select(col("doc_a"), col("doc_b"), col("lang"), col("dist")))
  }

  /** Content-hash sampling (~20%): keep a document iff the first byte of
    * md5(text) ≤ 0x32 (51/256 ≈ 19.9%). This — not rand() — is how a
    * training mix is subsampled at scale: the decision is a pure function
    * of content, so it is reproducible across reruns, repartitions, and
    * engines, composable with other filters, and needs no seed plumbing.
    * Map-only: the predicate evaluates inside the scan, nothing shuffles
    * but the per-language report. Both engines produce identical lowercase
    * md5 hex, so the sample set hash-matches exactly.
    */
  val q57 = EngineQuery(
    "q57_hash_sample",
    Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled,
           |       CAST(sum(n_chars) AS BIGINT) AS chars
           |FROM documents
           |WHERE substr(md5(text), 1, 2) <= '32'
           |GROUP BY lang ORDER BY ALL""".stripMargin)) { t =>
    orderedByAll(
      t.documents
        .filter(substring(md5(col("text").cast("binary")), 1, 2) <= "32")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sampled"), sum(col("n_chars")).as("chars")))
  }

  /** Transitive dedup clusters: connected components over the q36 near-dup
    * pair graph, by iterative min-label propagation — near-duplicate is not
    * transitive, but dedup GROUPS must be (A≈B, B≈C ⇒ one cluster), so real
    * pipelines cluster the pair graph before electing survivors. Each
    * superstep is one distributed join + min-aggregation; convergence takes
    * O(component diameter) supersteps on the plain path (near-dup clusters
    * are shallow), and the loop DEGRADES to pointer doubling past a depth
    * probe for adversarially deep graphs — see [[propagateMinLabels]] and
    * DeepGraphSpec. The label sum is monotonically decreasing, so it
    * doubles as the fixpoint detector (one cheap agg per superstep, no
    * expensive set comparison).
    */
  val q60 = EngineQuery(
    "q60_dedup_components",
    Some("""WITH RECURSIVE t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents
           |           WHERE len(string_split(text,' ')) >= 5),
           |s AS (SELECT DISTINCT doc_id,
           |        unnest(list_transform(generate_series(1, len(toks) - 4),
           |          i -> array_to_string(toks[i:i+4], ' '))) AS sh
           |      FROM t),
           |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
           |c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
           |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
           |      GROUP BY a.doc_id, b.doc_id),
           |pairs AS (
           |  SELECT doc_a, doc_b
           |  FROM c JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
           |  WHERE CAST(common AS DOUBLE) / CAST(x.n + y.n - common AS DOUBLE) >= 0.5),
           |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
           |        UNION SELECT doc_b, doc_a FROM pairs),
           |reach AS (
           |  SELECT a, b FROM sym
           |  UNION
           |  SELECT r.a, s2.b FROM reach r JOIN sym s2 ON r.b = s2.a),
           |lab AS (SELECT a AS doc_id, least(a, min(b)) AS cluster FROM reach GROUP BY a)
           |SELECT cluster, CAST(count(*) AS BIGINT) AS n_docs
           |FROM lab GROUP BY cluster ORDER BY ALL""".stripMargin)) { t =>
    orderedByAll(
      dedupClusterLabels(t)
        .groupBy(col("label").as("cluster")).agg(count(lit(1)).as("n_docs")))
  }

  /** (doc_id, label) cluster assignment over the q36 near-dup pair graph —
    * the shared core of q60 (cluster sizes), q87 (corpus purge) and q104
    * (cluster-size profile). MEMOIZED per (session, data dir), same
    * amortization as q94's bucketed layouts: a real pipeline materializes
    * cluster labels ONCE and derives every downstream view from them —
    * label propagation is the expensive part (inverted-index self-join +
    * O(diameter) supersteps), the three consumers are id-scale rollups.
    * The cached value is the eagerly localCheckpointed label set:
    * (doc_id, label) pairs bounded by the clustered population, NOT the
    * corpus, so holding it for the session is cheap even at 100 TB. */
  private def dedupClusterLabels(t: graft.Tables): org.apache.spark.sql.DataFrame =
    Artifacts.get(t, "clusterlabels")(
      propagateMinLabels(
        corpusJaccardPairs(t)
          .select(col("doc_a").as("a"), col("doc_b").as("b")),
        maxIters = 40, doublingAfter = DoublingAfter)._1)

  /** Supersteps of plain propagation before the loop DEGRADES to pointer
    * doubling. Near-dup corpora converge in ≲3 (diameter ≲3 after the
    * min-neighbor init — measured in rounds 3–5), so production never
    * crosses this; a graph still moving after 5 rounds is the adversarial
    * deep-chain case where O(diameter) supersteps would dominate. */
  private[operators] val DoublingAfter = 5

  /** Min-label propagation over an undirected edge list (pairs given one
    * direction; symmetrized here) with a DEPTH-PROBED degrade path:
    *
    *  - plain loop (one edge-join + min-agg per superstep): cheapest per
    *    round, O(diameter) rounds — wins on the shallow graphs near-dup
    *    clustering actually produces (pointer doubling was measured ~2×
    *    slower per round here in round 3, all overhead on diameter ≲3).
    *  - after [[DoublingAfter]] unconverged rounds, each superstep ALSO
    *    jumps label(u) → label(label(u)) (a labels self-join — valid
    *    because every label IS a node id present in the label table):
    *    chain depth halves per round, so convergence is O(log diameter)
    *    from wherever the plain loop left off. This is the documented
    *    upgrade path for adversarially deep graphs (long re-post chains),
    *    now wired instead of only documented; DeepGraphSpec proves it
    *    equal on a deep chain where doubling wins by an order of
    *    magnitude in rounds.
    *
    * The label sum is monotonically decreasing and doubles as the fixpoint
    * detector (one cheap agg per superstep). Each superstep eagerly
    * localCheckpoints its labels: the materialization is the same cost the
    * old persist+sum paid, but it also TRUNCATES lineage — the plain
    * persist kept the full logical plan growing by a join per round, which
    * is invisible at diameter ≲3 and an O(rounds²) plan-compile blow-up on
    * exactly the deep graphs this degrade path exists for (measured: OOM
    * in plan stringification at diameter 40). Checkpoint blocks free via
    * the ContextCleaner as each round's RDD goes out of scope. Returns the
    * converged (doc_id, label) set and the superstep count it took. */
  private[operators] def propagateMinLabels(
      pairs: org.apache.spark.sql.DataFrame,
      maxIters: Int,
      doublingAfter: Int): (org.apache.spark.sql.DataFrame, Int) = {
    val edges = pairs.select(col("a"), col("b"))
      .union(pairs.select(col("b").as("a"), col("a").as("b")))
      .persist()
    // Init folds the first propagation in: label(u) = min(u, min neighbor).
    var labels = edges
      .groupBy(col("a").as("doc_id"))
      .agg(least(col("doc_id"), min(col("b"))).as("label"))
      .localCheckpoint()
    // coalesce: an EMPTY edge list (a corpus slice with no near-dup pairs —
    // q214's filtered pipeline hits this at small SFs) sums to NULL, and
    // the convergence probe must read 0, not throw.
    var prevSum = labels.agg(coalesce(sum(col("label")), lit(0L))).head.getLong(0)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val prop = edges.join(labels, edges("a") === labels("doc_id"))
        .select(col("b").as("doc_id"), col("label"))
      val stepped =
        if (iter < doublingAfter) labels.unionByName(prop)
        else {
          // pointer jump: label(u) ← min(label(u), label(label(u)))
          val l2 = labels.select(col("doc_id").as("jd"), col("label").as("jlabel"))
          val jumped = labels.join(l2, col("label") === col("jd"), "left")
            .select(col("doc_id"),
              least(col("label"), coalesce(col("jlabel"), col("label"))).as("label"))
          jumped.unionByName(prop)
        }
      val next = stepped
        .groupBy("doc_id").agg(min(col("label")).as("label"))
        .localCheckpoint()
      val nextSum = next.agg(coalesce(sum(col("label")), lit(0L))).head.getLong(0)
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      iter += 1
    }
    edges.unpersist()
    // The returned labels are already a checkpointed, CacheManager-free
    // scan: callers hold plain RDD blocks that the ContextCleaner frees
    // once the DataFrame goes out of scope (the round-3 leak fix — a
    // returned DataFrame gives callers no hook to unpersist a CacheManager
    // pin themselves).
    (labels, iter)
  }

  /** Near-dup corpus purge — the OUTPUT side of dedup clustering: from each
    * q60 cluster keep only the min-doc_id representative, leave unclustered
    * docs untouched, report per-lang before/after. One anti-join of the
    * corpus against the cluster "losers" (doc_id ≠ its cluster label):
    * the purge never shuffles the corpus — losers are a broadcast-scale
    * id set bounded by the duplicate population. */
  val q87 = EngineQuery(
    "q87_dedup_purge",
    Some("""WITH RECURSIVE t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents
           |           WHERE len(string_split(text,' ')) >= 5),
           |s AS (SELECT DISTINCT doc_id,
           |        unnest(list_transform(generate_series(1, len(toks) - 4),
           |          i -> array_to_string(toks[i:i+4], ' '))) AS sh
           |      FROM t),
           |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
           |c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
           |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
           |      GROUP BY a.doc_id, b.doc_id),
           |pairs AS (
           |  SELECT doc_a, doc_b
           |  FROM c JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
           |  WHERE CAST(common AS DOUBLE) / CAST(x.n + y.n - common AS DOUBLE) >= 0.5),
           |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
           |        UNION SELECT doc_b, doc_a FROM pairs),
           |reach AS (
           |  SELECT a, b FROM sym
           |  UNION
           |  SELECT r.a, s2.b FROM reach r JOIN sym s2 ON r.b = s2.a),
           |lab AS (SELECT a AS doc_id, least(a, min(b)) AS cluster FROM reach GROUP BY a),
           |losers AS (SELECT doc_id FROM lab WHERE doc_id <> cluster)
           |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(count(*) FILTER (WHERE doc_id NOT IN (SELECT doc_id FROM losers))
           |            AS BIGINT) AS n_survivors
           |FROM documents GROUP BY lang ORDER BY ALL""".stripMargin)) { t =>
    val losers = dedupClusterLabels(t)
      .filter(col("doc_id") =!= col("label"))
      .select(col("doc_id"))
    orderedByAll(
      t.documents
        .join(losers.withColumn("lose", lit(1)), Seq("doc_id"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("lose").isNull, 1L).otherwise(0L)).as("n_survivors")))
  }

  /** Incremental (append-only) exact dedup — the daily-ingest shape of q23:
    * a new BATCH (here doc_id % 10 == 0) is admitted only if its content
    * digest is unseen in the standing CORPUS index (the rest), then deduped
    * within itself (min-doc_id survivor). The 100 TB asymmetry drives the
    * plan: the corpus digest index NEVER shuffles as text — the batch's
    * digest set (bounded by the ingest rate, not the corpus) joins onto a
    * map-side corpus scan, only the matching digests (≤ |batch|) come back
    * to anti-filter the batch. No explicit broadcast hints: for a normal
    * ingest the batch digest set sits under the auto-broadcast threshold
    * and the optimizer/AQE picks the broadcast plan (both joins broadcast
    * at test SFs — asserted in PlanInvariantsSpec); for a bulk backfill
    * where the batch rivals the corpus, the same plan degrades gracefully
    * to a digest-keyed shuffle join — 32-byte keys, never document bytes.
    * The within-batch dedup shuffles batch digests only. */
  val q90 = EngineQuery(
    "q90_dedup_incremental",
    Some("""WITH k AS (SELECT doc_id, lang, sha256(lower(trim(text))) AS key
           |           FROM documents),
           |     b AS (SELECT * FROM k WHERE doc_id % 10 = 0),
           |     c AS (SELECT key FROM k WHERE doc_id % 10 <> 0),
           |     fresh AS (SELECT b.* FROM b
           |               WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.key = b.key)),
           |     keep AS (SELECT min(doc_id) AS keep_id FROM fresh GROUP BY key)
           |SELECT lang, CAST(count(*) AS BIGINT) AS admitted
           |FROM fresh JOIN keep ON doc_id = keep_id
           |GROUP BY lang ORDER BY ALL""".stripMargin)) { t =>
    val keyed = t.documents.select(
      col("doc_id"), col("lang"),
      unhex(sha2(lower(trim(col("text"))), 256)).as("key"))
    val batch = keyed.filter(col("doc_id") % 10 === 0)
    val corpus = keyed.filter(col("doc_id") % 10 =!= 0).select("key")
    // digests present in BOTH: corpus streams map-side against the
    // broadcast batch digest set; result is bounded by |batch|
    val hits = corpus
      .join(batch.select("key").distinct(), Seq("key"), "left_semi")
      .distinct()
    val fresh = batch.join(hits, Seq("key"), "left_anti")
    val keep = fresh.groupBy("key").agg(min(col("doc_id")).as("keep_id"))
    orderedByAll(
      fresh
        .join(keep, fresh("doc_id") === keep("keep_id"), "left_semi")
        .groupBy("lang")
        .agg(count(lit(1)).as("admitted")))
  }

  /** Quality-priority exact dedup — q23 with a real survivor policy: keep
    * the LONGEST copy of each duplicate group (the most complete capture),
    * doc_id as the deterministic tiebreak. Where q23's min-id policy needs
    * a groupBy + semi-join (two passes), a value-bearing survivor collapses
    * to ONE pass: `max_by(row-struct, (n_chars, -doc_id))` partial-
    * aggregates map-side, so the single digest-keyed exchange carries one
    * small struct per GROUP — for a mostly-unique 100 TB corpus that is the
    * cheapest possible exact-dedup plan. */
  val q97 = EngineQuery(
    "q97_dedup_quality",
    Some("""WITH k AS (SELECT doc_id, lang, n_chars,
           |                  sha256(lower(trim(text))) AS key
           |           FROM documents),
           |r AS (SELECT *, row_number() OVER (PARTITION BY key
           |                 ORDER BY n_chars DESC, doc_id) AS rn
           |      FROM k)
           |SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
           |       round(avg(CAST(n_chars AS DOUBLE)), 4) AS avg_chars
           |FROM r WHERE rn = 1 GROUP BY lang ORDER BY ALL""".stripMargin)) { t =>
    val keyed = t.documents.select(
      unhex(sha2(lower(trim(col("text"))), 256)).as("key"),
      col("doc_id"), col("lang"), col("n_chars"))
    val kept = keyed
      .groupBy("key")
      .agg(max_by(
        struct(col("doc_id"), col("lang"), col("n_chars")),
        struct(col("n_chars"), (-col("doc_id")).as("neg_id"))).as("s"))
      .select(col("s.lang").as("lang"), col("s.n_chars").as("n_chars"))
    orderedByAll(
      kept.groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
          round4(avg(col("n_chars").cast("double"))).as("avg_chars")))
  }

  /** Dedup observability — the profile a pipeline operator dashboards
    * before purging: the DISTRIBUTION of near-dup cluster sizes (how many
    * pairs, triples, ... did clustering find), from the same q60 label
    * propagation, rolled up twice: labels → cluster sizes → size histogram.
    * Both rollups are id-scale aggregations over the checkpointed label
    * set; the corpus is never touched again. */
  val q104 = EngineQuery(
    "q104_cluster_profile",
    Some("""WITH RECURSIVE t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents
           |           WHERE len(string_split(text,' ')) >= 5),
           |s AS (SELECT DISTINCT doc_id,
           |        unnest(list_transform(generate_series(1, len(toks) - 4),
           |          i -> array_to_string(toks[i:i+4], ' '))) AS sh
           |      FROM t),
           |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
           |c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
           |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
           |      GROUP BY a.doc_id, b.doc_id),
           |pairs AS (
           |  SELECT doc_a, doc_b
           |  FROM c JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
           |  WHERE CAST(common AS DOUBLE) / CAST(x.n + y.n - common AS DOUBLE) >= 0.5),
           |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
           |        UNION SELECT doc_b, doc_a FROM pairs),
           |reach AS (
           |  SELECT a, b FROM sym
           |  UNION
           |  SELECT r.a, s2.b FROM reach r JOIN sym s2 ON r.b = s2.a),
           |lab AS (SELECT a AS doc_id, least(a, min(b)) AS cluster FROM reach GROUP BY a),
           |cs AS (SELECT cluster, count(*) AS csize FROM lab GROUP BY cluster)
           |SELECT CAST(csize AS BIGINT) AS cluster_size,
           |       CAST(count(*) AS BIGINT) AS n_clusters
           |FROM cs GROUP BY csize ORDER BY ALL""".stripMargin)) { t =>
    orderedByAll(
      dedupClusterLabels(t)
        .groupBy("label").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters")))
  }

  /** Bigram collocations — the n-gram language-model prep step: consecutive
    * token pairs explode from each document (map-only Generate over the
    * materialized token array, same shape as q29's shingles), count per
    * language, and a rank window keeps the top 3 per language (ties broken
    * by bigram text — deterministic on both engines). WindowGroupLimit
    * bounds the per-language rank before the shuffle, so the exchange
    * carries candidates, not the full bigram vocabulary. */
  val q105 = EngineQuery(
    "q105_bigram_colloc",
    Some("""WITH b AS (SELECT lang,
           |             unnest(list_transform(generate_series(1, len(string_split(text, ' ')) - 1),
           |               i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))
           |               AS bigram
           |           FROM documents
           |           WHERE len(string_split(text, ' ')) >= 2),
           |c AS (SELECT lang, bigram, count(*) AS cnt FROM b GROUP BY lang, bigram),
           |r AS (SELECT *, row_number() OVER (PARTITION BY lang
           |                 ORDER BY cnt DESC, bigram) AS rn
           |      FROM c)
           |SELECT lang, bigram, CAST(cnt AS BIGINT) AS cnt, CAST(rn AS INT) AS rn
           |FROM r WHERE rn <= 3 ORDER BY ALL""".stripMargin)) { t =>
    val bigrams = t.documents
      .select(col("lang"), toks(col("text")).as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("lang"), explode(transform(
        sequence(lit(1), size(col("tk")) - 1),
        i => concat_ws(" ", element_at(col("tk"), i), element_at(col("tk"), i + 1))))
        .as("bigram"))
    val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("bigram"))
    orderedByAll(
      bigrams
        .groupBy("lang", "bigram")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3))
  }

  /** Unigram-LM perplexity quality filter — the model-based quality scorer
    * of a pretraining pipeline (the CCNet recipe: score every document by
    * its cross-entropy under a language model trained on the corpus itself;
    * high perplexity = off-distribution = junk candidate). Heuristic
    * scoring is q32; this is the LEARNED counterpart, and like q106/q108
    * the trained artifact (the word-frequency table) is corpus-derived.
    *
    * Model: add-one-smoothed unigram LM, p(w) = (c(w)+1)/(N+V); doc score
    * is the cross-entropy −mean(ln p(w)). Plan for 100 TB:
    *  - ONE vocabulary-scale count pass (map-side partial agg — the same
    *    Zipf-bounded table q106 trains on);
    *  - the N/V normalizer is a 1-row agg broadcast by crossJoin;
    *  - scoring joins exploded tokens to the vocab BROADCAST (a Zipf vocab
    *    fits executor memory at any corpus size; an open vocabulary would
    *    flip this to a shuffle join on xxhash64(word) — same plan as q36's
    *    index);
    *  - per-doc reduction is a partial-aggregable avg: explode keeps a
    *    doc's tokens in its scan partition, so the exchange carries one
    *    partial row per doc — id-scale, never tokens.
    * The flag threshold (3.5 nats) sits ≥2.7e-4 from every document's
    * score at all gate SFs, 9 orders above cross-engine summation ulp, so
    * the boundary cannot flip. */
  val q110 = EngineQuery(
    "q110_lm_perplexity",
    Some("""WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
           |             FROM documents),
           |cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
           |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v
           |        FROM cnt),
           |sc AS (SELECT t.doc_id, t.lang,
           |         ln((CAST(c AS DOUBLE) + 1.0) / (n + v)) AS lp
           |       FROM tok t JOIN cnt USING (w) CROSS JOIN tot),
           |d AS (SELECT doc_id, lang, -avg(lp) AS ce FROM sc GROUP BY doc_id, lang)
           |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |       round(avg(ce), 4) AS avg_ce,
           |       CAST(count(*) FILTER (WHERE ce > 3.5) AS BIGINT) AS n_flagged
           |FROM d GROUP BY lang ORDER BY ALL""".stripMargin)) { t =>
    val tok = t.documents
      .select(col("doc_id"), col("lang"), explode(toks(col("text"))).as("w"))
    val cnt = tok.groupBy("w").agg(count(lit(1)).as("c"))
    val tot = cnt.agg(sum(col("c")).cast("double").as("n"),
      count(lit(1)).cast("double").as("v"))
    val scored = tok
      .join(broadcast(cnt), "w")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("lang"),
        log((col("c").cast("double") + 1.0) / (col("n") + col("v"))).as("lp"))
    val perDoc = scored.groupBy("doc_id", "lang").agg((-avg(col("lp"))).as("ce"))
    orderedByAll(
      perDoc.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round4(avg(col("ce"))).as("avg_ce"),
          sum(when(col("ce") > 3.5, 1L).otherwise(0L)).as("n_flagged")))
  }

  /** Intra-document repeated-block removal — the within-page dedup step of
    * a pretraining cleanup (the CCNet recipe dedups repeated LINES inside a
    * page before any corpus-level pass; this corpus has no newlines, so the
    * "line" is a non-overlapping 2-token block). A block is dropped iff an
    * identical block occurred EARLIER in the same document (keep-first);
    * the report is per affected document: blocks seen, blocks dropped,
    * tokens remaining.
    *
    * Plan for 100 TB: everything is per-document, so the whole computation
    * is MAP-ONLY higher-order array code inside the scan task — ONE
    * `aggregate` fold over the block starts carries (seen-set, dropped,
    * dropped-tokens) and never leaves the row. No explode, no (doc, block)
    * exchange at all; the only shuffle is the final ordered output at
    * id-scale. The fold's O(blocks²) seen-set probe is bounded by the
    * document window — the trade every within-doc operator should make,
    * because corpus-scale exchanges are what doesn't survive 100×, not
    * per-row CPU. (First cut kept `blocks` as a column and probed it with
    * `array_position` from a second lambda: projection collapse inlined the
    * whole transform into every probe — O(blocks³) per doc, 112s at sf0.1
    * vs 0.4s for this single-fold form. Higher-order lambdas must consume
    * arrays they build in the SAME expression.) */
  val q112 = EngineQuery(
    "q112_intradoc_dedup",
    Some("""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents),
           |b AS (SELECT doc_id, lang, len(tk) AS ntok,
           |        unnest(generate_series(1, len(tk), 2)) AS s, tk FROM t),
           |blk AS (SELECT doc_id, lang, ntok, s,
           |          array_to_string(tk[s:s+1], ' ') AS btxt,
           |          len(tk[s:s+1]) AS blen FROM b),
           |f AS (SELECT doc_id, lang, ntok, btxt, blen,
           |        count(*) AS c FROM blk GROUP BY 1, 2, 3, 4, 5),
           |d AS (SELECT doc_id, lang,
           |        CAST(sum(c) AS BIGINT) AS n_blocks,
           |        CAST(sum(c - 1) AS BIGINT) AS n_dropped,
           |        CAST(ntok - sum((c - 1) * blen) AS BIGINT) AS tokens_after
           |      FROM f GROUP BY 1, 2, ntok)
           |SELECT * FROM d WHERE n_dropped > 0 ORDER BY ALL""".stripMargin)) { t =>
    orderedByAll(
      t.documents
        .select(col("doc_id"), col("lang"), toks(col("text")).as("tk"))
        .select(col("doc_id"), col("lang"), col("tk"), size(col("tk")).as("ntok"))
        // blocks are folded as 64-bit xxhash64 digests of the token pair —
        // one hash per block, long-compare probes (a within-document 64-bit
        // collision is ~1e-17 per doc and would fail the oracle loudly).
        // The fold is routed through explode(array(...)): a Generate is a
        // predicate-pushdown barrier AND a single-reference site, so the
        // fold runs EXACTLY once per document — with a plain column, the
        // n_dropped filter was pushed below the projections and re-ran the
        // whole fold per doc with split(text) inlined into every slice
        // (measured 2.1s → 0.6s warm at sf0.1 from this change alone).
        .select(col("doc_id"), col("lang"), col("ntok"),
          explode(array(expr(
            """aggregate(
              |  transform(sequence(1, ntok, 2),
              |            s -> named_struct('h', xxhash64(slice(tk, s, 2)),
              |                              'l', size(slice(tk, s, 2)))),
              |  named_struct('seen', cast(array() as array<bigint>),
              |               'nd', cast(0 as bigint), 'dt', cast(0 as bigint)),
              |  (acc, b) -> if(array_contains(acc.seen, b.h),
              |    named_struct('seen', acc.seen, 'nd', acc.nd + 1, 'dt', acc.dt + b.l),
              |    named_struct('seen', array_append(acc.seen, b.h),
              |                 'nd', acc.nd, 'dt', acc.dt)))""".stripMargin)))
            .as("st"))
        .select(
          col("doc_id"), col("lang"),
          expr("(ntok + 1) div 2").as("n_blocks"),
          col("st.nd").as("n_dropped"),
          (col("ntok") - col("st.dt")).cast("long").as("tokens_after"))
        .filter(col("n_dropped") > 0))
  }

  /** Span-level decontamination — q50 answers "WHICH documents overlap the
    * eval set"; a real decontamination pass needs WHERE, so the hits can be
    * excised instead of dropping whole documents (the Llama/GPT-3 recipe:
    * remove the contaminated spans plus a margin, keep the rest). Per
    * contaminated doc: hit-span count, first/last hit token position (the
    * excision window), and the doc's span total.
    *
    * Plan at 100 TB — q50's discipline with positions riding along:
    *  - positional 8-gram spans are generated map-side (no distinct — the
    *    POSITION is the payload, duplicates are distinct rows by design);
    *  - the eval-set shingle table stays the broadcast side (eval suites
    *    are 1e3–1e6 spans — executor-memory scale by construction; the
    *    corpus side streams, whatever its size);
    *  - the post-join reduction is a partial-aggregable groupBy carrying
    *    one row per CONTAMINATED doc (min/max/count — id-scale, and hit
    *    docs are a thin tail of the corpus);
    *  - the per-doc span total rides the SAME map-side pass as the span
    *    generation (size(tk)-7, computed before explode), so no second
    *    corpus scan and no re-join against a totals table. */
  val q119 = EngineQuery(
    "q119_span_decontaminate",
    Some("""WITH t AS (SELECT doc_id, lang, source, string_split(text, ' ') AS tk
           |           FROM documents),
           |s AS (SELECT doc_id, lang, source, len(tk) - 7 AS n_spans, i AS pos,
           |        array_to_string(tk[i:i+7], ' ') AS sh
           |      FROM t, unnest(generate_series(1, len(tk)-7)) AS u(i)
           |      WHERE len(tk) >= 8),
           |ev AS (SELECT DISTINCT sh FROM s WHERE source = 'src0')
           |SELECT s.doc_id, s.lang, CAST(count(*) AS BIGINT) AS n_hit_spans,
           |       CAST(min(s.pos) AS BIGINT) AS first_pos,
           |       CAST(max(s.pos) AS BIGINT) AS last_pos,
           |       CAST(any_value(s.n_spans) AS BIGINT) AS n_spans
           |FROM s JOIN ev USING (sh) WHERE s.source <> 'src0'
           |GROUP BY 1, 2 ORDER BY ALL""".stripMargin)) { t =>
    // Positional spans: transform + posexplode (NOT dsl.shingles, which
    // array_distincts — here the position is the payload). 1-based to match
    // the oracle's generate_series.
    val base = t.documents
      .select(col("doc_id"), col("lang"), col("source"), toks(col("text")).as("tk"))
      .filter(size(col("tk")) >= 8)
      .select(col("doc_id"), col("lang"), col("source"),
        (size(col("tk")) - 7).cast("long").as("n_spans"),
        posexplode(transform(
          sequence(lit(1), size(col("tk")) - 7),
          i => concat_ws(" ", slice(col("tk"), i, lit(8))))).as(Seq("p0", "sh")))
      .select(col("doc_id"), col("lang"), col("source"), col("n_spans"),
        (col("p0") + 1).cast("long").as("pos"), col("sh"))
    val ev = base.filter(col("source") === "src0").select("sh").distinct()
    orderedByAll(
      base.filter(col("source") =!= "src0")
        .join(broadcast(ev), "sh")
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_hit_spans"),
          min(col("pos")).as("first_pos"),
          max(col("pos")).as("last_pos"),
          first(col("n_spans")).as("n_spans")))
  }

  /** Incremental FUZZY dedup — q90's ingest split crossed with q36's
    * inverted index: does the new batch near-duplicate anything in the
    * standing corpus? (Exact-digest q90 only catches byte-identical
    * re-crawls; a production ingest also wants the re-rendered/near-copy
    * page, which is a Jaccard question.)
    *
    * Plan at 100 TB: the corpus inverted index is the STANDING artifact —
    * in production it is materialized once and only re-read, and here it IS
    * the session-memoized [[corpusPostings]] frame (the same xxhash64(5-
    * shingle) postings q36/q144 key on, with the same documented 2^-64
    * collision caveat — oracle-checked against DuckDB's raw-string join at
    * three SFs, so a collision perturbing a common-count would surface as a
    * hash mismatch); the BATCH index (a day's crawl) is the small side and
    * broadcasts, so the corpus postings stream map-side and the only
    * exchange is the candidate-pair aggregation — bounded by
    * |batch|×|near-dups|, never corpus×corpus (q36's self-join shape) and
    * never corpus-wide (q90's asymmetry, applied to the fuzzy problem).
    * Degrades to q36's shuffle_hash join when a bulk backfill makes the
    * batch side too big to broadcast. Exact semantics (the index filter
    * loses nothing — every pair sharing ≥1 shingle is counted), so fully
    * oracled. */
  val q125 = EngineQuery(
    "q125_dedup_incremental_fuzzy",
    Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents
           |           WHERE len(string_split(text,' ')) >= 5),
           |s AS (SELECT DISTINCT doc_id,
           |        unnest(list_transform(generate_series(1, len(toks) - 4),
           |          i -> array_to_string(toks[i:i+4], ' '))) AS sh
           |      FROM t),
           |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
           |c AS (SELECT b.doc_id AS batch_doc, a.doc_id AS corpus_doc,
           |        count(*) AS common
           |      FROM s a JOIN s b ON a.sh = b.sh
           |      WHERE a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
           |      GROUP BY 1, 2)
           |SELECT batch_doc, corpus_doc,
           |       round(CAST(common AS DOUBLE) / CAST(x.n + y.n - common AS DOUBLE), 4) AS jaccard
           |FROM c JOIN sz x ON batch_doc = x.doc_id JOIN sz y ON corpus_doc = y.doc_id
           |WHERE CAST(common AS DOUBLE) / CAST(x.n + y.n - common AS DOUBLE) >= 0.5
           |ORDER BY ALL""".stripMargin)) { t =>
    val (inv, sizes) = corpusPostings(t)
    val common = inv.filter(col("doc_id") % 10 =!= 0).as("c")
      .join(broadcast(inv.filter(col("doc_id") % 10 === 0).as("b")),
        col("c.s") === col("b.s"))
      .groupBy(col("b.doc_id").as("batch_doc"), col("c.doc_id").as("corpus_doc"))
      .agg(count(lit(1)).as("common"))
    val jac = col("common").cast("double") /
      (col("nb") + col("nc") - col("common")).cast("double")
    orderedByAll(
      common
        .join(sizes.select(col("doc_id").as("batch_doc"), col("n").as("nb")), "batch_doc")
        .join(sizes.select(col("doc_id").as("corpus_doc"), col("n").as("nc")), "corpus_doc")
        .filter(jac >= 0.5)
        .select(col("batch_doc"), col("corpus_doc"), round4(jac).as("jaccard")))
  }

  /** The postings of `docs` — `(s = xxhash64(5-shingle), doc_id)`, distinct
    * per doc by shingle construction. Shared by the full build (q144) and
    * the delta append (q181) so the two write paths can never drift. */
  private[graft] def invPostings(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), toks(col("text")).as("tk"))
    .filter(size(col("tk")) >= 5)
    .select(col("doc_id"), explode(shingles(col("tk"), 5)).as("sh"))
    .select(col("doc_id"), xxhash64(col("sh")).as("s"))

  /** q36's inverted index AT REST — postings `(s = xxhash64(shingle),
    * doc_id)` written ONCE as a bucketed-by-s table (the join key), so the
    * expensive part of n-gram similarity (shingling the corpus text and
    * shuffling the exploded postings) is paid at index-build and never
    * again. Memoized per (session, dir) like q94's buckets — first call
    * builds, warm calls measure index-served queries. */
  private[graft] def postingsTable(t: graft.Tables): String =
    Artifacts.get(t, "postings")({
      val tbl = graft.sources.LayoutWriter.deterministicName("postings", t.dir, 8)
      // The write reads the memoized in-session postings (corpusPostings) —
      // the durable layout and the session artifact are the same frame, so
      // the build never re-shingles text the session already indexed.
      graft.sources.LayoutWriter.writeBucketed(corpusPostings(t)._1, tbl, "s", 8)
      tbl
    })

  /** q36's exact n-gram Jaccard pairs served from the STORED postings index
    * instead of live shingling — the production shape of repeated similarity
    * queries over a 100 TB corpus: queries scan compact 16-byte postings
    * (never the text), and because both sides of the self-join share the
    * table's bucketing+sort on `s`, the join runs with ZERO exchange and
    * ZERO sort (PlanInvariantsSpec asserts both scans are `Bucketed: true`
    * and no hash exchange on s survives) — q36 pays the postings shuffle
    * per query, q144 paid it once at the write. Set sizes derive from the
    * index itself (count per doc_id — postings are distinct shingles per
    * doc by construction), so the corpus text is not touched at all. Oracle:
    * byte-identical SQL to q36 — hash-matching the live-computed answer
    * proves the layout lossless. */
  val q144 = EngineQuery(
    "q144_postings_layout",
    Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents
           |           WHERE len(string_split(text,' ')) >= 5),
           |s AS (SELECT DISTINCT doc_id,
           |        unnest(list_transform(generate_series(1, len(toks) - 4),
           |          i -> array_to_string(toks[i:i+4], ' '))) AS sh
           |      FROM t),
           |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
           |c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
           |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
           |      GROUP BY a.doc_id, b.doc_id)
           |SELECT doc_a, doc_b,
           |       round(CAST(common AS DOUBLE) / CAST(x.n + y.n - common AS DOUBLE), 4) AS jaccard
           |FROM c JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
           |WHERE CAST(common AS DOUBLE) / CAST(x.n + y.n - common AS DOUBLE) >= 0.5
           |ORDER BY ALL""".stripMargin)) { t =>
    servePostingsJaccard(t.spark.table(postingsTable(t)))
  }

  /** The index-served exact n-gram Jaccard query — q144's serving plan,
    * shared verbatim by q181 so the incremental index answers through the
    * identical join/aggregate tree. `inv` must be the stored postings
    * table (bucketed by `s`). */
  private[graft] def servePostingsJaccard(inv: DataFrame): DataFrame = {
    val sizes = inv.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val common = inv.as("a")
      .join(inv.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    val jac = col("common").cast("double") /
      (col("na") + col("nb") - col("common")).cast("double")
    orderedByAll(
      common
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
        .filter(jac >= 0.5)
        .select(col("doc_a"), col("doc_b"), round4(jac).as("jaccard")))
  }

  /** Build provenance of the incrementally-maintained postings index (q181):
    * which files the base build wrote vs the delta append, and how many
    * postings each phase produced — the evidence PostingsAppendSpec uses to
    * prove the append touched only delta-sized data. */
  final case class PostingsAppendStats(
      table: String,
      basePostings: Long,
      deltaPostings: Long,
      baseFiles: Set[String],
      deltaFiles: Set[String])

  /** Incremental maintenance of the q144 index: the corpus is indexed in two
    * generations — a base build (7/8 of docs, the expensive once-paid
    * shuffle) and a DELTA APPEND (doc_id ≡ 0 (mod 8), the "daily batch"),
    * written into the SAME bucketed table with the SAME bucket spec. The
    * append job shingles and shuffles ONLY the delta docs; Spark routes the
    * new postings into bucket-aligned files alongside the base generation
    * (bucketing is table metadata, so every write honours it), and the base
    * files are never rewritten. Serving reads the union of both generations
    * through one bucketed scan — still no exchange on `s`. */
  private[graft] def appendedPostingsStats(t: graft.Tables): PostingsAppendStats =
    Artifacts.get(t, "postings-append")({
      val tbl = graft.sources.LayoutWriter.deterministicName("postings_inc", t.dir, 8)
      val isDelta = pmod(col("doc_id"), lit(8)) === 0
      // Both generations slice the memoized corpus postings by doc_id —
      // identical rows to invPostings over the filtered text (the split
      // predicate only reads doc_id), with zero re-shingling.
      val inv = corpusPostings(t)._1
      graft.sources.LayoutWriter.writeBucketed(
        inv.filter(!isDelta), tbl, "s", 8)
      val baseFiles = t.spark.table(tbl).inputFiles.toSet
      val basePostings = t.spark.table(tbl).count()
      graft.sources.LayoutWriter.writeBucketed(
        inv.filter(isDelta), tbl, "s", 8, mode = "append")
      val allFiles = t.spark.table(tbl).inputFiles.toSet
      val total = t.spark.table(tbl).count()
      PostingsAppendStats(tbl, basePostings, total - basePostings,
        baseFiles, allFiles -- baseFiles)
    })

  /** Compaction provenance for q184: file counts before/after folding the
    * multi-generation index back to one file per bucket. */
  final case class PostingsCompactStats(
      table: String, filesBefore: Int, filesAfter: Int)

  /** The maintenance pass that CLOSES the q181 append cycle: generations
    * accrete files per bucket (each append adds up to one file per bucket
    * per writing task), and a multi-file bucket costs the serving join a
    * LOCAL re-sort (Spark reports a bucketed scan's output as sorted only
    * when every bucket holds ≤1 file). Folding the generations back is one
    * index-sized repartition on the bucket key — `repartition(8, s)` uses
    * the SAME Murmur3-pmod partitioning the bucketed write computes, so
    * each task receives exactly one bucket's rows and writes exactly one
    * file: 1 file/bucket, sorted within, and the serving join drops BOTH
    * the exchange and the sort. The corpus text is never touched — the
    * q117 economics (compaction reads/writes only the compact artifact). */
  private[graft] def compactedPostingsStats(t: graft.Tables): PostingsCompactStats =
    Artifacts.get(t, "postings-compact")({
      val src = appendedPostingsStats(t)
      val before = t.spark.table(src.table).inputFiles.length
      val tbl = graft.sources.LayoutWriter.deterministicName("postings_cmp", t.dir, 8)
      // NO exchange: the source table is already bucketed by s, so the
      // planner collapses the explicit repartition(8, s) — the bucketing IS
      // the required distribution — and each write task streams exactly one
      // bucket's generation files into one fresh file (q117's no-shuffle
      // compaction economics, here preserving the bucket metadata). The
      // auto-bucketed-scan heuristic must be pinned on for the write: left
      // to itself it sees "no join/aggregate needs the bucketing", reads
      // the table as plain file splits, and the bucket↔task alignment (and
      // the 1-file-per-bucket fold) is lost.
      val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
      val prev = t.spark.conf.getOption(key)
      try {
        t.spark.conf.set(key, "false")
        graft.sources.LayoutWriter.writeBucketed(
          t.spark.table(src.table).repartition(8, col("s")), tbl, "s", 8)
      } finally prev match {
        case Some(v) => t.spark.conf.set(key, v)
        case None => t.spark.conf.unset(key)
      }
      PostingsCompactStats(tbl, before, t.spark.table(tbl).inputFiles.length)
    })

  /** q144's query served from the COMPACTED two-generation index — the
    * third act of the index lifecycle (build q144 → append q181 → compact
    * q184): after the fold each bucket is one sorted file again, so the
    * serving join needs no exchange and its per-partition sort collapses
    * to a single sorted run (and is ELIDED outright under Spark's
    * bucketed-scan outputOrdering flag — PostingsCompactSpec asserts the
    * exact contrast: sort-free post-compaction, local sorts still required
    * on the multi-generation table). Oracle: q36's SQL over the full
    * corpus, as q181 — the hash-match proves compaction lost nothing. */
  val q184 = EngineQuery(
    "q184_postings_compact",
    Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents
           |           WHERE len(string_split(text,' ')) >= 5),
           |s AS (SELECT DISTINCT doc_id,
           |        unnest(list_transform(generate_series(1, len(toks) - 4),
           |          i -> array_to_string(toks[i:i+4], ' '))) AS sh
           |      FROM t),
           |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
           |c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
           |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
           |      GROUP BY a.doc_id, b.doc_id)
           |SELECT doc_a, doc_b,
           |       round(CAST(common AS DOUBLE) / CAST(x.n + y.n - common AS DOUBLE), 4) AS jaccard
           |FROM c JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
           |WHERE CAST(common AS DOUBLE) / CAST(x.n + y.n - common AS DOUBLE) >= 0.5
           |ORDER BY ALL""".stripMargin)) { t =>
    servePostingsJaccard(t.spark.table(compactedPostingsStats(t).table))
  }

  /** Ingest provenance for q187: per-generation row counts of the
    * continuously-grown index. */
  final case class PostingsIngestStats(table: String, generationRows: Seq[Long])

  /** The q181 append cycle run CONTINUOUSLY: the corpus arrives as four
    * generations (doc_id mod 4 — "every micro-batch", not "the daily
    * batch"), each appended into the same bucketed table as it lands. This
    * is exactly the loop a [[graft.streaming]] foreachBatch sink drives —
    * StreamIngestSpec runs the REAL structured-streaming form (file source,
    * one generation per trigger, batchId 0 overwrites, later batches
    * append) through this same write path and pins the result equal; the
    * engine body is the deterministic batch form of that contract, per the
    * q177 convention. Each append shingles only its generation — the index
    * build cost is spread over arrival instead of paid as one rebuild. */
  private[graft] def ingestedPostingsStats(t: graft.Tables): PostingsIngestStats =
    Artifacts.get(t, "postings-ingest")({
      val tbl = graft.sources.LayoutWriter.deterministicName("postings_ing", t.dir, 8)
      // Per-generation provenance counts off each generation's OWN
      // checkpointed frame (round 18): the r17 shape counted the whole
      // table after every append — generation g's count re-read g+1
      // generations of files (10 generation-scans for a 4-generation
      // ingest) and serialized a blocking job between appends. The lazy
      // checkpoint materializes once inside the append's write job; the
      // count then reads blocks. Same numbers: appends are lossless, so
      // rows-appended == rows-of-generation (StreamIngestSpec pins
      // table count == sum of the deltas).
      val rows = (0 until 4).map { g =>
        val gen = invPostings(
          t.documents.filter(pmod(col("doc_id"), lit(4)) === g))
          .localCheckpoint(eager = false)
        graft.sources.LayoutWriter.writeBucketed(
          gen, tbl, "s", 8, if (g == 0) "overwrite" else "append")
        gen.count()
      }
      PostingsIngestStats(tbl, rows)
    })

  /** q144's query served from the CONTINUOUSLY-INGESTED index (4 appended
    * generations — the micro-batch form of q181's daily batch; the same
    * serving join, now over 4 generations of bucket-aligned files). Oracle:
    * q36's SQL over the full corpus — the hash-match proves an index grown
    * one arrival at a time answers exactly like a one-shot build, however
    * many generations deep it is. StreamIngestSpec drives the identical
    * write path from a real foreachBatch sink. */
  val q187 = EngineQuery(
    "q187_postings_stream_ingest",
    Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents
           |           WHERE len(string_split(text,' ')) >= 5),
           |s AS (SELECT DISTINCT doc_id,
           |        unnest(list_transform(generate_series(1, len(toks) - 4),
           |          i -> array_to_string(toks[i:i+4], ' '))) AS sh
           |      FROM t),
           |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
           |c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
           |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
           |      GROUP BY a.doc_id, b.doc_id)
           |SELECT doc_a, doc_b,
           |       round(CAST(common AS DOUBLE) / CAST(x.n + y.n - common AS DOUBLE), 4) AS jaccard
           |FROM c JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
           |WHERE CAST(common AS DOUBLE) / CAST(x.n + y.n - common AS DOUBLE) >= 0.5
           |ORDER BY ALL""".stripMargin)) { t =>
    servePostingsJaccard(t.spark.table(ingestedPostingsStats(t).table))
  }

  /** q144's query served from the INCREMENTALLY-MAINTAINED postings index —
    * the missing piece of the layout story: every other stored artifact
    * (q137/q144/q145/q146/q159) is build-once, but a 100 TB corpus grows
    * daily, and rebuilding a corpus-scale index to ingest a 1% delta is the
    * difference between an hourly ingest SLA and a weekly one. Here the
    * index is built as base + appended delta ([[appendedPostingsStats]]);
    * the oracle is q36's SQL over the FULL corpus, so the hash-match proves
    * the two-generation index answers exactly like a from-scratch build —
    * the append is lossless and complete.
    *
    * Scale shape: append cost is delta-sized (only delta docs are shingled
    * and shuffled — spec-asserted via file provenance); serving stays
    * exchange-free off the table bucketing. With multiple generations the
    * scan has >1 file per bucket, so Spark restores a LOCAL per-partition
    * sort before the merge join — rows never cross the wire (q117's
    * compaction is the maintenance pass that folds generations back to one
    * file per bucket when the local-sort cost accretes). Reference context:
    * A8's write path (reader.py:101-129) has no append surface at all. */
  val q181 = EngineQuery(
    "q181_postings_append",
    Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents
           |           WHERE len(string_split(text,' ')) >= 5),
           |s AS (SELECT DISTINCT doc_id,
           |        unnest(list_transform(generate_series(1, len(toks) - 4),
           |          i -> array_to_string(toks[i:i+4], ' '))) AS sh
           |      FROM t),
           |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
           |c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
           |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
           |      GROUP BY a.doc_id, b.doc_id)
           |SELECT doc_a, doc_b,
           |       round(CAST(common AS DOUBLE) / CAST(x.n + y.n - common AS DOUBLE), 4) AS jaccard
           |FROM c JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
           |WHERE CAST(common AS DOUBLE) / CAST(x.n + y.n - common AS DOUBLE) >= 0.5
           |ORDER BY ALL""".stripMargin)) { t =>
    servePostingsJaccard(t.spark.table(appendedPostingsStats(t).table))
  }

  /** Jaccard threshold shared by q36/q144/q151. */
  private val SimT = 0.5

  /** Frequency-ordered PREFIX postings of the shingle index: for a doc with
    * n distinct shingles, only its (n − ⌈t·n⌉ + 1) rarest shingles (global
    * doc-frequency ascending, ties by hash — one consistent total order for
    * the whole corpus) are emitted as join candidates. Lossless for
    * Jaccard ≥ t: o = |a∩b| and o/(|a|+|b|−o) ≥ t imply o ≥ t·|x| for both
    * sides, and a pair whose shared shingles all sat AFTER x's prefix would
    * have at most ⌈t·|x|⌉ − 1 < o of them — pigeonhole contradiction. The
    * doc's size n rides along for the candidate-time length filter. */
  private[operators] def prefixPostings(inv: DataFrame): DataFrame = {
    val freq = inv.groupBy("s").agg(count(lit(1)).as("df"))
    val sizes = inv.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val wDoc = Window.partitionBy("doc_id").orderBy(col("df"), col("s"))
    inv.join(freq, "s")
      .join(sizes, "doc_id")
      .withColumn("rk", row_number().over(wDoc))
      .filter(col("rk") <= col("n") - ceil(col("n") * SimT) + 1)
      .select(col("doc_id"), col("s"), col("n"), col("rk"))
  }

  /** Per-doc sorted shingle-hash ARRAYS — the candidate-verification twin of
    * [[corpusPostings]], memoized per (session, dir): `(doc_id, sh)` with
    * `sh` the doc's distinct 5-gram hashes sorted ascending (~8·n bytes per
    * doc, the same bytes as its postings, pivoted row→array once). Exact
    * overlap of a candidate pair is then `size(array_intersect(sa, sb))` on
    * two fetched arrays — candidate-LOCAL work — where the postings-join
    * formulation re-shuffled the full corpus-scale inverted index through
    * two joins and a pair-grouped count on EVERY evaluation (measured: the
    * dominant q151 warm term at the second decade). Same hash basis as the
    * postings join, so the count is bit-identical and the q151 oracle hash
    * proves losslessness. At 100 TB this is q144's at-rest layout pivoted
    * doc-major — the fetch side of a production verify stage. */
  private[operators] def corpusShingleArrays(t: graft.Tables): DataFrame =
    Artifacts.get(t, "ngram5arr")(
      corpusPostings(t)._1.groupBy("doc_id")
        .agg(sort_array(collect_list(col("s"))).as("sh"))
        .localCheckpoint())

  /** The corpus prefix-posting index, memoized per (session, dir) — the
    * AllPairs/PPJoin standing index (each doc's rarest n − ⌈t·n⌉ + 1
    * shingles with sizes and canonical ranks) a production set-sim join
    * maintains next to the full postings (the corpusPostings discipline):
    * un-memoized, every q151 evaluation re-paid the df-count + per-doc
    * rank window over the full postings — a corpus-scale pass for an index
    * that is a pure function of the corpus. */
  private[operators] def corpusPrefixPostings(t: graft.Tables): DataFrame =
    Artifacts.get(t, "prefix5")(
      prefixPostings(corpusPostings(t)._1).localCheckpoint())

  /** Candidate id pairs from the prefix self-join, with the AllPairs length
    * filter (J ≥ t ⇒ min(n_a,n_b) ≥ t·max(n_a,n_b)) AND the PPJoin
    * positional filter (Xiao et al. WWW'08) applied at the join so
    * incompatible pairs never materialize. The positional filter: at a
    * match on ranks (rk_a, rk_b) of the shared (df, s) canonical order, the
    * overlap can be at most 1 + min(n_a − rk_a, n_b − rk_b); J ≥ t needs
    * overlap ≥ t·(n_a + n_b)/(1+t), so a match whose bound falls short
    * cannot be a pair's FIRST common prefix token — and every true pair's
    * first common token lies in both prefixes (the prefix lemma) with
    * bound ≥ the true overlap, so admitting pairs where ANY match passes is
    * lossless (the q151 oracle hash, byte-identical to q36's SQL, proves
    * it). At t=0.5 both sides of the comparison are dyadic-exact doubles.
    * Distinct because two docs may still share several passing shingles. */
  private[operators] def prefixCandidates(pre: DataFrame): DataFrame = {
    val posBound = (lit(1) + least(col("a.n") - col("a.rk"), col("b.n") - col("b.rk")))
      .cast("double") * (1.0 + SimT)
    pre.as("a").hint("shuffle_hash")
      .join(pre.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          col("b.n") >= col("a.n") * SimT && col("a.n") >= col("b.n") * SimT &&
          posBound >= (col("a.n") + col("b.n")).cast("double") * SimT)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .distinct()
  }

  /** q36's exact answer through PREFIX FILTERING (the AllPairs/PPJoin family,
    * Bayardo et al. WWW'07; Xiao et al. WWW'08): instead of self-joining the
    * FULL inverted index (q36 — every posting of every doc meets every other
    * posting of its shingle), only each doc's rarest (n − ⌈t·n⌉ + 1) shingles
    * enter the candidate join, plus a candidate-time length filter. At t=0.5
    * that halves the join input outright, and because the prefix is chosen
    * by ascending document frequency the join's hot keys — the high-df
    * shingles that dominate the full self-join's output — are exactly the
    * ones the prefix EXCLUDES: posting-list join cost collapses from
    * Σ df² over all shingles to Σ df² over rare shingles. Exact verification
    * (common-shingle count via the full index, candidates only) restores the
    * true Jaccard — the filter is lossless (proof at [[prefixPostings]]), so
    * the oracle is byte-identical SQL to q36 and the hash-match proves it.
    * At 100 TB this is the difference between the shingle join exploding on
    * stop-phrase shingles and a candidate set near the true pair count.
    * Reference for the shape only: reader.py has no similarity surface. */
  val q151 = EngineQuery(
    "q151_setsim_prefix",
    Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents
           |           WHERE len(string_split(text,' ')) >= 5),
           |s AS (SELECT DISTINCT doc_id,
           |        unnest(list_transform(generate_series(1, len(toks) - 4),
           |          i -> array_to_string(toks[i:i+4], ' '))) AS sh
           |      FROM t),
           |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
           |c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
           |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
           |      GROUP BY a.doc_id, b.doc_id)
           |SELECT doc_a, doc_b,
           |       round(CAST(common AS DOUBLE) / CAST(x.n + y.n - common AS DOUBLE), 4) AS jaccard
           |FROM c JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
           |WHERE CAST(common AS DOUBLE) / CAST(x.n + y.n - common AS DOUBLE) >= 0.5
           |ORDER BY ALL""".stripMargin)) { t =>
    serveSetsimFrom(corpusPrefixPostings(t), corpusShingleArrays(t))
  }

  /** q151's serve pipeline over explicit index frames — shared verbatim by
    * q230 (the at-rest layout form) so the two serve paths cannot drift:
    * prefix+positional candidate join, then exact verification on
    * candidates only, candidate-LOCAL — fetch the two docs' shingle-hash
    * arrays (restricted to candidate ids first — the media-family fetch
    * pattern) and count the overlap in one codegen'd array_intersect per
    * pair. The corpus-scale inverted index never enters the verify plan. */
  private def serveSetsimFrom(pre: DataFrame, arrs: DataFrame): DataFrame = {
    val cand = prefixCandidates(pre)
    val candDocs = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
    val fetch = arrs.join(candDocs, Seq("doc_id")).localCheckpoint(eager = false)
    val scored = cand
      .join(fetch.select(col("doc_id").as("doc_a"), col("sh").as("sa")), "doc_a")
      .join(fetch.select(col("doc_id").as("doc_b"), col("sh").as("sb")), "doc_b")
      .withColumn("common", size(array_intersect(col("sa"), col("sb"))).cast("long"))
    val jac = col("common").cast("double") /
      (col("na") + col("nb") - col("common")).cast("double")
    orderedByAll(
      scored.filter(jac >= SimT)
        .select(col("doc_a"), col("doc_b"), round4(jac).as("jaccard")))
  }

  /** q151's standing text indexes AT REST — the set-sim members of the
    * stored-artifact family (q144 postings / q145 bands / q146 codes /
    * q228 media): the PREFIX postings land bucketed+sorted by `s` (the
    * candidate self-join key, so the join runs off the bucketing with no
    * exchange) and the per-doc shingle-hash ARRAYS bucketed by `doc_id`
    * (the verify-fetch key). Both were per-session localCheckpoints — a
    * pure function of the corpus re-derived every session (df-count +
    * rank window + pivot over the full postings; the declared q151 cold
    * trade) — a production AllPairs/PPJoin pipeline maintains them next to
    * the corpus and pays only the candidate join per evaluation. */
  private[operators] def setsimIndexTables(t: graft.Tables): (String, String) =
    Artifacts.get(t, "setsimlayout")({
      val width = t.spark.sessionState.conf.numShufflePartitions
      val preT = graft.sources.LayoutWriter.deterministicName("prefix5", t.dir, width)
      val arrT = graft.sources.LayoutWriter.deterministicName("ngram5arr", t.dir, width)
      graft.sources.LayoutWriter.serveOrWriteBucketed(
        t.spark, corpusPrefixPostings(t), preT, Seq("s"), width, Some(t.dir))
      graft.sources.LayoutWriter.serveOrWriteBucketed(
        t.spark, corpusShingleArrays(t), arrT, Seq("doc_id"), width, Some(t.dir))
      (preT, arrT)
    })

  /** q151's exact set-sim join served from the STORED index layout
    * ([[setsimIndexTables]]) — same serve tail verbatim, so the candidate
    * join reads bucket-aligned prefix files (no exchange on `s`) and the
    * verification fetch reads doc_id-bucketed arrays. Oracled with q151's
    * SQL (byte-identical to q36's semantics): the hash gate proves the
    * layout round-trip lossless, the same way q145/q183 prove the band
    * index. SetsimLayoutSpec additionally pins the exchange-free bucketed
    * candidate join, build-once memoization, and a served plan with zero
    * documents scans. */
  val q230 = EngineQuery(
    "q230_setsim_layout",
    Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents
           |           WHERE len(string_split(text,' ')) >= 5),
           |s AS (SELECT DISTINCT doc_id,
           |        unnest(list_transform(generate_series(1, len(toks) - 4),
           |          i -> array_to_string(toks[i:i+4], ' '))) AS sh
           |      FROM t),
           |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
           |c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
           |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
           |      GROUP BY a.doc_id, b.doc_id)
           |SELECT doc_a, doc_b,
           |       round(CAST(common AS DOUBLE) / CAST(x.n + y.n - common AS DOUBLE), 4) AS jaccard
           |FROM c JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
           |WHERE CAST(common AS DOUBLE) / CAST(x.n + y.n - common AS DOUBLE) >= 0.5
           |ORDER BY ALL""".stripMargin)) { t =>
    val (preT, arrT) = setsimIndexTables(t)
    serveSetsimFrom(t.spark.table(preT), t.spark.table(arrT))
  }

  /** q153's standing artifacts, memoized per (session, dir) — the
    * ExactSubstr-family repeated-span index a production decontamination
    * pipeline materializes alongside the corpus (the corpusPostings /
    * q144-layout discipline, span form): `baseMeta` = (doc_id, n_toks) for
    * span-eligible docs (~16 B/row), `flagged` = the (doc_id, pos) rows of
    * spans repeated in ≥ 2 docs (the index itself — the repeated subset,
    * far smaller than the span table). Un-memoized, every q153 evaluation
    * re-ran the corpus-scale posexplode + concat + hash + doc-frequency
    * pass — the round-11 sf1x scaling-tail finding (warm ~linear in the
    * SPAN population when the served answer is flagged-scale). */
  private[operators] def repeatedSpanIndex(t: graft.Tables): (DataFrame, DataFrame) =
    Artifacts.get(t, "spans8")({
      val base = t.documents
        .select(col("doc_id"), toks(col("text")).as("tk"))
        .filter(size(col("tk")) >= 8)
        .select(col("doc_id"), col("tk"), size(col("tk")).cast("long").as("n_toks"))
      // Positional spans: the span-string array materializes per doc (tk is
      // a materialized column — dsl.shingles' lambda rule), then posexplode;
      // spans are (id, pos, 8-byte hash) rows, held only while the index
      // builds. Spans join on xxhash64(span) — 8 B through the exchange
      // instead of ~50 B of text (the q36/q144 2^-64 collision caveat).
      val spans = base
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(1), col("n_toks") - 7),
            i => concat_ws(" ", slice(col("tk"), i, lit(8))))))
        .select(col("doc_id"), (col("pos") + 1).as("pos"), xxhash64(col("col")).as("s"))
        .localCheckpoint()
      val rep = spans.groupBy("s")
        .agg(countDistinct(col("doc_id")).as("dfreq"))
        .filter(col("dfreq") >= 2)
        .select("s")
      (base.select(col("doc_id"), col("n_toks")).localCheckpoint(),
        spans.join(rep, Seq("s"), "left_semi").select("doc_id", "pos").localCheckpoint())
    })

  /** Cross-document repeated-span coverage — the ExactSubstr family (Lee et
    * al., "Deduplicating Training Data Makes Language Models Better",
    * ACL'22), approximated with fixed-length positional 8-grams: a span is
    * "repeated" when the same 8-token window occurs in ≥2 DISTINCT documents,
    * and each doc reports how many of its tokens sit under at least one
    * repeated span (the fraction ExactSubstr would cut). Distinct from q112
    * (repetition WITHIN one doc, map-only) and q119 (spans shared with a
    * known benchmark set): here the reference corpus is the corpus itself.
    *
    * Scale shape: positional spans are generated map-side from one scan;
    * the only corpus-scale exchange is keyed by the 8-byte span hash
    * (doc-frequency count), then everything is doc_id-keyed. Coverage is an
    * interval-union count per doc — a lag-window union over the flagged
    * spans (doc-partitioned, exact for fixed-length intervals), so the
    * flagged population is never position-exploded. Spans join on
    * xxhash64(span) — 8 B through the exchange instead of ~50 B of text,
    * with the q36/q144 2^-64 collision caveat. Outputs are COUNTS, never
    * ratios (the .xxxx5 rounding-boundary rule). */
  val q153 = EngineQuery(
    "q153_crossdoc_spans",
    Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents
           |           WHERE len(string_split(text,' ')) >= 8),
           |sp0 AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 7)) AS pos FROM t),
           |sp AS (SELECT doc_id, pos, array_to_string(tk[pos:pos+7], ' ') AS sh FROM sp0),
           |rep AS (SELECT sh FROM sp GROUP BY sh HAVING count(DISTINCT doc_id) >= 2),
           |fl AS (SELECT doc_id, pos FROM sp WHERE sh IN (SELECT sh FROM rep)),
           |cov0 AS (SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS p FROM fl),
           |cov AS (SELECT doc_id, count(DISTINCT p) AS covered FROM cov0 GROUP BY doc_id),
           |nr AS (SELECT doc_id, count(*) AS nrep FROM fl GROUP BY doc_id)
           |SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_toks,
           |       CAST(len(t.tk) - 7 AS BIGINT) AS n_spans,
           |       CAST(coalesce(nr.nrep, 0) AS BIGINT) AS n_rep_spans,
           |       CAST(coalesce(cov.covered, 0) AS BIGINT) AS covered_toks
           |FROM t LEFT JOIN nr USING (doc_id) LEFT JOIN cov USING (doc_id)
           |ORDER BY ALL""".stripMargin)) { t =>
    val (baseMeta, flagged) = repeatedSpanIndex(t)
    // Coverage = union of the fixed-length intervals [pos, pos+7]: spans
    // sorted per doc contribute min(8, pos − prev_pos) new tokens each (a
    // lag window partitioned by doc_id — doc-bounded, never corpus-wide).
    // This replaces the 8× position explode + countDistinct (an 8·|flagged|
    // row blow-up through a two-phase distinct aggregation) with one
    // |flagged|-row window pass — the q153 scaling tail was linear in that
    // exploded population. Same window feeds n_rep_spans and covered_toks
    // from ONE doc-keyed aggregation; (doc_id, pos) is unique by
    // construction (positional posexplode), so the lag union is exact.
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val contrib = least(lit(8L),
      (col("pos") - coalesce(lag(col("pos"), 1).over(wDoc), col("pos") - 8)).cast("long"))
    val perDoc = flagged
      .withColumn("contrib", contrib)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_rep_spans"), sum(col("contrib")).as("covered_toks"))
    orderedByAll(
      baseMeta.select(col("doc_id"), col("n_toks"), (col("n_toks") - 7).as("n_spans"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_toks"), col("n_spans"),
          coalesce(col("n_rep_spans"), lit(0L)).as("n_rep_spans"),
          coalesce(col("covered_toks"), lit(0L)).as("covered_toks")))
  }

  /** The BM25 query terms — literal and tiny, so the whole "inverted index
    * probe" degenerates to map-side array scans (see q157 scaladoc). */
  private val Bm25Terms = Seq("hash", "join", "vector")

  /** The BM25 corpus CTEs (tokenize → per-term tf + doc length → one
    * scalar stats row), shared VERBATIM by the q157 and q172 oracles so
    * the lexical scores are the same expression tree in every query that
    * ranks by them (the limit cutoffs depend on bit-identical doubles). */
  private val Bm25SqlCtes: String =
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |base AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl,
       |  ${Bm25Terms.map(w => s"CAST(len(list_filter(tk, x -> x = '$w')) AS BIGINT) AS tf_$w").mkString(",\n  ")}
       |  FROM tk),
       |st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
       |  ${Bm25Terms.map(w => s"sum(CASE WHEN tf_$w > 0 THEN 1 ELSE 0 END) AS df_$w").mkString(",\n  ")}
       |  FROM base)""".stripMargin

  /** The summed per-term BM25 addends (k1=1.2, b=0.75) — SQL side. */
  private val Bm25SqlScore: String = Bm25Terms.map { w =>
    s"""ln((CAST(n_docs AS DOUBLE) - CAST(df_$w AS DOUBLE) + 0.5) / (CAST(df_$w AS DOUBLE) + 0.5) + 1.0)
       | * (CAST(tf_$w AS DOUBLE) * 2.2)
       | / (CAST(tf_$w AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / n_docs))))"""
      .stripMargin.replace("\n", "")
  }.mkString("\n   + ")

  /** Engine twin of [[Bm25SqlCtes]]: the scored-corpus frame
    * (doc_id, dl, tf_*) with the single stats row (n_docs, sum_dl, df_*)
    * broadcast back — two corpus passes, zero corpus-keyed exchange. */
  private[operators] def bm25Joined(t: graft.Tables): DataFrame = {
    val tk = t.documents.select(col("doc_id"), toks(col("text")).as("tk"))
    val base = tk.select(Seq(
      col("doc_id"), size(col("tk")).cast("long").as("dl")) ++
      Bm25Terms.map(w =>
        size(filter(col("tk"), x => x === lit(w))).cast("long").as(s"tf_$w")): _*)
    val stats = base.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).as("sum_dl") +:
        Bm25Terms.map(w =>
          sum(when(col(s"tf_$w") > 0, 1L).otherwise(0L)).as(s"df_$w"))): _*)
    base.crossJoin(broadcast(stats))
  }

  /** Engine twin of [[Bm25SqlScore]] — identical addend order, so the
    * doubles are bit-identical to the oracle's. */
  private[operators] def bm25Score: Column = {
    def addend(w: String): Column = {
      val tf = col(s"tf_$w").cast("double")
      val df = col(s"df_$w").cast("double")
      val idf = log((col("n_docs").cast("double") - df + 0.5) / (df + 0.5) + 1.0)
      idf * (tf * 2.2) /
        (tf + lit(1.2) * (lit(0.25) + lit(0.75) *
          (col("dl").cast("double") / (col("sum_dl").cast("double") / col("n_docs")))))
    }
    Bm25Terms.map(addend).reduce(_ + _)
  }

  /** Okapi BM25 ranking (Robertson & Zaragoza, FnTIR 2009; k1=1.2, b=0.75)
    * of the corpus against a fixed multi-term query — the retrieval scorer
    * every RAG / data-curation pipeline runs before an embedding model sees
    * anything. Two classic shapes exist: build an inverted index and probe
    * it (q36/q151's posting machinery), or — when the query is a handful of
    * LITERAL terms — skip the index entirely. This takes the second path,
    * and the plan is two corpus passes with ZERO corpus-keyed exchange:
    *  1. one scan computes each doc's length and per-term tf as codegen'd
    *     array expressions (`size(filter(tk, _ == term))` — tk materialized
    *     once per the CollapseProject staging rule), then ONE map-side-
    *     combinable scalar aggregate yields N, Σdl and each term's df — a
    *     single row, broadcast back;
    *  2. scoring is a map-side closed-form expression, and top-15 compiles
    *     to TakeOrderedAndProject (per-partition heap + driver merge of
    *     15-row partials — no global sort at any scale).
    * Determinism: the per-doc score sums its 3 term addends in FIXED
    * left-to-right order (an explicit `+` chain, not an aggregate), and the
    * oracle writes the identical expression tree — bit-identical doubles,
    * so the rounded score and the limit-15 cutoff (tie-broken by doc_id)
    * agree exactly across engines. */
  val q157 = EngineQuery(
    "q157_bm25",
    Some(
      s"""$Bm25SqlCtes
         |SELECT doc_id, dl,
         |  CAST(${Bm25Terms.map(w => s"(CASE WHEN tf_$w > 0 THEN 1 ELSE 0 END)").mkString(" + ")} AS BIGINT) AS n_matched,
         |  round($Bm25SqlScore, 4) AS score
         |FROM base CROSS JOIN st
         |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin)) { t =>
    bm25Joined(t)
      .select(col("doc_id"), col("dl"),
        Bm25Terms.map(w => when(col(s"tf_$w") > 0, 1L).otherwise(0L))
          .reduce(_ + _).as("n_matched"),
        round4(bm25Score).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(15)
  }

  /** Hybrid retrieval fusion (Cormack et al., SIGIR 2009 — Reciprocal Rank
    * Fusion): the lexical arm ranks the corpus by q157's BM25 scorer, the
    * dense arm by cosine to a query embedding (vec_id 0 — the id-aligned
    * `embeddings` row of the query document), and each doc's fused score is
    * Σ 1/(60 + rank) over the arms that retrieved it. This is the shape
    * every RAG curation pipeline runs: neither arm alone survives both
    * paraphrase (kills lexical) and rare exact identifiers (kills dense).
    *
    * Scale shape: BOTH arms are map-only under broadcast state (the 1-row
    * BM25 stats / the 1-row query vector) and their top-20 compiles to
    * TakeOrderedAndProject — per-partition heaps, driver merge of 20-row
    * partials, never a global sort. Rank assignment and the full-outer
    * fusion join then touch 20-row frames (the unpartitioned row_number
    * windows are POST-limit — bounded by construction, per the
    * PlanMetricsSpec window discipline). At 100 TB the corpus is read
    * twice, shuffled never.
    *
    * Determinism: both arms' scores are bit-identical expression trees
    * across engines (Bm25SqlScore/bm25Score; CosineSimilarity ≡ the
    * list_reduce fold — q25's contract), so the top-20 cutoffs and ranks
    * agree exactly; ties break on doc_id. Docs outside an arm report rank
    * 0 (output stays null-free) and contribute 0.0 to the fused score,
    * summed lex-then-dense on both sides. */
  val q172 = EngineQuery(
    "q172_hybrid_fusion",
    Some(
      s"""$Bm25SqlCtes,
         |lexs AS (SELECT doc_id, $Bm25SqlScore AS s FROM base CROSS JOIN st),
         |lext AS (SELECT doc_id, s FROM lexs ORDER BY s DESC, doc_id LIMIT 20),
         |lex AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INT) AS lex_rank FROM lext),
         |qv AS (SELECT embedding AS qe,
         |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
         |           (a, b) -> a + b)) AS qn
         |       FROM embeddings WHERE vec_id = 0),
         |den AS (SELECT e.vec_id AS doc_id,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list_transform(generate_series(1, 64),
         |             i -> CAST(qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
         |           (a, b) -> a + b)
         |         / (qn * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |             list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
         |             (a, b) -> a + b))) AS c
         |       FROM embeddings e CROSS JOIN qv),
         |dent AS (SELECT doc_id, c FROM den ORDER BY c DESC, doc_id LIMIT 20),
         |dense AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY c DESC, doc_id) AS INT) AS dense_rank FROM dent)
         |SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
         |       CAST(coalesce(lex_rank, 0) AS INT) AS lex_rank,
         |       CAST(coalesce(dense_rank, 0) AS INT) AS dense_rank,
         |       round(coalesce(CAST(1.0 AS DOUBLE) / (60 + lex_rank), 0.0)
         |             + coalesce(CAST(1.0 AS DOUBLE) / (60 + dense_rank), 0.0), 4) AS rrf
         |FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin)) { t =>
    val rankW = (s: Column) => Window.orderBy(s.desc, col("doc_id"))
    val lex = bm25Joined(t).select(col("doc_id"), bm25Score.as("s"))
      .orderBy(col("s").desc, col("doc_id")).limit(20)
      .withColumn("lex_rank", row_number().over(rankW(col("s"))))
      .select("doc_id", "lex_rank")
    val qv = t.embeddings.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    val dense = t.embeddings.crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        graft.functions.CosineSimilarity(col("q_emb"), col("embedding")).as("c"))
      .orderBy(col("c").desc, col("doc_id")).limit(20)
      .withColumn("dense_rank", row_number().over(rankW(col("c"))))
      .select("doc_id", "dense_rank")
    lex.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("lex_rank"), lit(0)).as("lex_rank_f"),
        coalesce(col("dense_rank"), lit(0)).as("dense_rank_f"),
        round4(
          coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("dense_rank")), lit(0.0))).as("rrf"))
      .withColumnRenamed("lex_rank_f", "lex_rank")
      .withColumnRenamed("dense_rank_f", "dense_rank")
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
  }

  /** Character-entropy quality gate — the compressibility signal the
    * Gopher/RefinedWeb-family curation rules use to kill boilerplate and
    * generator spam: low-entropy text (repeated menus, template chatter,
    * base64-ish blobs collapse the char distribution) scores far from
    * natural prose. Per document: Shannon entropy of the character
    * unigram distribution, plus the size of the character alphabet.
    *
    * Scale shape: ENTIRELY map-side — each doc's alphabet (≤27 here:
    * lowercase + space) and frequency vector are array expressions inside
    * whole-stage codegen; no explode, no exchange at any corpus size (the
    * final total-order sort is the oracle harness, not the operator).
    *
    * Determinism: the entropy sum folds the per-char terms in SORTED
    * alphabet order with a 0.0 seed on both engines (Spark `aggregate` ≡
    * DuckDB `list_reduce` — the dsl.foldSum contract), chars extracted by
    * position (`substr(text, i, 1)`), never by empty-separator split
    * (engines disagree on trailing empties); text is ASCII by fixture so
    * the sort collations agree. */
  val q173 = EngineQuery(
    "q173_char_entropy",
    Some("""WITH c AS (SELECT doc_id, length(text) AS n,
           |    list_transform(generate_series(1, length(text)), i -> substr(text, i, 1)) AS cs
           |  FROM documents WHERE length(text) >= 1),
           |u AS (SELECT doc_id, n, cs, list_sort(list_distinct(cs)) AS uq FROM c),
           |t AS (SELECT doc_id, n, len(uq) AS n_distinct,
           |    list_transform(uq, ch -> CAST(len(list_filter(cs, x -> x = ch)) AS DOUBLE) / n) AS ps
           |  FROM u)
           |SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
           |  CAST(n_distinct AS BIGINT) AS n_distinct,
           |  round(-list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |    list_transform(ps, p -> p * log2(p))), (a, b) -> a + b), 4) AS entropy
           |FROM t ORDER BY ALL""".stripMargin)) { t =>
    // length >= 1 guard on BOTH engines: Spark's sequence(1, 0) is the
    // DESCENDING [1, 0] (shingles gotcha) while DuckDB's generate_series(1, 0)
    // is empty, and ps would divide by n = 0 — degenerate docs must not reach
    // either expression tree.
    val c = t.documents
      .filter(length(col("text")) >= 1)
      .select(col("doc_id"), col("text"), length(col("text")).as("n"))
      .withColumn("cs",
        transform(sequence(lit(1), col("n")), i => col("text").substr(i, lit(1))))
      .withColumn("uq", array_sort(array_distinct(col("cs"))))
    val ps = c.select(col("doc_id"), col("n"), size(col("uq")).as("n_distinct"),
      transform(col("uq"),
        ch => size(filter(col("cs"), x => x === ch)).cast("double") / col("n")).as("ps"))
    orderedByAll(ps.select(
      col("doc_id"),
      col("n").cast("long").as("n_chars"),
      col("n_distinct").cast("long").as("n_distinct"),
      round4(-foldSum(transform(col("ps"), p => p * log2(p)))).as("entropy")))
  }

  /** Per-source token-distribution drift — KL(source ‖ corpus) over the
    * top-32 corpus vocabulary: the domain-outlier detector a mixture
    * curator runs before q85 rebalances anything (a source whose token
    * distribution diverges from the corpus is template spam, the wrong
    * language, or genuinely novel — all worth a human look). q168 is the
    * same monitor for a numeric column over time; this is its text twin
    * across sources.
    *
    * Scale shape: ONE corpus-scale combinable exchange (token counts —
    * q47's tf-idf shape); the vocabulary cutoff is TakeOrdered (32 rows,
    * broadcast back), per-(source, vocab-token) counts are a second
    * bounded exchange (≤ sources×32 groups out), and the KL fold runs on
    * source-scale 32-element arrays. Nothing downstream of the token
    * count touches corpus-scale data again.
    *
    * Determinism: the vocab cutoff orders by exact integer (count, token)
    * — no FP on the boundary; each source's KL folds its 32 terms in
    * token-sorted order with a 0.0 seed (sort_array over token-first
    * structs ≡ list(... ORDER BY token)); Laplace-smoothed (+0.5, +16)
    * source probabilities keep every term finite on both engines. */
  val q174 = EngineQuery(
    "q174_source_kl",
    Some("""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
           |corpus AS (SELECT token, count(*) AS n FROM tok GROUP BY 1),
           |vocab AS (SELECT token, n FROM corpus ORDER BY n DESC, token LIMIT 32),
           |vt AS (SELECT sum(n) AS vtot FROM vocab),
           |pc AS (SELECT token, CAST(n AS DOUBLE) / vtot AS p_c FROM vocab CROSS JOIN vt),
           |sc AS (SELECT source, token, count(*) AS c_sv FROM tok
           |       WHERE token IN (SELECT token FROM vocab) GROUP BY 1, 2),
           |spine AS (SELECT s.source, p.token, p.p_c,
           |            CAST(coalesce(c.c_sv, 0) AS BIGINT) AS c_sv
           |          FROM (SELECT DISTINCT source FROM documents) s
           |          CROSS JOIN pc p
           |          LEFT JOIN sc c ON c.source = s.source AND c.token = p.token),
           |tot AS (SELECT source, sum(c_sv) AS total_s FROM spine GROUP BY 1),
           |arr AS (SELECT s.source, t.total_s,
           |          list(struct_pack(token := s.token, c := s.c_sv, p := s.p_c)
           |               ORDER BY s.token) AS xs
           |        FROM spine s JOIN tot t ON s.source = t.source
           |        GROUP BY 1, 2)
           |SELECT source, CAST(total_s AS BIGINT) AS vocab_toks,
           |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |    list_transform(xs, x ->
           |      ((CAST(x.c AS DOUBLE) + 0.5) / (total_s + 16.0))
           |      * ln(((CAST(x.c AS DOUBLE) + 0.5) / (total_s + 16.0)) / x.p))),
           |    (a, b) -> a + b), 4) AS kl
           |FROM arr ORDER BY ALL""".stripMargin)) { t =>
    val tok = t.documents.select(col("source"), explode(toks(col("text"))).as("token"))
    val corpus = tok.groupBy("token").agg(count(lit(1)).as("n"))
    val vocab = corpus.orderBy(col("n").desc, col("token")).limit(32)
    val vt = vocab.agg(sum(col("n")).as("vtot"))
    val pc = vocab.crossJoin(broadcast(vt))
      .select(col("token"), (col("n").cast("double") / col("vtot")).as("p_c"))
    val sc = tok.join(broadcast(vocab.select("token")), Seq("token"), "left_semi")
      .groupBy("source", "token").agg(count(lit(1)).as("c_sv0"))
    val spine = t.documents.select("source").distinct()
      .crossJoin(broadcast(pc))
      .join(sc, Seq("source", "token"), "left")
      .select(col("source"), col("token"), col("p_c"),
        coalesce(col("c_sv0"), lit(0L)).as("c_sv"))
    val tot = spine.groupBy("source").agg(sum(col("c_sv")).as("total_s"))
    val arr = spine.join(tot, Seq("source"))
      .groupBy(col("source"), col("total_s"))
      .agg(sort_array(collect_list(
        struct(col("token"), col("c_sv").as("c"), col("p_c").as("p")))).as("xs"))
    def pS(c: Column): Column =
      (c.cast("double") + 0.5) / (col("total_s") + 16.0)
    orderedByAll(arr.select(
      col("source"),
      col("total_s").cast("long").as("vocab_toks"),
      round4(foldSum(transform(col("xs"), x =>
        pS(x.getField("c")) * log(pS(x.getField("c")) / x.getField("p")))))
        .as("kl")))
  }

  /** N-gram novelty score — the inverse of q36's overlap measure: the
    * fraction of a document's distinct 3-gram shingles that appear in NO
    * other document (corpus df = 1). Low novelty = template/near-dup
    * content even when no single pair crosses a dedup threshold; the
    * "how much of this doc is new text" column a curation pass ranks by
    * alongside q32's quality and q173's entropy.
    *
    * Scale shape: q36/q47's two-exchange family — shingles ride as
    * 8-byte xxhash64 values (never strings), ONE combinable hash-keyed
    * exchange counts df, one doc-keyed exchange folds the per-doc
    * fractions; the df side and the join side share the scan via Spark's
    * exchange reuse. Hash-vs-string equivalence is q36's established
    * oracle convention (collision-free at any plausible corpus). */
  val q175 = EngineQuery(
    "q175_ngram_novelty",
    Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
           |s AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(tk) - 2),
           |        i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS sh
           |      FROM tk WHERE len(tk) >= 3),
           |e AS (SELECT doc_id, unnest(sh) AS g FROM s),
           |df AS (SELECT g, count(*) AS d FROM e GROUP BY 1),
           |j AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
           |        CAST(sum(CASE WHEN df.d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
           |      FROM e JOIN df ON e.g = df.g GROUP BY 1)
           |SELECT doc_id, n_shingles, n_unique,
           |  round(CAST(n_unique AS DOUBLE) / n_shingles, 4) AS novelty
           |FROM j ORDER BY ALL""".stripMargin)) { t =>
    val e = t.documents.select(col("doc_id"), toks(col("text")).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), explode(shingles(col("tk"), 3)).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("h"))
    val dfreq = e.groupBy("h").agg(count(lit(1)).as("d"))
    val perDoc = e.join(dfreq, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("d") === 1, 1L).otherwise(0L)).as("n_unique"))
    orderedByAll(perDoc.select(
      col("doc_id"), col("n_shingles"), col("n_unique"),
      round4(col("n_unique").cast("double") / col("n_shingles")).as("novelty")))
  }

  /** Content-defined-chunking dedup accounting (FastCDC gear-hash family —
    * see [[graft.functions.CdcChunks]]): chunk every document at
    * content-derived boundaries (min 8 B, ~32 B mask expectation, max
    * 128 B — min ≈ avg/4, the FastCDC ratio that keeps boundaries mostly
    * mask-chosen so edits re-synchronize instead of drifting), then report
    * what a chunk store would dedupe — total vs distinct
    * chunks and the bytes a second copy of any repeated region would NOT
    * store. This is dedup BELOW the document/shingle granularity q23/q36
    * work at: two docs sharing a paragraph share its chunks even when
    * every shingle window across the edit differs.
    *
    * Scale shape: chunking is one fused map-side loop per row (the
    * expression stays inside whole-stage codegen); the only exchange is
    * keyed by the 8-byte chunk digest carrying (h, len) — never text. The
    * same two-level shape as q23: digest groupBy, then a scalar rollup.
    * No SQL oracle — a boundary depends on the rolling prefix state, which
    * has no SQL expression; CdcSpec pins exact parity vs an independent
    * single-node reference, the length/coverage invariants, and the
    * edit-resynchronization property that justifies CDC over fixed blocks.
    */
  val q160 = EngineQuery("q160_cdc_chunks", None) { t =>
    val ch = t.documents
      .select(explode(graft.functions.CdcChunks(col("text"), 8, 5, 128)).as("c"))
      .select(col("c.h").as("h"), col("c.l").as("len"))
    // totals from the raw chunk stream (collision-proof), dedup savings from
    // the digest groups
    val totals = ch.agg(
      count(lit(1)).as("n_chunks"), sum(col("len")).as("total_bytes"),
      min(col("len")).as("min_len"), max(col("len")).as("max_len"))
    val dedup = ch.groupBy("h")
      .agg(count(lit(1)).as("cnt"), max(col("len")).as("clen"))
      .agg(count(lit(1)).as("n_distinct_chunks"),
        sum((col("cnt") - 1) * col("clen")).as("dup_bytes"))
    orderedByAll(totals.crossJoin(dedup)
      .select(col("n_chunks"), col("n_distinct_chunks"), col("total_bytes"),
        col("dup_bytes"), col("min_len"), col("max_len")))
  }

  /** q191: INCREMENTAL connected components — the graph member of the
    * incremental-dedup family (q90 exact digests, q125 fuzzy minhash,
    * q185 semantic embeddings; q191 maintains the cluster LABELING
    * itself). q60's transitive dedup groups are union-find state; when a
    * delta batch lands, a production pipeline must merge the new docs into
    * the FROZEN component labels without re-running label propagation over
    * the corpus. Mechanism:
    *  - frozen state: base labels (here recomputed over the 7/8 base split
    *    to simulate yesterday's run, the q125/q185 convention — production
    *    reads them from storage);
    *  - delta edges only: delta postings join the full inverted index
    *    (work ∝ delta-side postings — base×base pairs are never formed)
    *    plus the delta×delta self-join; Jaccard uses per-doc shingle
    *    counts, which are split-independent;
    *  - CONTRACT each base endpoint to its frozen label (singletons stay
    *    themselves) and propagate min-labels over the contracted graph —
    *    nodes are delta ids + touched base labels, so the propagation is
    *    DELTA-scale, not corpus-scale;
    *  - final sizes: untouched frozen clusters pass through unchanged;
    *    touched nodes carry their frozen cluster's size (or 1 for a doc
    *    first clustered today) into their merged component.
    * Labels stay canonical (min doc_id of the component): a frozen label
    * is its base component's min, so the contracted min is the global min.
    * Oracle = q60's SQL over the FULL corpus: the hash-match proves the
    * incremental merge ≡ a from-scratch rebuild. */
  /** Contracted-graph size below which q191 merges with a driver-side
    * union-find instead of distributed label propagation. 100k edges ≈
    * 1.6 MB collected — comfortably driver-sized; a delta batch producing
    * more falls back to the distributed loop automatically. */
  private[operators] val DriverUnionFindMax = 100000L

  /** q191's frozen base labels, memoized per (session, dir) — the
    * "yesterday's labels read from the store" semantics (identical
    * economics to [[postingsTable]]: the expensive state is built once
    * per corpus generation, every ingest run reuses it). The cached value
    * is propagateMinLabels' localCheckpointed output — clustered-population
    * sized, not corpus sized. */
  val q191 = EngineQuery(
    "q191_cc_incremental",
    Some("""WITH RECURSIVE t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents
           |           WHERE len(string_split(text,' ')) >= 5),
           |s AS (SELECT DISTINCT doc_id,
           |        unnest(list_transform(generate_series(1, len(toks) - 4),
           |          i -> array_to_string(toks[i:i+4], ' '))) AS sh
           |      FROM t),
           |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
           |c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
           |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
           |      GROUP BY a.doc_id, b.doc_id),
           |pairs AS (
           |  SELECT doc_a, doc_b
           |  FROM c JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
           |  WHERE CAST(common AS DOUBLE) / CAST(x.n + y.n - common AS DOUBLE) >= 0.5),
           |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
           |        UNION SELECT doc_b, doc_a FROM pairs),
           |reach AS (
           |  SELECT a, b FROM sym
           |  UNION
           |  SELECT r.a, s2.b FROM reach r JOIN sym s2 ON r.b = s2.a),
           |lab AS (SELECT a AS doc_id, least(a, min(b)) AS cluster FROM reach GROUP BY a)
           |SELECT cluster, CAST(count(*) AS BIGINT) AS n_docs
           |FROM lab GROUP BY cluster ORDER BY ALL""".stripMargin)) { t =>
    val isDelta = col("doc_id") % 8 === 0
    val (inv, sizes) = corpusPostings(t)
    val frozen = Artifacts.get(t, "q191base")(
      computeBaseLabelsFrom(inv, sizes, isDelta))
    orderedByAll(ccIncrementalFrom(inv, sizes, isDelta, frozen))
  }

  /** Yesterday's labels over the base split only — the frozen state. The
    * split predicate may only read `doc_id` (the postings frame carries
    * nothing else). */
  private def computeBaseLabelsFrom(
      inv: org.apache.spark.sql.DataFrame,
      sizes: org.apache.spark.sql.DataFrame,
      isDelta: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame =
    propagateMinLabels(
      ngramJaccardPairsFrom(inv.filter(!isDelta), sizes)
        .select(col("doc_a").as("a"), col("doc_b").as("b")),
      maxIters = 40, doublingAfter = DoublingAfter)._1

  /** q191's merge core over an arbitrary docs table and delta predicate —
    * factored for CcIncrementalSpec's constructed merge scenarios (which
    * build the frozen state fresh rather than through the cache). The
    * gated q191 path passes the memoized corpus postings instead; both
    * routes share [[ccIncrementalFrom]] so they can never drift. */
  private[operators] def ccIncremental(
      docs: org.apache.spark.sql.DataFrame,
      isDelta: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    // The corpus-scale shingle explode feeds FIVE consumers (sizes ×2 pair
    // sets ×2 join sides, both delta join sides); uncheckpointed, Catalyst
    // re-explodes the corpus for each — hold the postings once (the gated
    // path gets this same materialization from corpusPostings).
    val inv = invPostings(docs).localCheckpoint()
    val sizes = inv.groupBy("doc_id").agg(count(lit(1)).as("n")).localCheckpoint()
    ccIncrementalFrom(inv, sizes, isDelta,
      computeBaseLabelsFrom(inv, sizes, isDelta))
  }

  /** The merge over prebuilt postings `(doc_id, s)` + sizes `(doc_id, n)`.
    * `isDelta` must be a doc_id-only predicate. */
  private def ccIncrementalFrom(
      inv: org.apache.spark.sql.DataFrame,
      sizes: org.apache.spark.sql.DataFrame,
      isDelta: org.apache.spark.sql.Column,
      baseLabels: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // `deltaInv` is re-materialized at its natural state size: delta-scale
    // postings (the q90 batch-side asymmetry — the base-side postings
    // stream through their single join from the checkpointed corpus frame).
    val deltaInv = inv.filter(isDelta).select(col("doc_id"), col("s"))
      .localCheckpoint()
    val baseInv = inv.filter(!isDelta).select(col("doc_id"), col("s"))
    val jac = col("common").cast("double") /
      (col("na") + col("nb") - col("common")).cast("double")
    def jacFilter(common: org.apache.spark.sql.DataFrame) = common
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .filter(jac >= 0.5)
      .select(col("doc_a"), col("doc_b"))
    // delta×base: each (delta, base) pair counted once per common shingle —
    // the delta side drives, so the join's work is delta-sized.
    val db = jacFilter(deltaInv.as("a").hint("shuffle_hash")
      .join(baseInv.as("b"), col("a.s") === col("b.s"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common")))
    // delta×delta: q36's ordered self-join on the delta slice alone.
    val dd = jacFilter(deltaInv.as("a").hint("shuffle_hash")
      .join(deltaInv.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common")))
    // Contract base endpoints to their frozen labels (clustered docs) or
    // themselves (base singletons first clustered today).
    val la = baseLabels.select(col("doc_id").as("ka"), col("label").as("lab_a"))
    val lb = baseLabels.select(col("doc_id").as("kb"), col("label").as("lab_b"))
    val contracted = db.union(dd)
      .join(la, col("doc_a") === col("ka"), "left")
      .join(lb, col("doc_b") === col("kb"), "left")
      .select(coalesce(col("lab_a"), col("doc_a")).as("a"),
        coalesce(col("lab_b"), col("doc_b")).as("b"))
      .filter(col("a") =!= col("b"))
    // Delta-scale min-label propagation over the contracted graph — with
    // an ADAPTIVE escape hatch (the broadcast-threshold analogue): the
    // contracted graph's node set is delta ids + touched frozen labels,
    // so a normal daily batch leaves it tiny. Below [[DriverUnionFindMax]]
    // edges, a driver-side union-find replaces 3–5 distributed supersteps
    // (each a join + agg + checkpoint) with one collect of an
    // already-delta-sized edge list; above it, the distributed min-label
    // loop takes over unchanged. Labels are identical either way: min
    // doc_id per component.
    val edges = contracted.localCheckpoint()
    val nEdges = edges.count()
    val merged =
      if (nEdges == 0)
        edges.select(col("a").as("doc_id"), col("a").as("label"))
      else if (nEdges <= DriverUnionFindMax) {
        val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = parent.getOrElseUpdate(x, x)
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
          r
        }
        es.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val labels = parent.keys.toSeq.map(n => (n, find(n)))
        val minOfRoot = labels.groupBy(_._2).map { case (root, ns) =>
          root -> ns.map(_._1).min }
        val spark = inv.sparkSession
        import spark.implicits._
        labels.map { case (n, root) => (n, minOfRoot(root)) }
          .toDF("doc_id", "label")
      } else
        propagateMinLabels(
          edges, maxIters = 40, doublingAfter = DoublingAfter)._1
    // Node weights: a frozen label carries its base cluster's size; every
    // other node (delta doc, base singleton) carries 1.
    val baseCounts = baseLabels.groupBy(col("label").as("node"))
      .agg(count(lit(1)).as("n_base"))
    val untouched = baseCounts
      .join(merged, col("node") === col("doc_id"), "left_anti")
      .select(col("node").as("cluster"), col("n_base").as("cnt"))
    val touched = merged
      .join(baseCounts, col("doc_id") === col("node"), "left")
      .select(col("label").as("cluster"), coalesce(col("n_base"), lit(1L)).as("cnt"))
    untouched.union(touched)
      .groupBy("cluster").agg(sum(col("cnt")).as("n_docs"))
  }

  /** q207: corpus datasheet — the per-source table a dataset release
    * publishes (Gebru et al., "Datasheets for Datasets"): volume (docs,
    * tokens, mean length), NEAR-duplication exposure (share of docs in a
    * q36 Jaccard cluster — the fixture has zero EXACT text dups, so digest
    * dup-rate would be a vacuous column; near-dup share is the number a
    * curation decision actually needs), and language mix. Engine side
    * reuses the MEMOIZED cluster labels (q60/q87/q104's shared artifact —
    * the datasheet is exactly the kind of downstream view the label cache
    * exists for); everything else is one source-keyed combinable rollup.
    * Oracle rebuilds the labels with q60's recursive CTE. */
  val q207 = EngineQuery(
    "q207_datasheet",
    Some("""WITH RECURSIVE t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents
           |           WHERE len(string_split(text,' ')) >= 5),
           |s AS (SELECT DISTINCT doc_id,
           |        unnest(list_transform(generate_series(1, len(toks) - 4),
           |          i -> array_to_string(toks[i:i+4], ' '))) AS sh
           |      FROM t),
           |sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
           |c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
           |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
           |      GROUP BY a.doc_id, b.doc_id),
           |pairs AS (
           |  SELECT doc_a, doc_b
           |  FROM c JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
           |  WHERE CAST(common AS DOUBLE) / CAST(x.n + y.n - common AS DOUBLE) >= 0.5),
           |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
           |        UNION SELECT doc_b, doc_a FROM pairs),
           |lab AS (SELECT DISTINCT a AS doc_id FROM sym),
           |d AS (SELECT d.source, d.lang, len(string_split(d.text, ' ')) AS ntok,
           |        CASE WHEN lab.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup
           |      FROM documents d LEFT JOIN lab ON d.doc_id = lab.doc_id)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(ntok) AS BIGINT) AS tokens,
           |  round(avg(ntok), 4) AS avg_tokens,
           |  round(avg(CAST(is_dup AS DOUBLE)), 4) AS near_dup_share,
           |  round(avg(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END), 4) AS en_share
           |FROM d GROUP BY source ORDER BY ALL""".stripMargin)) { t =>
    val clustered = dedupClusterLabels(t).select(col("doc_id"))
      .withColumn("is_dup_flag", lit(1))
    orderedByAll(t.documents
      .select(col("source"), col("lang"), col("doc_id"),
        size(toks(col("text"))).as("ntok"))
      .join(clustered, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ntok")).cast("long").as("tokens"),
        round4(avg(col("ntok"))).as("avg_tokens"),
        round4(avg(when(col("is_dup_flag").isNotNull, 1.0).otherwise(0.0)))
          .as("near_dup_share"),
        round4(avg(when(col("lang") === "en", 1.0).otherwise(0.0)))
          .as("en_share")))
  }

  val all: Seq[EngineQuery] =
    Seq(q23, q26, q29, q31, q32, q33, q34, q36, q44, q45, q47, q50, q51, q55,
      q57, q60, q87, q90, q97, q104, q105, q110, q112, q119, q125, q144, q151,
      q153, q157, q160, q172, q173, q174, q175, q181, q184, q187, q191, q207,
      q230)
}
