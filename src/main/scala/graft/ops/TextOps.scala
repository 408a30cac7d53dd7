package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.ops.Staging.StagedDf

/** Text-analysis operators for a training-data pipeline, all built from
  * codegen'd `functions._` primitives so they stay inside whole-stage
  * codegen at 100 TB: token counting, quality scoring, language-ID by
  * lexicon vote, and hash fingerprints (see graft.expr.TextHashes).
  * (North-star operators per SURVEY §7.4 — the reference itself has no
  * text analytics.) */
object TextOps {

  /** The sum of a numeric array folded left to right, seeded with its
    * first element (DuckDB's seedless `list_reduce`): an order-pinned
    * float sum, a pure function of the array on any engine. */
  private[ops] def pinnedSum(arr: Column): Column =
    aggregate(
      slice(arr, lit(2), greatest(size(arr) - 1, lit(0))),
      element_at(arr, 1),
      (acc, x) => acc + x)

  /** Whitespace tokens; the BPE-ish variant splits punctuation off too. */
  def tokens(text: Column): Column = split(text, " +")

  /** Sub-word-ish tokenization: split on non-alphanumerics, drop empties —
    * a deterministic stand-in for a BPE pass with the same plumbing.
    * `array_remove` (codegen'd) drops the empty boundary tokens; a
    * `filter(..., length > 0)` lambda would fall back to interpreted eval. */
  def tokensBpeIsh(text: Column): Column =
    array_remove(split(lower(text), "[^a-z0-9]+"), "")

  /** Quality signals: all exact-integer ratios so results reproduce
    * bit-identically in any engine (counts divided as doubles). */
  def qualityScore(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nTok = size(toks)
    val nChar = length(t)
    val alnum = length(regexp_replace(t, "[^a-zA-Z0-9]", ""))
    // one native hash-probe pass, not an interpreted higher-order filter
    val stop = element_at(
      graft.expr.LexiconVotes.votes(toks, Seq(Stopwords)), 1)
    df.withColumn("n_tokens", nTok)
      .withColumn("n_chars", nChar)
      .withColumn("alpha_ratio",
        alnum.cast(DoubleType) / greatest(nChar, lit(1)).cast(DoubleType))
      .withColumn("stopword_ratio",
        stop.cast(DoubleType) / greatest(nTok, lit(1)).cast(DoubleType))
      .withColumn("mean_token_len",
        // total token characters / token count — measured on the joined
        // tokens, not as nChar minus assumed single-space separators
        // (multi-space or edge whitespace would inflate the old formula)
        length(array_join(toks, "")).cast(DoubleType) /
          greatest(nTok, lit(1)).cast(DoubleType))
  }

  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")

  /** Hashed linear quality classifier — fastText-style (Joulin et al.
    * 2016) bag-of-hashed-features INFERENCE: every token hashes to one
    * of 256 buckets (the [[graft.queries.TextQueries]] feature-hashing
    * convention, first md5 byte), each bucket carries an integer weight,
    * and a document's score is the exact integer sum of its token
    * weights — the model-based tier above [[qualityScore]]'s heuristic
    * ratios. One scan: explode tokens, map-side partial sums, one keyed
    * rollup; no vocabulary state, mergeable across corpus splits.
    *
    * The weight table is a PINNED arithmetic function of the bucket
    * ((b·37 + 11) mod 17 − 8 ∈ [−8, 8]) standing in for trained
    * parameters, so the gate's DuckDB oracle replays inference exactly;
    * a trained weight vector is a drop-in broadcast map — identical
    * plan, different table. Scores stay integral until the single
    * per-token-rate division, so the output hash-gates cross-engine.
    *
    * @return (`idCol`, `n_tokens`, `score`, `score_rate`, `keep`) with
    *         keep = score_rate >= 0 (the threshold filter).
    */
  def qualityClassifier(
      df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        explode(split(trim(col(textCol)), " +")).as("tok"))
      .withColumn("bucket", substring(md5(col("tok")), 1, 2))
      // hex pair -> 0..255 via character position (portable SQL: instr
      // over the hex alphabet; (c1+1)*16 + (c2+1) - 17 = c1*16 + c2)
      .withColumn("_b",
        expr("instr('0123456789abcdef', substring(bucket, 1, 1)) * 16 + " +
          "instr('0123456789abcdef', substring(bucket, 2, 1)) - 17"))
      .withColumn("w", (col("_b") * 37 + 11) % 17 - 8)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum("w").cast("long").as("score"))
      .withColumn("score_rate",
        col("score").cast(DoubleType) / col("n_tokens").cast(DoubleType))
      .withColumn("keep", col("score_rate") >= 0.0)

  /** Gopher quality-rule battery (Rae et al. 2021, appendix A1.1 — the
    * canonical rule-based document filter): word-count band, mean word
    * length band, minimum alphabetic-word fraction, minimum distinct
    * common-stopword hits, and a symbol-to-word ratio cap, composed
    * into a per-document `keep`. One explode + one keyed rollup; every
    * rule is decided on EXACT INTEGER comparisons (0.8·n as 5·alpha ≥
    * 4·n, ratios cross-multiplied), so the verdicts — and the one
    * reported IEEE mean — hash-gate cross-engine. The rule-based
    * sibling of [[qualityClassifier]]'s learned scorer. */
  def gopherRules(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val stop = Stopwords
    df.select(col(idCol), explode(split(trim(col(textCol)), " +")).as("tok"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_words"),
        sum(length(col("tok"))).cast("long").as("_chars"),
        sum(col("tok").rlike("[a-zA-Z]").cast("long")).as("_alpha"),
        countDistinct(when(col("tok").isInCollection(stop), col("tok")))
          .as("_stops"),
        sum(col("tok").rlike("#|\\.\\.\\.").cast("long")).as("_sym"))
      .select(col(idCol), col("n_words"),
        (col("_chars").cast(DoubleType) / col("n_words").cast(DoubleType))
          .as("mean_word_len"),
        (col("n_words") >= 50 && col("n_words") <= 100000).as("r_wordcount"),
        (col("_chars") >= lit(3) * col("n_words") &&
          col("_chars") <= lit(10) * col("n_words")).as("r_meanlen"),
        (lit(5) * col("_alpha") >= lit(4) * col("n_words")).as("r_alpha"),
        (col("_stops") >= 2).as("r_stop"),
        (lit(10) * col("_sym") < col("n_words")).as("r_symbol"))
      .withColumn("keep",
        col("r_wordcount") && col("r_meanlen") && col("r_alpha") &&
          col("r_stop") && col("r_symbol"))
  }

  /** True winnowing fingerprint set (Schleimer/Wilkerson/Aiken): k-char
    * grams hash per position, minimum per sliding window of `w` grams,
    * distinct minima per document. Robust to insertions: an edit disturbs
    * only the windows it touches, so most fingerprints survive.
    *
    * The gram hash is the 16-char prefix of `md5` — a fixed-length
    * lowercase-hex string, so the lexicographic `min` IS the numeric min
    * and the whole operator is bit-identically expressible in plain
    * oracle SQL. The engine-native `Fingerprint64` is the one-value-per-doc
    * perf path, itself oracle-checked bit-exactly via the FNV replica in
    * `queries.Hash64Oracle`. Shape: one explode (chars-linear), one window
    * shuffle keyed by document — scan-scale at 100 TB. */
  def winnowFingerprints(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nGrams = greatest(length(col(textCol)) - (k - 1), lit(1))
    // spreadForCompute BEFORE the per-position explode + md5: the gram
    // hash is chars-linear compute born inside the scan stage, and a
    // corpus small enough to arrive in 1-2 splits would hash nearly
    // serially (the sketch_quantile_bottomk shape; no-op at scale).
    val grams = Staging.spreadForCompute(df.select(col(idCol), col(textCol)))
      .select(col(idCol), col(textCol),
        explode(sequence(lit(1), nGrams)).as("i"))
      .select(col(idCol), col("i"),
        greatest(length(col(textCol)) - (k - 1), lit(1)).as("ng"),
        substring(md5(
          when(length(col(textCol)) < k, col(textCol))
            .otherwise(col(textCol).substr(col("i"), lit(k)))), 1, 16).as("h"))
    val win = Window.partitionBy(col(idCol)).orderBy(col("i"))
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("wmin", min(col("h")).over(win))
      .filter(col("i") <= greatest(col("ng") - (w - 1), lit(1)))
      .select(col(idCol), col("wmin").as("fp"))
      .distinct()
  }

  /** Intra-document repetition signals (Gopher-style quality filters):
    * duplicate-k-gram fraction (1 - distinct/total) and the share of the
    * single most frequent k-gram. High values flag boilerplate, template
    * spam, and degenerate generations. Two hash-aggregates keyed by
    * document — scan-scale, map-side-combinable. */
  def repetitionStats(
      df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame =
    graft.ops.DedupOps.shinglesAll(df, idCol, textCol, k)
      .groupBy(col(idCol), col("shingle"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol))
      .agg(
        sum(col("cnt")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max(col("cnt")).as("top_cnt"))
      .select(col(idCol), col("n_grams"), col("n_distinct"),
        (lit(1.0) - col("n_distinct").cast(DoubleType) /
          col("n_grams").cast(DoubleType)).as("dup_gram_frac"),
        (col("top_cnt").cast(DoubleType) /
          col("n_grams").cast(DoubleType)).as("top_gram_frac"))

  /** Per-document top-k characteristic terms ranked by tf/df — tf-idf
    * up to the constant corpus-size factor N, which cannot change any
    * per-document ranking, so no scalar count subquery rides the plan.
    * Plan shape: one (doc, token) count, one token-keyed df rollup
    * re-joined on token, one per-doc rank window that Spark 4's
    * WindowGroupLimit prunes to k map-side before the shuffle — every
    * stage keyed and linear (`text_tfidf_topk` gate + plan-asserted in
    * BehaviorPlanSpec). The score is a single long→double division:
    * bit-exact in any IEEE engine. */
  def tfidfTopK(
      df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = df
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(idCol)
      .orderBy(col("score").desc, col("token"))
    tf.join(dfreq, "token")
      .withColumn("score", col("tf").cast(DoubleType) / col("df"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("token"), col("tf"), col("df"),
        col("score"), col("rnk"))
  }

  /** Sparse TF-IDF cosine near-dup pairs: documents as tf·idf vectors
    * over their token space, idf = ln(N/df) computed by the explicit
    * portable algorithm ([[graft.expr.PortableLnRatio]] — libm logs are
    * not cross-engine reproducible), cosine from an inverted-index
    * equi-join. The term-weighted near-dup scorer between bag-Jaccard
    * (ignores term rarity) and embedding cosine (needs a model): two
    * docs sharing rare vocabulary outrank two sharing stopwords.
    *
    * Determinism: every float sum is ORDER-PINNED — per-doc norms and
    * per-pair dots fold their (token-sorted) term lists sequentially,
    * exactly like [[graft.ops.StatOps.ewmaLevel]], so the result is a
    * pure function of the token multiset on any engine. (Keyed float
    * `sum()` would be scan-order-dependent.) The folds are seeded with
    * the FIRST element (slice pattern) to mirror DuckDB's seedless
    * `list_reduce`.
    *
    * Scale: tokens with df > `maxDf` are dropped BEFORE the pair join —
    * the [[DedupOps.ngramJaccardPairs]] `maxShingleFreq` discipline: a
    * declared measure change (stopwords carry ~0 idf weight anyway)
    * that bounds the inverted-index fan-out per token, keeping the
    * candidate join linear in the posting lists instead of quadratic in
    * the corpus. Norms are computed over the SAME capped space, so
    * cosine stays ≤ 1 in-measure. Per-doc term lists (bounded by doc
    * length) are the only in-row state.
    *
    * @return (`a`, `b`, `cosine`) with cosine ≥ `minCosine`, a < b.
    */
  def tfidfCosinePairs(
      df: DataFrame, idCol: String, textCol: String,
      maxDf: Int, minCosine: Double): DataFrame = {
    require(maxDf >= 1, s"tfidfCosinePairs: maxDf must be >= 1, got $maxDf")
    val tf = df
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("token"))
      .groupBy(col("id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val nDocs = df.select(col(idCol)).distinct().agg(count(lit(1)).as("n"))
    val w = tf.join(dfreq, "token")
      .crossJoin(broadcast(nDocs)) // 1-row doc-count frame (declared)
      .withColumn("w", col("tf").cast(DoubleType) *
        graft.expr.PortableLnRatio.ln(col("n"), col("df")))
      // zero weights (df == N tokens) add exact +0.0 to every fold, so
      // dropping them changes no value — but it REMOVES zero-norm docs
      // entirely, whose cosine is 0/0: Spark's NaN-greatest ordering
      // would pass `NaN >= minCosine` and emit garbage pairs. A
      // zero-norm doc has no direction; it cannot pair.
      .filter(col("w") =!= 0.0)
      .select("id", "token", "w")
      .stagePin() // norms + both pair sides read it
    val norms = w
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("token"), col("w")))).as("_s"),
        max(col("w")).as("mw"))
      .select(col("id"), col("mw"), pinnedSum(transform(col("_s"),
        x => x.getField("w") * x.getField("w"))).as("n2"))
      .stagePin()
    // LOSSLESS candidate pruning before the expensive pinned folds:
    // dot(a,b) ≤ c_ab·max(w_a)·max(w_b) (every shared-token product is
    // ≤ the max product; count and max are ORDER-FREE, so the bound is
    // deterministic where a float partial sum would not be). Only pairs
    // whose bound clears the floor — minus a 1e-9 relative margin
    // absorbing the fold's rounding slack, so a boundary pair can never
    // be pruned on an ulp — pay the collect+fold; everything else (the
    // overwhelming majority under any real token distribution: random
    // co-occurrence shares 1-2 tokens) dies on the integer/max stats.
    // Pruned-only-below-threshold means the RESULT is identical, which
    // is why the gate oracle needs no bound stage.
    //
    // The inverted-index self-join is where the Σ df² candidate mass is
    // born: its per-partition output (and the partial-agg hash map that
    // consumes it in the same stage) is quadratic in the posting lists
    // a partition holds, so the join inputs carry a bytes-scaled width
    // (input bytes ×3 decompression ×4 declared posting fan-out
    // allowance — the [[graft.ops.DedupOps.gramShuffleParts]]
    // discipline). At gate scale this floors to the session default.
    val nPart = graft.ops.DedupOps.bytesScaledParts(df, 12L)
    val wTok = w.repartition(nPart, col("token"))
    val cand = wTok.as("x")
      .join(wTok.as("y"),
        col("x.token") === col("y.token") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b"))
      .agg(count(lit(1)).as("c"))
      .join(norms.select(col("id").as("a"), col("mw").as("mwa"),
        col("n2").as("na2")), "a")
      .join(norms.select(col("id").as("b"), col("mw").as("mwb"),
        col("n2").as("nb2")), "b")
      .filter(col("c") * col("mwa") * col("mwb") >=
        lit(minCosine * (1.0 - 1e-9)) * sqrt(col("na2")) * sqrt(col("nb2")))
      .select("a", "b", "na2", "nb2")
    // exact pinned dot, PAIR-BOUNDED (the pairEvidence discipline): the
    // survivors' term lists re-join on (id, token), never the full index
    val dots = cand
      .join(w.select(col("id").as("a"), col("token"), col("w").as("wa")), "a")
      .join(w.select(col("id").as("b"), col("token"), col("w").as("wb")),
        Seq("b", "token"))
      .groupBy("a", "b")
      .agg(first(col("na2")).as("na2"), first(col("nb2")).as("nb2"),
        sort_array(collect_list(struct(col("token"),
          (col("wa") * col("wb")).as("p")))).as("_s"))
      .select(col("a"), col("b"), col("na2"), col("nb2"),
        pinnedSum(transform(col("_s"), x => x.getField("p"))).as("dot"))
    dots
      .withColumn("cosine",
        col("dot") / (sqrt(col("na2")) * sqrt(col("nb2"))))
      .filter(col("cosine") >= minCosine)
      .select("a", "b", "cosine")
  }

  /** [[tfidfCosinePairs]] with a WEIGHTED PREFIX FILTER on candidate
    * GENERATION — the all-pairs-similarity-search discipline (Bayardo
    * et al., WWW'07) adapted to this operator's exact-fold contract.
    * Same results, different candidate volume:
    *
    * Each doc's tokens are ordered globally RARE-FIRST (df asc, token
    * asc) and suffix-bounded: S_i = Σ_{j≥i} ŵ(t_j)·maxŵ(t_j), where ŵ
    * is the L2-normalized weight and maxŵ the corpus max of that
    * token's normalized weight (order-free). A qualifying pair (cos ≥
    * τ) MUST share a token at a position with S_i ≥ τ: if every shared
    * token sat in the suffix below the bound, the whole dot would be
    * below τ. So only the PREFIX rows {i : S_i ≥ τ·(1−1e-9)} are
    * indexed, and candidates come from prefix(x) ⋈ full(y) — the
    * guarantee holds per-doc, so orienting x = smaller id loses
    * nothing. High-df tokens carry tiny idf, land at the suffix end,
    * and stop generating df² candidate mass: the join volume drops
    * from Σ df² to Σ prefixCount·df.
    *
    * The filter is candidate-side only — survivors re-enter the exact
    * pair-bounded pinned-fold verification, so the OUTPUT is identical
    * to [[tfidfCosinePairs]] (the spec asserts equality; the gate
    * shares its oracle). The 1e-9 relative margin absorbs the bound's
    * fold rounding exactly like the max-weight prune's.
    *
    * @return (`a`, `b`, `cosine`) with cosine ≥ `minCosine`, a < b.
    */
  def tfidfCosinePairsPrefix(
      df: DataFrame, idCol: String, textCol: String,
      maxDf: Int, minCosine: Double): DataFrame = {
    require(maxDf >= 1, s"tfidfCosinePairsPrefix: maxDf must be >= 1, got $maxDf")
    require(minCosine > 0.0,
      s"tfidfCosinePairsPrefix: prefix filtering needs minCosine > 0, got $minCosine")
    val tf = df
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("token"))
      .groupBy(col("id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val nDocs = df.select(col(idCol)).distinct().agg(count(lit(1)).as("n"))
    // identical weight space to tfidfCosinePairs (same zero-weight
    // drop), but each row keeps its df for the global rare-first order
    val w = tf.join(dfreq, "token")
      .crossJoin(broadcast(nDocs)) // 1-row doc-count frame (declared)
      .withColumn("w", col("tf").cast(DoubleType) *
        graft.expr.PortableLnRatio.ln(col("n"), col("df")))
      .filter(col("w") =!= 0.0)
      .select("id", "token", "w", "df")
      .stagePin()
    val norms = w
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("token"), col("w")))).as("_s"))
      .select(col("id"), pinnedSum(transform(col("_s"),
        x => x.getField("w") * x.getField("w"))).as("n2"))
      .stagePin()
    val wn = w
      .join(norms.select(col("id"), sqrt(col("n2")).as("_nrm")), "id")
      .withColumn("_wn", col("w") / col("_nrm"))
      .select("id", "token", "df", "_wn")
      .stagePin() // prefix flags + both candidate-join sides read it
    val maxWn = wn.groupBy("token").agg(max(col("_wn")).as("_mx"))
    // reverse running bound per doc over the rare-first order; the
    // window scan is sequential per key, so the double is deterministic
    val sufFrame = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id"))
      .orderBy(col("df").asc, col("token").asc)
      .rowsBetween(0, org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val tau = minCosine * (1.0 - 1e-9)
    // The prefix is cut at θ·τ, DEEPER than the τ the guarantee needs:
    // a τ-cut leaves the residual sitting just under τ, which makes the
    // partial+residual prune vacuous (any pair with an ulp of matched
    // mass survives — measured 13× slower than the scan variant on a
    // uniform-weight corpus). At θ = ½ the residual is ≤ τ/2, so a
    // candidate must show partial ≥ τ/2 to survive — while the prefix
    // only grows by the few tokens between the two cuts.
    val theta = 0.5
    val flagged = wn.join(maxWn, "token")
      .withColumn("_sb", sum(col("_wn") * col("_mx")).over(sufFrame))
      .withColumn("_inPrefix", col("_sb") >= lit(theta * tau))
      .stagePin() // the prefix side and the suffix-bound rollup share it
    val prefix = flagged.filter(col("_inPrefix"))
      .select(col("id"), col("token"), col("_wn"))
    // per-doc residual: the running bound at the FIRST excluded
    // position caps everything a partner can collect outside the
    // prefix (0 when the whole doc is prefix)
    val residual = flagged.filter(!col("_inPrefix"))
      .groupBy("id").agg(max(col("_sb")).as("_sfx"))
    // Candidates restricted to prefix(x) ⋈ full(y), immediately rolled
    // up to a NORMALIZED partial dot over the matched tokens: true
    // cosine ≤ partial + residual(x), so pairs below the floor die
    // BEFORE the expensive exact-verification rejoin — the analogue of
    // the scan variant's count·max bound, but tighter (it already sees
    // real weight products). The partial is an unordered float sum:
    // fine for a PRUNE (margin absorbs rounding; losslessness, not
    // run-stability, is what the output depends on).
    // same bytes-scaled width as the scan variant's index join: the
    // prefix cuts the candidate MASS, not the posting-stream bytes the
    // join inputs shuffle
    val nPart = graft.ops.DedupOps.bytesScaledParts(df, 12L)
    val cand = prefix.repartition(nPart, col("token")).as("x")
      .join(wn.select(col("id"), col("token"), col("_wn"))
        .repartition(nPart, col("token")).as("y"),
        col("x.token") === col("y.token") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b"))
      .agg(sum(col("x._wn") * col("y._wn")).as("_partial"))
      .join(residual.select(col("id").as("a"), col("_sfx")), Seq("a"),
        "left_outer")
      .filter(col("_partial") + coalesce(col("_sfx"), lit(0.0)) >= lit(tau))
      .select("a", "b")
    // exact verification — byte-identical to tfidfCosinePairs' tail
    val dots = cand
      .join(norms.select(col("id").as("a"), col("n2").as("na2")), "a")
      .join(norms.select(col("id").as("b"), col("n2").as("nb2")), "b")
      .join(w.select(col("id").as("a"), col("token"), col("w").as("wa")), "a")
      .join(w.select(col("id").as("b"), col("token"), col("w").as("wb")),
        Seq("b", "token"))
      .groupBy("a", "b")
      .agg(first(col("na2")).as("na2"), first(col("nb2")).as("nb2"),
        sort_array(collect_list(struct(col("token"),
          (col("wa") * col("wb")).as("p")))).as("_s"))
      .select(col("a"), col("b"), col("na2"), col("nb2"),
        pinnedSum(transform(col("_s"), x => x.getField("p"))).as("dot"))
    dots
      .withColumn("cosine",
        col("dot") / (sqrt(col("na2")) * sqrt(col("nb2"))))
      .filter(col("cosine") >= minCosine)
      .select("a", "b", "cosine")
  }

  /** RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    * are the maximal stopword-free token runs of each document; each
    * word scores deg/freq over the doc's candidate phrases (deg = Σ
    * lengths of phrases containing it — co-occurrence reach; freq =
    * its occurrence count), and a phrase scores the sum of its words'
    * scores — long distinctive collocations outrank frequent
    * singletons. The model-free keyphrase extractor a curation
    * pipeline runs where tf-idf needs a corpus pass and a topic model
    * needs training.
    *
    * Hash-gate discipline: deg and freq are exact integers, each word
    * score is ONE double division, and the per-phrase sum folds its
    * word terms in position order on both engines. Phrase runs come
    * from gaps-and-islands (pos − row_number), phrase strings from the
    * position-sorted join — everything keyed by document, nothing
    * corpus-global, so the operator is embarrassingly doc-parallel at
    * any corpus size.
    *
    * @return top-`k` phrases per doc: (`doc_id`, `rnk`, `phrase`,
    *         `score`), ties broken by phrase text.
    */
  def rakePhrases(
      df: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String], k: Int): DataFrame = {
    require(k >= 1, s"rakePhrases: k must be >= 1, got $k")
    require(stopwords.nonEmpty, "rakePhrases: empty stopword list")
    import org.apache.spark.sql.expressions.Window
    val ns = df
      .select(col(idCol).as("_id"),
        posexplode(tokens(col(textCol))).as(Seq("_pos", "_tok")))
      .filter(!col("_tok").isInCollection(stopwords))
      .withColumn("_isl",
        col("_pos") - row_number().over(
          Window.partitionBy(col("_id")).orderBy(col("_pos"))))
      .stagePin() // the phrase rollup, word stats, and score join share it
    val islands = ns.groupBy("_id", "_isl")
      .agg(count(lit(1)).as("_plen"),
        array_join(
          transform(array_sort(collect_list(struct(col("_pos"), col("_tok")))),
            x => x.getField("_tok")), " ").as("phrase"))
    val wordStats = ns
      .join(islands.select(col("_id"), col("_isl"), col("_plen")),
        Seq("_id", "_isl"))
      .groupBy(col("_id"), col("_tok"))
      .agg(sum(col("_plen")).as("_deg"), count(lit(1)).as("_freq"))
    val scores = ns
      .join(wordStats, Seq("_id", "_tok"))
      .withColumn("_term",
        col("_deg").cast(DoubleType) / col("_freq").cast(DoubleType))
      .groupBy("_id", "_isl")
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("_pos"),
          col("_term").as("_t")))), x => x.getField("_t")),
        lit(0.0), (acc, x) => acc + x).as("score"))
    islands.join(scores, Seq("_id", "_isl"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("_id"))
          .orderBy(col("score").desc, col("phrase"))))
      .filter(col("rnk") <= k)
      .select(col("_id").as(idCol), col("rnk"), col("phrase"), col("score"))
  }

  /** Doc-level term co-occurrence counts over a capped vocabulary — the
    * exact-integer table under PMI / word-embedding / topic work. The
    * vocabulary cap (top `vocabK` tokens by document frequency, via
    * TakeOrderedAndProject + a broadcast semi probe) bounds the per-doc
    * pair fan-out at C(vocabK, 2) regardless of document length, so the
    * doc-keyed self-join stays linear in documents (`text_cooccurrence`
    * gate; scaling measured in tools/Scale). Output carries each token's
    * doc frequency alongside the pair count — the PMI numerator and
    * denominators as exact integers; the log itself is left to the
    * consumer (libm log is not cross-engine reproducible). */
  def cooccurrencePairs(
      df: DataFrame, idCol: String, textCol: String,
      vocabK: Int): DataFrame = {
    val dt0 = df
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .distinct()
    val vocab = dt0.groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(vocabK)
      .select("tok")
    val dt = dt0.join(broadcast(vocab), Seq("tok"), "left_semi")
    val dfreq = dt.groupBy("tok").agg(count(lit(1)).as("df"))
    val pairs = dt.as("a")
      .join(dt.as("b"), col(s"a.$idCol") === col(s"b.$idCol") &&
        col("a.tok") < col("b.tok"))
      .groupBy(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
      .agg(count(lit(1)).as("n_pair"))
    pairs
      .join(broadcast(dfreq).withColumnRenamed("tok", "tok_a")
        .withColumnRenamed("df", "df_a"), "tok_a")
      .join(broadcast(dfreq).withColumnRenamed("tok", "tok_b")
        .withColumnRenamed("df", "df_b"), "tok_b")
      .select("tok_a", "tok_b", "n_pair", "df_a", "df_b")
  }

  /** Top-k token pairs by pointwise mutual information:
    * PMI(a,b) = ln(N·c_ab / (df_a·df_b)) over [[cooccurrencePairs]]'
    * exact-integer table — the collocation detector ("New York" vs
    * "the of") keyword extraction starts from. Completes the promise in
    * cooccurrencePairs' doc: the log that operator left to the consumer
    * is [[graft.expr.PortableLnRatio]], so PMI itself is now
    * engine-portable (libm ln is not). `minPair` floors the pair count
    * — PMI of singleton pairs is pure noise and would dominate any
    * top-k. Total tie order (pmi desc, tok_a, tok_b) keeps the top-k
    * boundary deterministic; everything upstream is vocabulary-capped,
    * so the scored frame is ≤C(vocabK,2) rows whatever the corpus.
    *
    * @return top-`k` rows (`tok_a`, `tok_b`, `n_pair`, `df_a`, `df_b`,
    *         `pmi`).
    */
  def pmiTopK(
      df: DataFrame, idCol: String, textCol: String,
      vocabK: Int, minPair: Long, k: Int): DataFrame =
    pmiTopKFromPairs(cooccurrencePairs(df, idCol, textCol, vocabK),
      df.select(col(idCol)).distinct().agg(count(lit(1)).as("n_docs")),
      minPair, k)

  /** [[pmiTopK]] over a PRE-BUILT [[cooccurrencePairs]] table — the
    * sharing form (same discipline as
    * [[graft.ops.GraphOps.landmarkBrandesFromCounts]]): the co-occurrence
    * gate trio (counts, PMI, TextRank) reads one pair build per corpus
    * instead of three. `nDocs` is the 1-row distinct-doc count frame. */
  def pmiTopKFromPairs(
      pairs: DataFrame, nDocs: DataFrame,
      minPair: Long, k: Int): DataFrame = {
    require(minPair >= 1 && k >= 1, s"pmiTopK: bad ($minPair, $k)")
    pairs.filter(col("n_pair") >= minPair)
      .crossJoin(broadcast(nDocs)) // 1-row doc-count frame (declared)
      .withColumn("pmi", graft.expr.PortableLnRatio.ln(
        col("n_docs") * col("n_pair"), col("df_a") * col("df_b")))
      .orderBy(col("pmi").desc, col("tok_a").asc, col("tok_b").asc)
      .limit(k)
      .select("tok_a", "tok_b", "n_pair", "df_a", "df_b", "pmi")
  }

  /** TextRank keyword scores: weighted PageRank over the
    * [[cooccurrencePairs]] graph — the graph-centrality keyword
    * extractor (Mihalcea & Tarau's TextRank, here at corpus scope with
    * doc-level co-occurrence as the edge relation). A token matters
    * when it co-occurs with tokens that matter; co-occurrence COUNT is
    * the edge weight, so the rank rides
    * [[graft.ops.GraphOps.pageRankWeightedUnits]] — exact fixed-point
    * integers, hash-gateable, reusing the graph tier instead of a
    * bespoke loop. Tokens get dense node ids by a row_number over the
    * ≤`vocabK`-row vocabulary (bounded-domain unpartitioned window —
    * never data-sized); the undirected graph is both edge directions.
    * Isolated vocabulary tokens (no co-occurrence partner) have no
    * edges and are absent, as in the original formulation.
    *
    * Scale: everything after the vocab cap runs on ≤C(vocabK,2) pair
    * rows + the corpus-linear [[cooccurrencePairs]] stages.
    *
    * @return one row per ranked token: (`tok`, `rank_units`).
    */
  def textrankKeywords(
      df: DataFrame, idCol: String, textCol: String,
      vocabK: Int, iters: Int = 3): DataFrame =
    textrankKeywordsFromPairs(
      cooccurrencePairs(df, idCol, textCol, vocabK), iters)

  /** [[textrankKeywords]] over a PRE-BUILT [[cooccurrencePairs]] table —
    * the sharing form (see [[pmiTopKFromPairs]]). */
  def textrankKeywordsFromPairs(
      pairsIn: DataFrame, iters: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = pairsIn
      .select("tok_a", "tok_b", "n_pair")
      .stagePin() // consumed by the id map and both edge directions
    val ids = pairs.select(col("tok_a").as("tok"))
      .union(pairs.select(col("tok_b").as("tok")))
      .distinct()
      .withColumn("_nid",
        row_number().over(Window.orderBy(col("tok"))).cast("long"))
    val withIds = pairs
      .join(ids.select(col("tok").as("tok_a"), col("_nid").as("_ia")),
        "tok_a")
      .join(ids.select(col("tok").as("tok_b"), col("_nid").as("_ib")),
        "tok_b")
    val edges = withIds
      .select(col("_ia").as("src"), col("_ib").as("dst"),
        col("n_pair").as("w"))
      .unionByName(withIds.select(col("_ib").as("src"),
        col("_ia").as("dst"), col("n_pair").as("w")))
    graft.ops.GraphOps
      // domainParts = 1: the word graph is vocab-bounded by construction
      // (≤ vocabK nodes at ANY corpus size — the same bounded-domain
      // argument as the vocab-K windows), so session-width exchanges
      // over it are pure scheduler latency
      .pageRankWeightedUnits(edges, "src", "dst", "w", iters,
        domainParts = Some(1))
      .join(ids.select(col("_nid").as("id"), col("tok")), "id")
      .select(col("tok"), col("rank_units"))
  }

  /** Vocabulary-growth (Heaps'-law) curve from ONE corpus pass: vocab
    * size and token count at every `bucketWidth`-doc prefix checkpoint.
    * The naive form re-scans the corpus once per checkpoint; this one
    * exploits that a token enters the vocabulary exactly at its
    * FIRST-occurrence document — so min(doc) per distinct token,
    * bucketed by checkpoint, IS the per-checkpoint new-type count, and
    * the cumulative curve is a prefix sum over the (tiny)
    * checkpoint-count frame. The sub-linear bend of this curve is the
    * standard corpus-health read (a linear vocab curve means ids/noise
    * are leaking into the token stream; a flat one means boilerplate).
    *
    * @return one row per occupied checkpoint: (`checkpoint` =
    *         doc_id div bucketWidth, `new_types`, `n_tokens`,
    *         `cum_types`, `cum_tokens`).
    */
  def vocabGrowth(
      df: DataFrame, idCol: String, textCol: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    val newTypes = toks.groupBy("tok")
      .agg(min(col(idCol)).as("_first"))
      .groupBy(expr(s"_first div ${bucketWidth}L").as("checkpoint"))
      .agg(count(lit(1)).as("new_types"))
    val tokCounts = toks
      .groupBy(expr(s"$idCol div ${bucketWidth}L").as("checkpoint"))
      .agg(count(lit(1)).as("n_tokens"))
    // the joined frame is checkpoint-sized (corpus/bucketWidth rows) —
    // the window prefix sum runs over that tiny frame, not the corpus
    val w = org.apache.spark.sql.expressions.Window.orderBy("checkpoint")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    tokCounts.join(newTypes, Seq("checkpoint"), "left_outer")
      .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
      .withColumn("cum_types", sum("new_types").over(w))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .select("checkpoint", "new_types", "n_tokens", "cum_types",
        "cum_tokens")
  }

  /** Per-document coverage of the corpus's top-`topK` bigram list — the
    * model-free LM-perplexity stand-in for quality filtering (low
    * coverage flags gibberish, boilerplate, wrong-language text). The
    * reference list is tiny by construction (top-k via
    * TakeOrderedAndProject — never a single-partition global window),
    * the per-doc probe is a broadcast left join, and the rollup is one
    * keyed aggregate; coverage is a single integer→double division —
    * exact (`text_bigram_coverage` gate). */
  def bigramCoverage(
      df: DataFrame, idCol: String, textCol: String, topK: Int): DataFrame = {
    val bigrams = df
      .select(col(idCol), tokens(col(textCol)).as("t"))
      // sub-2-token docs have no bigrams; filter BEFORE sequence()
      // (Spark's sequence(1, 0) would count DOWN, not come back empty)
      .filter(size(col("t")) >= 2)
      .select(col(idCol), explode(
        expr("transform(sequence(1, size(t) - 1)," +
          " i -> concat(t[i-1], ' ', t[i]))")).as("bg"))
      .distinct()
    val top = bigrams.groupBy("bg").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bg"))
      .limit(topK)
      .select("bg")
    bigrams
      .join(broadcast(top).withColumn("hit", lit(1)), Seq("bg"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("hit"), lit(0))).as("n_common"))
      .withColumn("coverage",
        col("n_common").cast("double") / col("n_bigrams"))
  }

  /** Per-language function-word lexicons for the vote-based language-ID
    * heuristic. Deterministic and fully SQL-expressible (the DuckDB oracle
    * runs the same votes). The native one-pass vote counter
    * ([[graft.expr.LexiconVotes]]) makes vote cost independent of lexicon
    * size, so these can grow to real wordlists without touching the plan. */
  val Lexicons: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist", "ein", "mit",
      "zu", "den", "von", "sie", "auf", "des", "ich", "dem", "sich", "auch",
      "es", "an", "werden", "aus", "er", "hat", "dass", "war", "eine", "wir"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it",
      "that", "was", "he", "for", "on", "are", "as", "with", "his", "they",
      "at", "be", "this", "have", "from", "or", "had", "by", "but", "not"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es",
      "se", "no", "los", "con", "por", "las", "una", "su", "para", "como",
      "del", "al", "lo", "mas", "pero", "sus", "le", "ya", "o", "este"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "que", "pour",
      "les", "des", "en", "une", "du", "dans", "qui", "au", "il", "plus",
      "pas", "sur", "se", "ne", "par", "avec", "son", "ce", "sont", "ou"),
    "zh" -> Seq("de5", "shi4", "bu4", "le5", "zai4", "ren2", "you3", "wo3",
      "ta1", "zhe4", "zhong1", "da4", "lai2", "shang4", "guo2", "ge4",
      "dao4", "shuo1", "men5", "wei4", "zi5", "zhong4", "ni3", "sheng1",
      "xia4", "er2", "nian2", "jiu4"))

  /** Vote per language = tokens present in that language's lexicon
    * (duplicates count). Winner = max votes, ties broken by language
    * order — deterministic, expressible in ANSI-ish SQL. Votes come from
    * ONE native hash-probe pass over the token array (codegen'd), not a
    * higher-order filter per language (CodegenFallback — the interpreted
    * path PERF.md documents as a 10-25x blowup). */
  /** Token-level BPE merge induction: `steps` rounds of (count adjacent
    * token pairs corpus-wide → pick the most frequent, ties broken
    * lexicographically → rewrite every document, fusing that pair with
    * a `+`). The core loop of byte-pair-encoding tokenizer training
    * (Sennrich et al. 2016), lifted to token level so the whole round
    * is three codegen'd DataFrame stages: a positional pair explode +
    * one count rollup, a 1-row argmax broadcast, and a `replace`
    * projection. The fused pair participates in later rounds (that is
    * what makes it BPE and not just frequent-bigram mining).
    *
    * Rewrites use leftmost non-overlapping ` a b ` string replacement —
    * back-to-back occurrences sharing a boundary space keep their
    * second occurrence unfused in that round (both engines implement
    * replace identically, so the choice is deterministic; canonical BPE
    * has the same greedy-scan property).
    *
    * Each round's corpus is checkpoint-truncated: round i+1 references
    * round i twice (pair counts + rewrite), so lazy chaining would
    * double the plan per round. Driver state is the merge LOG only
    * (`steps` rows), never the corpus.
    *
    * @return one row per merge step: (step, pair, merged, cnt).
    */
  def bpeMerges(
      df: DataFrame, textCol: String, steps: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    bpeMergesLog(df, textCol, steps).toDF("step", "pair", "merged", "cnt")
  }

  /** [[bpeMerges]]' driver-side merge log — the form [[bpeEncode]]
    * consumes (the table IS driver state by design: `steps` rows). */
  def bpeMergesLog(
      df: DataFrame, textCol: String,
      steps: Int): Seq[(Int, String, String, Long)] = {
    require(steps >= 1, s"bpeMerges: steps must be >= 1, got $steps")
    val spark = df.sparkSession
    import spark.implicits._
    // Round state is a LAZY persist, not an eager pin: each round's only
    // action is the argmax collect, whose job materializes the cache the
    // round's two consumers (pair rollup + rewrite) then share — one job
    // per round instead of two, and the FINAL rewrite (which the log
    // never reads) is never computed at all. The logical plan grows one
    // `replace` per round (linear, not the doubled-tree shape that
    // motivates pinning elsewhere); an eager pin every 8 rounds still
    // truncates it for production-sized merge tables.
    var corpus = df
      .select(concat(lit(" "),
        regexp_replace(trim(col(textCol)), " +", " "), lit(" ")).as("t"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var retired: DataFrame = null
    val log = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    while (step <= steps) {
      val toks = split(trim(col("t")), " ")
      val pairs = corpus
        .select(toks.as("k"))
        .filter(size(col("k")) >= 2)
        .select(explode(sequence(lit(1), size(col("k")) - 1)).as("i"),
          col("k"))
        .select(concat(element_at(col("k"), col("i")), lit(" "),
          element_at(col("k"), col("i") + 1)).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
      val top = pairs.orderBy(col("cnt").desc, col("pair").asc).limit(1)
        .as[(String, Long)].collect()
      // `corpus` is materialized now; the PREVIOUS round's cache has no
      // remaining consumer and can go (unpersisting earlier would force
      // the whole rewrite chain to recompute into the new cache).
      if (retired != null) { retired.unpersist(); retired = null }
      if (top.isEmpty) {
        step = steps + 1 // corpus degenerated to single tokens
      } else {
        val (pair, cnt) = top.head
        val merged = pair.replace(' ', '+')
        log += ((step, pair, merged, cnt))
        val rewritten = corpus
          .select(replace(col("t"), lit(s" $pair "), lit(s" $merged "))
            .as("t"))
        retired = corpus
        corpus =
          if (step % 8 == 0) Staging.pin(rewritten)
          else rewritten.persist(StorageLevel.MEMORY_AND_DISK)
        step += 1
      }
    }
    if (retired != null) retired.unpersist()
    corpus.unpersist()
    log.toSeq
  }

  /** BPE ENCODE: tokenize every document with a learned merge table —
    * the per-ingest companion of [[bpeMerges]]' one-time induction. Each
    * merge is applied in table order with the induction loop's exact
    * leftmost non-overlapping ` a b ` → ` a+b ` rewrite, so encoding a
    * corpus with its own induced merges reproduces the induction's final
    * fused corpus byte-for-byte (unit-tested, and the gate oracle
    * replays the same cascade as CTEs).
    *
    * The whole operation is ONE corpus scan: the merge table rides with
    * the serialized [[graft.expr.BpeApply]] expression (per-task, not
    * per-row) and the per-row cost is a tight loop over the table —
    * rounds iterate over the MERGE LIST, never the corpus, which is the
    * shape that survives a 30k-entry production table at 100 TB (a fold
    * of N `replace` columns would overflow codegen's 64 KB method limit).
    *
    * @return (`idCol`, `enc` space-joined encoded tokens, `n_tokens`).
    */
  def bpeEncode(
      df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    df.select(col(idCol),
        graft.expr.BpeApply(col(textCol), merges).as("enc"))
      // split("") yields [""] (size 1) — an empty/whitespace-only doc
      // must report ZERO tokens, not one phantom empty token
      .withColumn("n_tokens",
        when(col("enc") === "", lit(0L))
          .otherwise(size(split(col("enc"), " ")).cast("long")))

  /** Tokenize to INTEGER IDS — the artifact a training pipeline actually
    * ships: [[bpeEncode]] the corpus with the merge table, then assign
    * each surviving token its rank in the corpus vocabulary (count
    * descending, token ascending — the standard frequency-ordered id
    * space, deterministic under ties) and emit per-document id arrays
    * in position order.
    *
    * The vocabulary ranking uses [[StatOps.globalRowNumber]] — range
    * partition + broadcast offsets — NEVER a single-partition
    * `row_number() OVER (ORDER BY ...)`: a 100 TB corpus has a
    * vocabulary in the millions, and this is exactly the stage where a
    * naive global window would bottleneck. Id arrays reassemble by
    * sorting (pos, id) structs per document, exact because positions
    * are unique.
    *
    * @return (`idCol`, `n_tokens`, `ids` array in token order).
    */
  def bpeEncodeIds(
      df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val tok = bpeEncode(df, idCol, textCol, merges)
      .select(col(idCol),
        posexplode(split(col("enc"), " ")).as(Seq("pos", "tok")))
      // an empty doc's lone "" pseudo-token must not enter the
      // vocabulary (it would claim a frequency-ranked id); such docs
      // drop from the output — they have no ids to emit
      .filter(col("tok") =!= "")
    val vocab = StatOps.globalRowNumber(
        tok.groupBy("tok").agg(count(lit(1)).as("cnt")),
        Seq(col("cnt").desc, col("tok").asc), "vid")
      .select(col("tok"), (col("vid") - 1).as("vid"))
    tok.join(vocab, Seq("tok"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        expr("transform(array_sort(collect_list(struct(pos, vid)))," +
          " e -> e.vid)").as("ids"))
  }

  /** Language-ID with a CONFIDENCE margin: the predicted language plus
    * the vote gap between the top two lexicons — the signal a curation
    * pipeline routes on (a zero-margin doc is code/noise/mixed-language
    * and belongs in a review bucket, not in the corpus under a guessed
    * label). One native vote pass ([[graft.expr.LexiconVotes]]); the
    * margin is a sort of the 5-element vote array, trivially codegen'd.
    *
    * @return df + (`lang_pred`, `top_votes`, `second_votes`, `margin`,
    *         `confident` = margin >= minMargin).
    */
  def langIdConfidence(
      df: DataFrame, textCol: String, minMargin: Int = 2): DataFrame = {
    // ONE native vote pass: the prediction is derived from the same
    // votes column the margin reads (calling langId here would run the
    // split + 5-lexicon probe a second time per row — the exact
    // duplication the LexiconVotes scaladoc warns about). The when
    // chain replays LexiconBest's first-wins argmax: label i wins iff
    // its votes strictly exceed every EARLIER label's, checked from the
    // last label down — only the earliest maximum satisfies it.
    val labels = Lexicons.map(_._1)
    def v(c: Column, i: Int) = element_at(c, i + 1)
    def firstWins(c: Column): Column =
      (labels.indices.tail.reverse.foldLeft(Option.empty[Column]) {
        case (acc, i) =>
          val prev = (0 until i).map(j => v(c, j))
          val prevMax = if (prev.size == 1) prev.head else greatest(prev: _*)
          val cond = v(c, i) > prevMax
          Some(acc.fold(when(cond, labels(i)))(_.when(cond, labels(i))))
      }).get.otherwise(labels.head)
    df.withColumn("_v", graft.expr.LexiconVotes.votes(
        tokens(lower(col(textCol))), Lexicons.map(_._2)))
      .withColumn("lang_pred", firstWins(col("_v")))
      .withColumn("_sv", sort_array(col("_v"), asc = false))
      .withColumn("top_votes", element_at(col("_sv"), 1))
      .withColumn("second_votes", element_at(col("_sv"), 2))
      .withColumn("margin", col("top_votes") - col("second_votes"))
      .withColumn("confident", col("margin") >= minMargin)
      .drop("_v", "_sv")
  }

  def langId(text: Column): Column =
    // fused vote + first-strict-argmax in one native pass. The previous
    // when-chain fold duplicated the running best in both branches of
    // every step, so the votes subtree (split + every probe) exploded
    // ~2^(n-1)-fold per row — 1.3 s of curate_corpus's 1.7 s at sf0.1.
    graft.expr.LexiconVotes.best(tokens(lower(text)),
      Lexicons.map(_._2), Lexicons.map(_._1))

  /** Token-rarity profile: per document, how much of it is made of
    * corpus-rare vocabulary — the frequency-based quality signal that
    * complements [[qualityScore]]'s surface ratios and the tf-idf view
    * (a doc dominated by hapax/garbage tokens scores high `n_rare`; a
    * doc of pure boilerplate scores high `df_sum`). All-integer output
    * (counts and sums of counts) so the gate hash-matches any engine;
    * a consumer derives ratios/logs downstream (the DSIR precedent).
    *
    * `df` here is DOCUMENT frequency (distinct docs containing the
    * token), the standard rarity notion — repeated in-doc use of a rare
    * token raises `n_rare` per occurrence but not the token's df.
    *
    * Scale shape: explode → one vocab rollup (map-side combined) →
    * equi-join occurrences⋈vocab on the token (both sides shuffle by
    * token; the vocab side is the small one but NOT broadcastable at
    * 100 TB vocabularies, so the plan leaves the strategy to the
    * engine) → one per-doc rollup. Linear, no all-pairs. */
  def rarityScore(
      df: DataFrame, idCol: String, textCol: String,
      rareDfMax: Long): DataFrame = {
    require(rareDfMax >= 1, s"rareDfMax must be >= 1, got $rareDfMax")
    val toks = df.select(col(idCol),
      explode(tokens(col(textCol))).as("tok"))
    val vocab = toks.groupBy("tok")
      .agg(countDistinct(col(idCol)).as("_df"))
    toks.join(vocab, Seq("tok"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_df") <= rareDfMax, 1L).otherwise(0L)).as("n_rare"),
        sum(col("_df")).as("df_sum"))
  }

  /** Unicode hygiene pass — the canonicalization stage that runs BEFORE
    * any hash/shingle/exact-dedup operator on a multilingual crawl:
    * NFC-normalize ([[graft.expr.NfcNormalize]], native codegen — the
    * same content arrives precomposed from one crawler and decomposed
    * from another and would otherwise dedup as distinct), strip
    * non-whitespace C0/DEL control characters, collapse whitespace
    * runs, trim — plus the review counters a curation pipeline routes
    * on (control-char count, U+FFFD replacement-char count = mojibake
    * evidence of a broken upstream transcode, and whether NFC changed
    * anything at all).
    *
    * Order matters and is part of the contract: NFC first (composition
    * never produces control characters), control strip second (so a
    * stripped \x0B cannot survive into the Java-vs-RE2 `\s` asymmetry),
    * whitespace collapse last. The control class is spelled as explicit
    * byte ranges — portable across Java regex and RE2, unlike
    * `[\p{Cc}&&[^..]]` intersections.
    *
    * @return (`idCol`, `clean_text`, `clean_len`, `n_ctrl`, `n_repl`,
    *         `nfc_changed` 0/1).
    */
  def unicodeClean(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ctrlClass = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"
    val t = col(textCol)
    val nfc = graft.expr.NfcNormalize.nfc(t)
    val noCtrl = regexp_replace(nfc, ctrlClass, "")
    val clean = trim(regexp_replace(noCtrl, "\\s+", " "))
    df.select(col(idCol), t.as("_orig"), nfc.as("_nfc"), noCtrl.as("_nc"),
        clean.as("clean_text"))
      .select(col(idCol),
        col("clean_text"),
        length(col("clean_text")).cast(LongType).as("clean_len"),
        (length(col("_nfc")) - length(col("_nc"))).cast(LongType).as("n_ctrl"),
        (length(col("_nfc")) -
          length(regexp_replace(col("_nfc"), "\uFFFD", "")))
          .cast(LongType).as("n_repl"),
        when(col("_nfc") === col("_orig"), 0L).otherwise(1L).as("nfc_changed"))
  }

  /** Bigram-LM surprise profile — the CCNet filtering idea (Wenzek et
    * al. 2020: score every document by how surprising a REFERENCE
    * language model finds it; very-high-perplexity docs are noise,
    * very-low ones boilerplate) re-expressed as EXACT-INTEGER
    * sufficient statistics.
    *
    * The "model" is the bigram table of the `refPred`-selected slice:
    * pair counts c(w1 w2) and left-context totals c(w1 ·) (their rollup
    * — conditional MLE p(w2|w1) = c(w1 w2)/c(w1 ·)). Each scored bigram
    * occurrence contributes the integer surprise bucket
    * floor(log2 1/p) = length(bin(c(w1 ·) div c(w1 w2))) − 1: the
    * bit-length identity (exact because powers of two are integers)
    * keeps the whole gate in BIGINT arithmetic — libm log2 is not
    * cross-engine bit-reproducible, the floor-log2 of an integer ratio
    * is (the DSIR/tf-idf precedent: consumers take real logs
    * downstream). Bigrams outside the model (possible only when
    * `refPred` is a proper subset) count into `n_oov`, never the sum.
    *
    * Scale shape: one bigram explode (token-linear) → model rollup
    * keyed by gram (bigram-TYPE-sized — far too big to broadcast at
    * 100 TB, so both model joins stay key-shuffled equi-joins and the
    * strategy is left to AQE) → context rollup over the MODEL (≤ model
    * rows) → two left joins → one per-doc rollup. Linear, no all-pairs.
    * Docs with fewer than two tokens have no bigrams and drop from the
    * output (the [[bpeEncodeIds]] empty-doc convention).
    *
    * @return (`idCol`, `n_bigrams`, `n_oov`, `surprise_sum`,
    *         `surprise_max` — −1 when every bigram is OOV).
    */
  def lmSurprise(
      df: DataFrame, idCol: String, textCol: String,
      refPred: Column): DataFrame = {
    val big = df.select(col(idCol), tokens(col(textCol)).as("_t"))
      .filter(size(col("_t")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(1, size(_t) - 1)," +
          " i -> struct(_t[i-1] AS w1, concat(_t[i-1], ' ', _t[i]) AS gram))"))
        .as("_bg"))
      .select(col(idCol), col("_bg.w1").as("w1"), col("_bg.gram").as("gram"))
    val model = big
      .join(df.filter(refPred).select(col(idCol)), Seq(idCol), "left_semi")
      .groupBy("gram").agg(count(lit(1)).as("cb"))
    // context totals derive from the MODEL rollup (≤ model rows), not
    // from a second corpus pass; tokens carry no spaces (split " +"),
    // so the gram's left token recovers exactly
    val ctx = model
      .withColumn("w1", expr("split(gram, ' ')[0]"))
      .groupBy("w1").agg(sum("cb").as("cu"))
    val bucket = length(bin(expr("cu div cb"))).cast(LongType) - 1L
    val inModel = col("cb").isNotNull && col("cu").isNotNull
    big.join(model, Seq("gram"), "left_outer")
      .join(ctx, Seq("w1"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(inModel, 0L).otherwise(1L)).as("n_oov"),
        sum(when(inModel, bucket).otherwise(0L)).as("surprise_sum"),
        coalesce(max(when(inModel, bucket)), lit(-1L)).as("surprise_max"))
  }

  /** Zipf slope of the corpus vocabulary: least-squares fit of
    * ln(freq) against ln(rank) over the top-`k` tokens — healthy
    * natural-language corpora sit near −1; a slope collapsing toward 0
    * flags boilerplate/template floods, one plunging below −1.5 flags
    * a vocabulary hole. The sanity probe a corpus snapshot gets before
    * training.
    *
    * Exactness: the logs are [[graft.expr.PortableLnRatio]] (rank and
    * frequency are exact integers, so `pln(rank,1)`/`pln(freq,1)` are
    * engine-portable bit-for-bit), the four regression moments fold in
    * rank order over the top-k array, and slope/intercept are fixed
    * expression trees over them. Scale shape: one token rollup, a
    * distributed top-k (`orderBy.limit` → TakeOrdered, no global
    * sort), then a k-row fold — k is a constant (1000), never
    * corpus-sized.
    *
    * @return one row: (`k` tokens fitted, `slope`, `intercept`)
    */
  def zipfSlope(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 2, s"need at least 2 ranks to fit, got k=$k")
    import graft.expr.PortableLnRatio.{ln => pln}
    val freq = df
      .select(explode(split(trim(col(textCol)), " +")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
    val topk = freq.orderBy(col("freq").desc, col("tok")).limit(k)
    val one = topk.agg(
      sort_array(collect_list(struct((-col("freq")).as("nf"), col("tok"),
        col("freq")))).as("_arr"))
    def fold(term: (Column, Column) => Column): Column =
      aggregate(
        transform(col("_arr"), (s, i) => term(s, i)),
        lit(0.0), (acc, x) => acc + x)
    def x(i: Column): Column = pln((i + lit(1)).cast("long"), lit(1L))
    def y(s: Column): Column = pln(s.getField("freq"), lit(1L))
    one
      .withColumn("kk", size(col("_arr")).cast("long"))
      .withColumn("_sx", fold((_, i) => x(i)))
      .withColumn("_sy", fold((s, _) => y(s)))
      .withColumn("_sxy", fold((s, i) => x(i) * y(s)))
      .withColumn("_sxx", fold((_, i) => x(i) * x(i)))
      .withColumn("slope",
        (col("kk").cast("double") * col("_sxy") - col("_sx") * col("_sy")) /
          (col("kk").cast("double") * col("_sxx") -
            col("_sx") * col("_sx")))
      .withColumn("intercept",
        (col("_sy") - col("slope") * col("_sx")) / col("kk").cast("double"))
      .select(col("kk").as("k"), col("slope"), col("intercept"))
  }

  /** Pairwise Jensen–Shannon divergence between per-GROUP token
    * distributions — the corpus-composition drift matrix: "which sources
    * write like each other, which one went off-distribution". Groups are
    * a DOMAIN (sources, splits, snapshots — never per-user), so the
    * C(G,2) pair fan-out is domain-sized; the corpus-sized work is one
    * token rollup.
    *
    * Hash-gate discipline AT VOCABULARY SCALE: [[graft.ops.StatOps.jsDivergence]]
    * folds its category terms in collected order — fine over a value
    * domain, not over a vocabulary ∝ corpus. Here each shared-token term
    * is QUANTIZED instead: floor(unit · p · ln(2p/(p+q))) as a long, so
    * the per-pair sum is order-free, map-side-combinable, and both
    * engines replay it bit-identically (the ln is [[graft.expr.PortableLnRatio]],
    * the division/multiply order is pinned and mirrored in the oracle).
    * Quantization bias is ≤ sharedVocab/unit nats — at the default 1e-9
    * nat granularity, irrelevant to any drift decision. Tokens present
    * in only one side contribute p·ln2 exactly, which needs no per-token
    * work: the exclusive MASS rides the shared-token rollup
    * (excl_a = n_a − Σ_shared c_a) and contributes one floored term per
    * pair. Pairs sharing NO token are absent (their JS is exactly ln 2);
    * integer products c·n bound exactness to ~2.1e9 tokens per group —
    * GUARDED in-plan (raise_error on the group-totals frame, the
    * [[graft.ops.GraphOps.katzUnits]] discipline): past the bound the
    * ln-ratio arguments 2·ca·nb / (ca·nb + cb·na) wrap silently on
    * Spark while the DuckDB oracle's BIGINT multiply errors — the worst
    * oracle-divergence class. Shard groups or widen to DECIMAL there.
    *
    * @return one row per group pair (a < b): (`sa`, `sb`, `n_shared`,
    *         `jp_units`, `jq_units`, `jsd` ≈ (jp+jq)/(2·unit) nats)
    */
  def tokenDivergenceMatrix(
      df: DataFrame, groupCol: String, textCol: String,
      unit: Long = 1000000000L): DataFrame = {
    require(unit > 0, s"tokenDivergenceMatrix: unit must be > 0, got $unit")
    import graft.expr.PortableLnRatio.{ln => pln, Ln2}
    val tok = df.select(col(groupCol).as("_s"),
        explode(split(trim(col(textCol)), " +")).as("_t"))
      .filter(col("_t") =!= "")
      .groupBy("_s", "_t").agg(count(lit(1)).as("_c"))
      .stagePin() // three consumers: totals + both sides of the pair join
    // in-plan 2^63 teeth on the GROUP-TOTALS frame (domain-sized, so the
    // guard costs nothing on the per-token hot path): with each total
    // ≤ ⌊√(2^63/2)⌋ = 2147483647, every product below — 2·ca·nb,
    // ca·nb + cb·na (ca ≤ na, cb ≤ nb) — fits a long.
    val totSafe = 2147483647L
    val tot = tok.groupBy("_s").agg(sum("_c").as("_n"))
      .select(col("_s"),
        when(col("_n") > lit(totSafe),
          raise_error(concat(
            lit("tokenDivergenceMatrix: group token total exceeds the " +
              s"2^63-safe bound $totSafe — the integer ln-ratio products " +
              "would wrap silently on Spark where DuckDB errors; shard " +
              "the group or widen the products to DECIMAL(38,0); total = "),
            col("_n").cast("string"))))
          .otherwise(col("_n")).as("_n"))
    val joined = tok.select(col("_s").as("sa"), col("_t"), col("_c").as("ca"))
      .join(tok.select(col("_s").as("sb"), col("_t"), col("_c").as("cb")),
        Seq("_t"))
      .filter(col("sa") < col("sb"))
      .join(broadcast(tot.select(col("_s").as("sa"), col("_n").as("na"))),
        Seq("sa"))
      .join(broadcast(tot.select(col("_s").as("sb"), col("_n").as("nb"))),
        Seq("sb"))
    val tp = floor(col("ca").cast("double") / col("na").cast("double") *
      pln(lit(2L) * col("ca") * col("nb"),
        col("ca") * col("nb") + col("cb") * col("na")) *
      lit(unit.toDouble)).cast("long")
    val tq = floor(col("cb").cast("double") / col("nb").cast("double") *
      pln(lit(2L) * col("cb") * col("na"),
        col("cb") * col("na") + col("ca") * col("nb")) *
      lit(unit.toDouble)).cast("long")
    joined
      .select(col("sa"), col("sb"), col("na"), col("nb"),
        col("ca"), col("cb"), tp.as("_tp"), tq.as("_tq"))
      .groupBy("sa", "sb", "na", "nb")
      .agg(count(lit(1)).as("n_shared"),
        sum("ca").as("_sha"), sum("cb").as("_shb"),
        sum("_tp").as("_jp0"), sum("_tq").as("_jq0"))
      .select(col("sa"), col("sb"), col("n_shared"),
        (col("_jp0") + floor((col("na") - col("_sha")).cast("double") /
          col("na").cast("double") * lit(Ln2) * lit(unit.toDouble))
          .cast("long")).as("jp_units"),
        (col("_jq0") + floor((col("nb") - col("_shb")).cast("double") /
          col("nb").cast("double") * lit(Ln2) * lit(unit.toDouble))
          .cast("long")).as("jq_units"))
      .withColumn("jsd",
        (col("jp_units") + col("jq_units")).cast("double") /
          (lit(2.0) * lit(unit.toDouble)))
  }
}
