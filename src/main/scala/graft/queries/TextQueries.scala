package graft.queries

import org.apache.spark.sql.functions._

import graft.{Q, T}
import graft.expr.TextHashFunctions
import graft.ops.TextOps

/** Text analysis over `documents`: token counting, quality scoring,
  * language-ID, hash fingerprints. All oracle-checked — including the
  * native-hash fingerprints, whose oracle replays the engine's own
  * FNV-1a + splitmix64 arithmetic in SQL (see [[Hash64Oracle]]). */
object TextQueries {

  private def inList(items: Seq[String]): String =
    items.map(s => s"'$s'").mkString("(", ",", ")")

  /** The langid-prediction CTE `p(lang, lang_pred)` over `documents` —
    * the replay of [[TextOps.langId]]'s lexicon-hit argmax with its
    * fixed zh>fr>es>en>de tie order. Shared by the confusion-matrix
    * and the multiclass-F1 gates so all three score the SAME rater. */
  private def langPredCte: String = {
    val v = TextOps.Lexicons.map { case (lang, lex) =>
      lang ->
        s"len(list_filter(string_split_regex(lower(text), ' +'), t -> t IN ${inList(lex)}))"
    }.toMap
    s"""p AS (SELECT lang,
       |  CASE
       |    WHEN v_zh > greatest(v_de, v_en, v_es, v_fr) THEN 'zh'
       |    WHEN v_fr > greatest(v_de, v_en, v_es) THEN 'fr'
       |    WHEN v_es > greatest(v_de, v_en) THEN 'es'
       |    WHEN v_en > v_de THEN 'en'
       |    ELSE 'de' END AS lang_pred
       |FROM (SELECT lang,
       |        ${v("de")} AS v_de, ${v("en")} AS v_en, ${v("es")} AS v_es,
       |        ${v("fr")} AS v_fr, ${v("zh")} AS v_zh
       |      FROM documents))""".stripMargin
  }

  /** One merge-table induction per (session, corpus) — the production
    * shape: a tokenizer trains once and every ingest applies it. The
    * encode and token-id gates share this table; the export gate
    * induces its own over the KEPT corpus (a different training set by
    * design). Induction itself stays independently gated by
    * text_bpe_merges. */
  private val mergeCache = graft.ops.Memo.staging[
    (org.apache.spark.sql.SparkSession, String), Seq[(String, String)]](4)
  private[queries] def sharedMerges(
      s: org.apache.spark.sql.SparkSession, d: String): Seq[(String, String)] =
    mergeCache.getOrElseUpdate((s, d)) {
      TextOps.bpeMergesLog(T(s, d, "documents"), "text", steps = 5)
        .map { case (_, pair, merged, _) => (pair, merged) }
    }

  /** One co-occurrence pair table per (session, corpus) — the sharing
    * set for the counts/PMI/TextRank gate trio (same corpus, same
    * vocabK = 50 tokenizer): one corpus tokenize + vocab cap + pair
    * self-join instead of three ([[graft.queries.GraphQueries]]'
    * landmark-sweep discipline). A sweep memo
    * ([[graft.ops.Memo.sweep]]): dropped between bench passes so
    * best-of-3 repeats measure the build, not a pinned-frame read. */
  private val cooccCache = graft.ops.Memo.sweep[
    (org.apache.spark.sql.SparkSession, String),
    org.apache.spark.sql.DataFrame](4)
  private[queries] def sharedCooccPairs(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    cooccCache.getOrElseUpdate((s, d)) {
      graft.ops.Staging.pin(
        TextOps.cooccurrencePairs(T(s, d, "documents"), "doc_id", "text",
          vocabK = 50))
    }

  /** The TF-IDF cosine oracle (doc_id%5 sample, cap 450, floor 0.8) —
    * shared verbatim by the full-scan and prefix-filtered gates: the
    * prefix filter is lossless, so both must hash to this. */
  private def tfidfCosineOracle: String = {
    import graft.expr.PortableLnRatio.sqlStages
    s"""WITH docs AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
       |tok AS (SELECT doc_id,
       |    unnest(string_split_regex(text, ' +')) AS token FROM docs),
       |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
       |  FROM tok GROUP BY 1, 2),
       |dfx AS (SELECT token, CAST(count(*) AS BIGINT) AS df
       |  FROM tf GROUP BY 1 HAVING count(*) <= 450),
       |nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n
       |  FROM docs),
       |dfn AS (SELECT token, df, n FROM dfx, nd),
       |${sqlStages("ix", "dfn", "n", "df", Seq("token"))},
       |w AS (SELECT tf.doc_id, tf.token,
       |    CAST(tf.tf AS DOUBLE) * i.pln AS w
       |  FROM tf JOIN ixln i USING (token)
       |  WHERE CAST(tf.tf AS DOUBLE) * i.pln <> 0.0),
       |norm AS (SELECT doc_id,
       |    list_reduce(list(w * w ORDER BY token),
       |      (a, x) -> a + x) AS n2
       |  FROM w GROUP BY doc_id),
       |pd AS (SELECT x.doc_id AS a, y.doc_id AS b,
       |    list_reduce(list(x.w * y.w ORDER BY x.token),
       |      (p, q) -> p + q) AS dot
       |  FROM w x JOIN w y ON x.token = y.token AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2)
       |SELECT a, b, dot / (sqrt(na.n2) * sqrt(nb.n2)) AS cosine
       |FROM pd JOIN norm na ON na.doc_id = a
       |JOIN norm nb ON nb.doc_id = b
       |WHERE dot / (sqrt(na.n2) * sqrt(nb.n2)) >= 0.8
       |ORDER BY a, b""".stripMargin
  }

  /** The doc_id-carrying BPE induction cascade `t0..t{steps}` shared by
    * the text_bpe_encode and text_bpe_ids oracles (see text_bpe_merges
    * for the cascade's commentary): t{steps} IS the encoded corpus. */
  private[queries] def bpeCascadeCtes(
      steps: Int, src: String = "documents"): String = {
    val rounds = (1 to steps).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT pair, count(*) AS cnt FROM (
         |    SELECT unnest(list_transform(generate_series(1, len(k) - 1),
         |        j -> k[j] || ' ' || k[j + 1])) AS pair
         |    FROM (SELECT string_split(trim(t), ' ') AS k FROM t${i - 1})
         |    WHERE len(k) >= 2)
         |  GROUP BY pair),
         |m$i AS MATERIALIZED (
         |  SELECT pair, replace(pair, ' ', '+') AS merged, cnt
         |  FROM p$i ORDER BY cnt DESC, pair ASC LIMIT 1),
         |t$i AS MATERIALIZED (
         |  SELECT doc_id, replace(t, ' ' || (SELECT pair FROM m$i) || ' ',
         |                 ' ' || (SELECT merged FROM m$i) || ' ') AS t
         |  FROM t${i - 1})""".stripMargin
    }.mkString(",\n")
    s"""t0 AS MATERIALIZED (
       |  SELECT doc_id, ' ' || array_to_string(
       |      string_split_regex(trim(text), ' +'), ' ') || ' ' AS t
       |  FROM $src),
       |$rounds""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q(
      "text_stats",
      (s, d) =>
        TextOps
          .qualityScore(T(s, d, "documents"), "text")
          .select("doc_id", "n_tokens", "n_chars", "alpha_ratio",
            "stopword_ratio", "mean_token_len")
          .orderBy("doc_id"),
      Some {
        val stop = inList(TextOps.Stopwords)
        s"""SELECT doc_id,
           |  CAST(len(string_split_regex(text, ' +')) AS INTEGER) AS n_tokens,
           |  CAST(length(text) AS INTEGER) AS n_chars,
           |  CAST(length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS DOUBLE)
           |    / greatest(length(text), 1) AS alpha_ratio,
           |  CAST(len(list_filter(string_split_regex(text, ' +'), t -> t IN $stop)) AS DOUBLE)
           |    / greatest(len(string_split_regex(text, ' +')), 1) AS stopword_ratio,
           |  CAST(length(array_to_string(string_split_regex(text, ' +'), '')) AS DOUBLE)
           |    / greatest(len(string_split_regex(text, ' +')), 1) AS mean_token_len
           |FROM documents ORDER BY doc_id""".stripMargin
      },
      "token count + quality signals (alpha/stopword ratios, mean token len)"),

    Q(
      "text_langid",
      (s, d) =>
        T(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            TextOps.langId(col("text")).as("lang_pred"))
          .orderBy("doc_id"),
      Some {
        val v = TextOps.Lexicons.map { case (lang, lex) =>
          lang ->
            s"len(list_filter(string_split_regex(lower(text), ' +'), t -> t IN ${inList(lex)}))"
        }.toMap
        // same argmax-with-first-wins as the Spark fold
        s"""SELECT doc_id, lang,
           |  CASE
           |    WHEN v_zh > greatest(v_de, v_en, v_es, v_fr) THEN 'zh'
           |    WHEN v_fr > greatest(v_de, v_en, v_es) THEN 'fr'
           |    WHEN v_es > greatest(v_de, v_en) THEN 'es'
           |    WHEN v_en > v_de THEN 'en'
           |    ELSE 'de' END AS lang_pred
           |FROM (SELECT doc_id, lang,
           |        ${v("de")} AS v_de, ${v("en")} AS v_en, ${v("es")} AS v_es,
           |        ${v("fr")} AS v_fr, ${v("zh")} AS v_zh
           |      FROM documents)
           |ORDER BY doc_id""".stripMargin
      },
      "lexicon-vote language ID, deterministic first-wins argmax"),

    // Language-ID confusion matrix: the labeled corpus scored by the
    // lexicon voter, rolled up per (true, predicted) cell with each
    // cell's share of its true class — the error-analysis table that
    // says WHICH languages the ID confuses, not just how often.
    // Integer counts; one division per cell.
    Q(
      "text_langid_confusion",
      (s, d) => {
        val pred = T(s, d, "documents")
          .select(col("lang"), TextOps.langId(col("text")).as("lang_pred"))
        val cells = pred.groupBy("lang", "lang_pred")
          .agg(count(lit(1)).as("n"))
        val trueTot = cells.groupBy("lang").agg(sum("n").as("n_true"))
        cells.join(trueTot, Seq("lang"))
          .withColumn("recall_share",
            col("n").cast("double") / col("n_true").cast("double"))
          .select("lang", "lang_pred", "n", "n_true", "recall_share")
          .orderBy("lang", "lang_pred")
      },
      Some(s"""WITH $langPredCte,
              |c AS (SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
              |      FROM p GROUP BY 1, 2),
              |t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_true
              |      FROM c GROUP BY 1)
              |SELECT c.lang, c.lang_pred, c.n, t.n_true,
              |  CAST(c.n AS DOUBLE) / CAST(t.n_true AS DOUBLE) AS recall_share
              |FROM c JOIN t USING (lang)
              |ORDER BY lang, lang_pred""".stripMargin),
      "language-ID confusion matrix: per-cell counts and true-class shares"),

    // Per-class precision/recall/F1 of the langid rater
    // ([[graft.ops.EvalOps.multiclassF1]]): the multiclass scorecard the
    // confusion matrix above only implies. Class domain = truth ∪
    // predicted (full outer join), F1 = 2·tp / (n_true + n_pred) — a
    // SINGLE division, no harmonic-mean-of-divisions rounding.
    Q(
      "eval_f1_per_class",
      (s, d) => {
        val pred = T(s, d, "documents")
          .select(col("lang"), TextOps.langId(col("text")).as("lang_pred"))
        graft.ops.EvalOps.multiclassF1(pred, "lang", "lang_pred")
          .orderBy("cls")
      },
      Some(s"""WITH $langPredCte,
              |c AS (SELECT lang AS y, lang_pred AS pr,
              |        CAST(count(*) AS BIGINT) AS n
              |      FROM p GROUP BY 1, 2),
              |tr AS (SELECT y AS cls, CAST(sum(n) AS BIGINT) AS n_true
              |       FROM c GROUP BY 1),
              |pd AS (SELECT pr AS cls, CAST(sum(n) AS BIGINT) AS n_pred
              |       FROM c GROUP BY 1),
              |tp AS (SELECT y AS cls, n AS tp FROM c WHERE y = pr),
              |f AS (SELECT cls,
              |    coalesce(tr.n_true, 0) AS n_true,
              |    coalesce(pd.n_pred, 0) AS n_pred,
              |    coalesce(tp.tp, 0) AS tp
              |  FROM tr FULL OUTER JOIN pd USING (cls)
              |  LEFT JOIN tp USING (cls))
              |SELECT cls, n_true, n_pred, tp,
              |  CASE WHEN n_pred > 0
              |    THEN CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE)
              |  END AS precision,
              |  CASE WHEN n_true > 0
              |    THEN CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE)
              |  END AS recall,
              |  CAST(2.0 AS DOUBLE) * CAST(tp AS DOUBLE) /
              |    CAST(n_true + n_pred AS DOUBLE) AS f1
              |FROM f ORDER BY cls""".stripMargin),
      "per-class P/R/F1 of the langid rater: union class domain, one-division F1"),

    // Micro / macro / support-weighted F1 over the per-class table
    // ([[graft.ops.EvalOps.multiclassF1Summary]]): the three corpus
    // numbers a curation dashboard quotes. Micro = Σtp/N (accuracy for
    // single-label multiclass, one division); the two means fold their
    // per-class doubles in class order on both engines.
    Q(
      "eval_f1_summary",
      (s, d) => {
        val pred = T(s, d, "documents")
          .select(col("lang"), TextOps.langId(col("text")).as("lang_pred"))
        graft.ops.EvalOps.multiclassF1Summary(
          graft.ops.EvalOps.multiclassF1(pred, "lang", "lang_pred"))
      },
      Some(s"""WITH $langPredCte,
              |c AS (SELECT lang AS y, lang_pred AS pr,
              |        CAST(count(*) AS BIGINT) AS n
              |      FROM p GROUP BY 1, 2),
              |tr AS (SELECT y AS cls, CAST(sum(n) AS BIGINT) AS n_true
              |       FROM c GROUP BY 1),
              |pd AS (SELECT pr AS cls, CAST(sum(n) AS BIGINT) AS n_pred
              |       FROM c GROUP BY 1),
              |tp AS (SELECT y AS cls, n AS tp FROM c WHERE y = pr),
              |f AS (SELECT cls,
              |    coalesce(tr.n_true, 0) AS n_true,
              |    coalesce(pd.n_pred, 0) AS n_pred,
              |    coalesce(tp.tp, 0) AS tp
              |  FROM tr FULL OUTER JOIN pd USING (cls)
              |  LEFT JOIN tp USING (cls)),
              |g AS (SELECT cls, n_true, tp,
              |    CAST(2.0 AS DOUBLE) * CAST(tp AS DOUBLE) /
              |      CAST(n_true + n_pred AS DOUBLE) AS f1
              |  FROM f)
              |SELECT CAST(sum(n_true) AS BIGINT) AS n,
              |  CAST(count(*) AS BIGINT) AS n_classes,
              |  CAST(sum(tp) AS DOUBLE) / CAST(sum(n_true) AS DOUBLE)
              |    AS micro_f1,
              |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              |      list(f1 ORDER BY cls)), (acc, x) -> acc + x) /
              |    CAST(count(*) AS DOUBLE) AS macro_f1,
              |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              |      list(CAST(n_true AS DOUBLE) * f1 ORDER BY cls)),
              |    (acc, x) -> acc + x) /
              |    CAST(sum(n_true) AS DOUBLE) AS weighted_f1
              |FROM g""".stripMargin),
      "micro/macro/weighted F1 scorecard: ordered class-mean folds both engines"),

    // Language-ID with a CONFIDENCE margin ([[TextOps.langIdConfidence]]):
    // the vote gap between the top two lexicons — zero-margin docs are
    // code/noise/mixed-language and route to review, not into the corpus
    // under a guessed label. The oracle sorts the same 5-vote list.
    Q(
      "text_langid_margin",
      (s, d) =>
        TextOps.langIdConfidence(
            T(s, d, "documents").select("doc_id", "text"), "text",
            minMargin = 2)
          .select("doc_id", "lang_pred", "top_votes", "second_votes",
            "margin", "confident")
          .orderBy("doc_id"),
      Some {
        val v = TextOps.Lexicons.map { case (lang, lex) =>
          lang ->
            s"len(list_filter(string_split_regex(lower(text), ' +'), t -> t IN ${inList(lex)}))"
        }.toMap
        s"""SELECT doc_id,
           |  CASE
           |    WHEN v_zh > greatest(v_de, v_en, v_es, v_fr) THEN 'zh'
           |    WHEN v_fr > greatest(v_de, v_en, v_es) THEN 'fr'
           |    WHEN v_es > greatest(v_de, v_en) THEN 'es'
           |    WHEN v_en > v_de THEN 'en'
           |    ELSE 'de' END AS lang_pred,
           |  CAST(sv[1] AS INTEGER) AS top_votes,
           |  CAST(sv[2] AS INTEGER) AS second_votes,
           |  CAST(sv[1] - sv[2] AS INTEGER) AS margin,
           |  sv[1] - sv[2] >= 2 AS confident
           |FROM (SELECT doc_id,
           |        ${v("de")} AS v_de, ${v("en")} AS v_en, ${v("es")} AS v_es,
           |        ${v("fr")} AS v_fr, ${v("zh")} AS v_zh,
           |        list_reverse_sort([${v("de")}, ${v("en")}, ${v("es")},
           |                           ${v("fr")}, ${v("zh")}]) AS sv
           |      FROM documents)
           |ORDER BY doc_id""".stripMargin
      },
      "language-ID confidence: top-two lexicon vote margin, review-bucket routing"),

    Q(
      "text_tokens_bpeish",
      (s, d) =>
        T(s, d, "documents")
          .select(col("doc_id"),
            size(TextOps.tokensBpeIsh(col("text"))).as("n_subword_tokens"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
             |                       t -> length(t) > 0)) AS INTEGER) AS n_subword_tokens
             |FROM documents ORDER BY doc_id""".stripMargin),
      "sub-word-ish token counting (regex split, empty-dropped)"),

    // True winnowing (sliding-window minima over positional k-gram
    // hashes). Gram hash = 16-char md5 prefix: fixed-length lowercase
    // hex, so lexicographic MIN == numeric min in both engines and the
    // full operator is oracle-checked; the native Fingerprint64 below is
    // the perf path, itself oracled via Hash64Oracle. The gate input is bounded to
    // doc_id < 2000 — a superset of the whole sf0.01 corpus the
    // correctness gate runs on, while keeping the per-position explode
    // (~1k rows/doc) from dominating suite bench time at larger SFs;
    // the operator itself has no such bound.
    Q(
      "text_winnow_fingerprint",
      (s, d) =>
        TextOps
          .winnowFingerprints(
            T(s, d, "documents").filter(col("doc_id") < 2000),
            "doc_id", "text", k = 8, w = 4)
          .orderBy("doc_id", "fp"),
      Some("""WITH g AS (
             |  SELECT doc_id, i, greatest(length(text) - 7, 1) AS ng,
             |    substr(md5(CASE WHEN length(text) < 8 THEN text
             |                    ELSE substr(text, i, 8) END), 1, 16) AS h
             |  FROM (SELECT doc_id, text,
             |          unnest(generate_series(1, greatest(length(text) - 7, 1))) AS i
             |        FROM documents WHERE doc_id < 2000)),
             |w AS (
             |  SELECT doc_id, i, ng,
             |    MIN(h) OVER (PARTITION BY doc_id ORDER BY i
             |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
             |  FROM g)
             |SELECT DISTINCT doc_id, wmin AS fp FROM w
             |WHERE i <= greatest(ng - 3, 1)
             |ORDER BY doc_id, fp""".stripMargin),
      "true winnowing fingerprint set (k=8 grams, window 4, md5-prefix hash)"),

    // The scan-only winnowing production path: WinnowSet computes the
    // full fingerprint set per row inside codegen — no explode, no
    // per-document window shuffle (the ~500x row inflation the
    // declarative text_winnow_fingerprint formulation pays). Same
    // window-min semantics; the set is emitted as a canonical sorted
    // comma-joined string and the oracle replays the engine's own hash
    // (Hash64Oracle), so the native path is gated bit-for-bit.
    Q(
      "text_winnow_native",
      (s, d) =>
        T(s, d, "documents")
          .select(col("doc_id"),
            array_join(
              TextHashFunctions.winnowSet(col("text"), k = 8, w = 4)
                .cast("array<string>"), ",").as("fps"))
          .orderBy("doc_id"),
      Some(Hash64Oracle.winnowSetSql(k = 8, w = 4)),
      "native one-pass winnowing fingerprint set (no explode, no shuffle)"),

    // Both native hash columns are oracle-checked bit-for-bit: the DuckDB
    // SQL replays FNV-1a + splitmix64 with HUGEINT modular arithmetic
    // (constants emitted from graft.expr.Hash64, see Hash64Oracle).
    Q(
      "text_fingerprint",
      (s, d) =>
        T(s, d, "documents")
          .select(
            col("doc_id"),
            TextHashFunctions.simhash64(TextOps.tokens(col("text")))
              .as("simhash"),
            TextHashFunctions.fingerprint64(col("text"), 8)
              .as("fingerprint"))
          .orderBy("doc_id"),
      Some(Hash64Oracle.fingerprintSql(k = 8)),
      "SimHash + winnowing fingerprint via native codegen expressions"),

    // The SQL registration surface itself, oracle-gated: the same native
    // expressions as text_fingerprint/text_winnow_native but invoked
    // through spark.sql(...) against the extension-injected functions
    // (GraftExtensions — Verify's session is built with the config), so
    // a SQL-path regression (builder arity, literal decoding, analyzer
    // resolution) fails a hash gate, not just a unit test.
    Q(
      "sql_native_surface",
      (s, d) => {
        T(s, d, "documents").createOrReplaceTempView("documents_sqlsurface")
        s.sql(
          """SELECT doc_id,
            |  simhash64(split(text, ' +')) AS simhash,
            |  fingerprint64(text, 8) AS fingerprint,
            |  array_join(CAST(winnow_set(text, 8, 4) AS ARRAY<STRING>), ',') AS fps
            |FROM documents_sqlsurface ORDER BY doc_id""".stripMargin)
      },
      Some(s"""SELECT f.doc_id, f.simhash, f.fingerprint, w.fps
              |FROM (${Hash64Oracle.fingerprintSql(k = 8)}) f
              |JOIN (${Hash64Oracle.winnowSetSql(k = 8, w = 4)}) w
              |  ON f.doc_id = w.doc_id
              |ORDER BY f.doc_id""".stripMargin),
      "native expressions through the injected SQL surface (hash-gated)"),

    // The training-data pipeline composed end to end: quality-score →
    // threshold filter → language filter → exact dedup (min-id survivor,
    // copies counted). One declarative plan — Catalyst fuses the scoring
    // projections into the scan and the dedup is the only shuffle.
    Q(
      "curate_corpus",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val scored = TextOps
          .qualityScore(T(s, d, "documents"), "text")
          .withColumn("lang_pred", TextOps.langId(col("text")))
        val filtered = scored.filter(
          col("n_tokens") >= 5 && col("alpha_ratio") >= 0.5 &&
            col("lang_pred") === "en")
        val w = Window.partitionBy("text").orderBy("doc_id")
        filtered
          .withColumn("_rn", row_number().over(w))
          .withColumn("n_copies",
            count(lit(1)).over(Window.partitionBy("text")))
          .filter(col("_rn") === 1)
          .select("doc_id", "lang_pred", "n_tokens", "alpha_ratio", "n_copies")
          .orderBy("doc_id")
      },
      Some {
        val v = TextOps.Lexicons.map { case (lang, lex) =>
          lang ->
            s"len(list_filter(string_split_regex(lower(text), ' +'), t -> t IN ${inList(lex)}))"
        }.toMap
        s"""WITH votes AS (
           |  SELECT doc_id, text,
           |    CAST(len(string_split_regex(text, ' +')) AS INTEGER) AS n_tokens,
           |    CAST(length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS DOUBLE)
           |      / greatest(length(text), 1) AS alpha_ratio,
           |    ${v("de")} AS v_de, ${v("en")} AS v_en, ${v("es")} AS v_es,
           |    ${v("fr")} AS v_fr, ${v("zh")} AS v_zh
           |  FROM documents),
           |scored AS (
           |  SELECT doc_id, text, n_tokens, alpha_ratio,
           |    CASE
           |      WHEN v_zh > greatest(v_de, v_en, v_es, v_fr) THEN 'zh'
           |      WHEN v_fr > greatest(v_de, v_en, v_es) THEN 'fr'
           |      WHEN v_es > greatest(v_de, v_en) THEN 'es'
           |      WHEN v_en > v_de THEN 'en'
           |      ELSE 'de' END AS lang_pred
           |  FROM votes),
           |filtered AS (
           |  SELECT * FROM scored
           |  WHERE n_tokens >= 5 AND alpha_ratio >= 0.5 AND lang_pred = 'en'),
           |dedup AS (
           |  SELECT doc_id, lang_pred, n_tokens, alpha_ratio,
           |    ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn,
           |    COUNT(*) OVER (PARTITION BY text) AS n_copies
           |  FROM filtered)
           |SELECT doc_id, lang_pred, n_tokens, alpha_ratio, n_copies
           |FROM dedup WHERE rn = 1 ORDER BY doc_id""".stripMargin
      },
      "end-to-end corpus curation: quality + language filters + exact dedup"),

    Q(
      "text_token_explode_topk",
      (s, d) =>
        T(s, d, "documents")
          .select(explode(TextOps.tokens(col("text"))).as("token"))
          .groupBy("token")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("token"))
          .limit(20),
      Some("""SELECT token, COUNT(*) AS n
             |FROM (SELECT unnest(string_split_regex(text, ' +')) AS token
             |      FROM documents)
             |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin),
      "corpus token frequency top-k (explode + aggregate + ordered limit)"),

    // Per-document top-k characteristic terms by tf/df ranking. The
    // score is raw term frequency over corpus document frequency —
    // tf-idf up to the constant corpus-size factor N, which cannot
    // change any per-document ranking, so the plan needs NO scalar
    // count subquery (a raw tf*idf(N) formulation would cross-join a
    // 1-row aggregate into every row). One (doc,token) count, one
    // token-keyed df rollup re-joined on token, one per-doc rank window
    // that Spark 4's WindowGroupLimit prunes to k map-side before the
    // shuffle — every stage keyed and linear. The score is a single
    // long→double division: bit-exact in any IEEE engine, no
    // transcendentals in the compare path.
    Q(
      "text_tfidf_topk",
      (s, d) =>
        TextOps.tfidfTopK(T(s, d, "documents"), "doc_id", "text", k = 5)
          .orderBy("doc_id", "rnk"),
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split_regex(text, ' +')) AS token
             |  FROM documents),
             |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
             |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
             |sc AS (
             |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
             |    CAST(tf.tf AS DOUBLE) / df.df AS score,
             |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
             |      ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tf.token) AS rnk
             |  FROM tf JOIN df USING (token))
             |SELECT doc_id, token, tf, df, score, rnk
             |FROM sc WHERE rnk <= 5 ORDER BY doc_id, rnk""".stripMargin),
      "per-doc top-5 characteristic terms by tf/df (rank-equivalent to " +
        "tf-idf), keyed joins only — no scalar subquery"),

    // Sparse TF-IDF cosine near-dup pairs
    // ([[TextOps.tfidfCosinePairs]]): idf = portable ln(N/df)
    // ([[graft.expr.PortableLnRatio]]), norms and dots as token-sorted
    // sequential folds, so every double is engine-portable. Scored over
    // the doc_id%5 subset — this synthetic corpus has a ~30-token
    // vocabulary, so EVERY doc pairs with every doc through hot tokens
    // and the inverted index is deliberately run on a sample (real
    // corpora get selectivity from the df cap; here the cap (450) is
    // declared but nothing in-sample exceeds it). The oracle replays
    // the ln stages and the exact fold order.
    Q(
      "text_tfidf_cosine",
      (s, d) =>
        TextOps.tfidfCosinePairs(
            T(s, d, "documents").filter(pmod(col("doc_id"), lit(5)) === 0),
            "doc_id", "text", maxDf = 450, minCosine = 0.8)
          .orderBy("a", "b"),
      Some(tfidfCosineOracle),
      "sparse TF-IDF cosine pairs: portable-ln idf, token-sorted pinned folds"),

    // The SAME query through the weighted prefix filter
    // ([[TextOps.tfidfCosinePairsPrefix]]): candidates from rare-first
    // suffix-bounded prefixes instead of the full inverted index —
    // Σ prefixCount·df join volume instead of Σ df². Lossless by
    // construction (exact verification on survivors), so it shares the
    // scan variant's oracle verbatim: two engines AND two candidate
    // strategies agreeing on every hash is the strongest equivalence
    // check the harness can express.
    Q(
      "text_tfidf_cosine_prefix",
      (s, d) =>
        TextOps.tfidfCosinePairsPrefix(
            T(s, d, "documents").filter(pmod(col("doc_id"), lit(5)) === 0),
            "doc_id", "text", maxDf = 450, minCosine = 0.8)
          .orderBy("a", "b"),
      Some(tfidfCosineOracle),
      "prefix-filtered TF-IDF cosine: Bayardo suffix bounds, identical output"),

    // RAKE keyphrases ([[TextOps.rakePhrases]]): top-3 stopword-free
    // runs per doc scored by Σ deg/freq over the run's words — the
    // model-free keyphrase extractor. Integer deg/freq, one division
    // per word, position-ordered phrase folds; islands via
    // pos − row_number on both engines.
    Q(
      "text_rake_phrases",
      (s, d) =>
        TextOps.rakePhrases(T(s, d, "documents"), "doc_id", "text",
            stopwords = Seq("a", "the"), k = 3)
          .orderBy("doc_id", "rnk"),
      Some("""WITH t AS (
             |  SELECT doc_id, string_split_regex(text, ' +') AS l
             |  FROM documents),
             |x AS (SELECT doc_id,
             |    unnest(list_transform(generate_series(1, len(l)),
             |      i -> {'pos': i, 'tok': l[i]})) AS s
             |  FROM t),
             |ns AS (SELECT doc_id, s.pos AS pos, s.tok AS tok,
             |    s.pos - row_number() OVER (PARTITION BY doc_id
             |      ORDER BY s.pos) AS isl
             |  FROM x WHERE s.tok NOT IN ('a', 'the')),
             |il AS (SELECT doc_id, isl, CAST(count(*) AS BIGINT) AS plen,
             |    string_agg(tok, ' ' ORDER BY pos) AS phrase
             |  FROM ns GROUP BY 1, 2),
             |ws AS (SELECT n.doc_id, n.tok,
             |    CAST(sum(il.plen) AS BIGINT) AS deg,
             |    CAST(count(*) AS BIGINT) AS freq
             |  FROM ns n JOIN il ON il.doc_id = n.doc_id AND il.isl = n.isl
             |  GROUP BY 1, 2),
             |sc AS (SELECT n.doc_id, n.isl,
             |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |        list(CAST(w.deg AS DOUBLE) / CAST(w.freq AS DOUBLE)
             |          ORDER BY n.pos)),
             |      (a, v) -> a + v) AS score
             |  FROM ns n JOIN ws w ON w.doc_id = n.doc_id AND w.tok = n.tok
             |  GROUP BY 1, 2),
             |r AS (SELECT il.doc_id, il.phrase, sc.score,
             |    row_number() OVER (PARTITION BY il.doc_id
             |      ORDER BY sc.score DESC, il.phrase) AS rnk
             |  FROM il JOIN sc ON sc.doc_id = il.doc_id AND sc.isl = il.isl)
             |SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, phrase, score
             |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin),
      "RAKE keyphrases: deg/freq word scores, position-ordered phrase folds"),

    // Bigram-coverage quality score — the language-model-proxy filter:
    // what fraction of a document's distinct word bigrams appear in the
    // corpus's top-200 bigram list? Low coverage flags gibberish,
    // boilerplate and wrong-language text without any model artifact
    // (the deterministic stand-in for CCNet's LM-perplexity bucket, same
    // plumbing). Two rollups build the reference list (rank ties broken
    // lexicographically); per-doc coverage is a broadcast semi-probe +
    // one integer-over-integer division — exact. At 100 TB the
    // reference list is tiny by construction (top-k), the probe is a
    // broadcast join, and the per-doc rollup is one keyed aggregate.
    Q(
      "text_bigram_coverage",
      (s, d) =>
        TextOps.bigramCoverage(T(s, d, "documents"), "doc_id", "text",
            topK = 200)
          .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, string_split_regex(text, ' +') AS t
             |  FROM documents),
             |bg AS (
             |  SELECT DISTINCT doc_id, bg FROM (
             |    SELECT doc_id,
             |      unnest(list_transform(generate_series(1, len(t) - 1),
             |                            i -> t[i] || ' ' || t[i+1])) AS bg
             |    FROM t WHERE len(t) >= 2)),
             |top AS (SELECT bg FROM (
             |  SELECT bg, count(*) AS n,
             |    ROW_NUMBER() OVER (ORDER BY count(*) DESC, bg) AS rnk
             |  FROM bg GROUP BY bg) WHERE rnk <= 200)
             |SELECT b.doc_id, count(*) AS n_bigrams,
             |  CAST(sum(CASE WHEN top.bg IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_common,
             |  CAST(sum(CASE WHEN top.bg IS NOT NULL THEN 1 ELSE 0 END)
             |    AS DOUBLE) / count(*) AS coverage
             |FROM bg b LEFT JOIN top ON b.bg = top.bg
             |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin),
      "bigram coverage vs corpus top-200: the model-free LM-perplexity " +
        "stand-in for quality filtering"),

    // Term co-occurrence counts over a capped vocabulary — the table
    // under PMI / word-embedding / topic work. The vocabulary cap is the
    // scale contract: restrict to the top-50 tokens by document
    // frequency (TakeOrderedAndProject + broadcast semi probe), so the
    // per-document pair explosion is ≤ C(50,2) however long the document
    // is, and the doc-keyed self-join stays linear in documents. Output
    // carries each token's doc frequency alongside the pair count (the
    // PMI numerator/denominators) as exact integers — the log itself is
    // left to the consumer (libm log is not cross-engine reproducible).
    Q(
      "text_cooccurrence",
      (s, d) => sharedCooccPairs(s, d).orderBy("tok_a", "tok_b"),
      Some("""WITH dt0 AS (
             |  SELECT DISTINCT doc_id,
             |    unnest(string_split_regex(text, ' +')) AS tok
             |  FROM documents),
             |vocab AS (SELECT tok FROM (
             |  SELECT tok, count(*) AS n FROM dt0 GROUP BY tok
             |  ORDER BY n DESC, tok LIMIT 50)),
             |dt AS (SELECT doc_id, tok FROM dt0
             |       WHERE tok IN (SELECT tok FROM vocab)),
             |df AS (SELECT tok, count(*) AS df FROM dt GROUP BY tok),
             |pairs AS (
             |  SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS n_pair
             |  FROM dt a JOIN dt b
             |    ON a.doc_id = b.doc_id AND a.tok < b.tok
             |  GROUP BY 1, 2)
             |SELECT tok_a, tok_b, n_pair, fa.df AS df_a, fb.df AS df_b
             |FROM pairs
             |JOIN df fa ON pairs.tok_a = fa.tok
             |JOIN df fb ON pairs.tok_b = fb.tok
             |ORDER BY tok_a, tok_b""".stripMargin),
      "doc-level term co-occurrence + doc frequencies over a top-50 " +
        "vocabulary: the exact-integer PMI table, pair work capped by " +
        "the vocabulary"),

    // Top-k collocations by pointwise mutual information
    // ([[TextOps.pmiTopK]]): PMI = portable ln(N·c_ab / (df_a·df_b))
    // over the co-occurrence gate's exact-integer table — the log that
    // gate's doc deferred "to the consumer" now has an engine-portable
    // consumer ([[graft.expr.PortableLnRatio]]). A pair-count floor
    // keeps singleton-pair noise out of the top-k; total tie order
    // (pmi desc, tokens) pins the boundary.
    Q(
      "text_pmi_topk",
      (s, d) =>
        // reads the SHARED pair table ([[sharedCooccPairs]]) — same
        // corpus and vocabK as the counts/TextRank gates
        TextOps.pmiTopKFromPairs(sharedCooccPairs(s, d),
          T(s, d, "documents").select(col("doc_id")).distinct()
            .agg(count(lit(1)).as("n_docs")),
          minPair = 3L, k = 30),
      Some {
        import graft.expr.PortableLnRatio.sqlStages
        s"""WITH dt0 AS (
           |  SELECT DISTINCT doc_id,
           |    unnest(string_split_regex(text, ' +')) AS tok
           |  FROM documents),
           |vocab AS (SELECT tok FROM (
           |  SELECT tok, count(*) AS n FROM dt0 GROUP BY tok
           |  ORDER BY n DESC, tok LIMIT 50)),
           |dt AS (SELECT doc_id, tok FROM dt0
           |       WHERE tok IN (SELECT tok FROM vocab)),
           |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
           |  FROM dt GROUP BY tok),
           |nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
           |  FROM documents),
           |pairs AS (
           |  SELECT a.tok AS tok_a, b.tok AS tok_b,
           |    CAST(count(*) AS BIGINT) AS n_pair
           |  FROM dt a JOIN dt b
           |    ON a.doc_id = b.doc_id AND a.tok < b.tok
           |  GROUP BY 1, 2 HAVING count(*) >= 3),
           |pj AS (SELECT tok_a, tok_b, n_pair, fa.df AS df_a, fb.df AS df_b,
           |    nd.n_docs * n_pair AS num, fa.df * fb.df AS den
           |  FROM pairs
           |  JOIN dfq fa ON pairs.tok_a = fa.tok
           |  JOIN dfq fb ON pairs.tok_b = fb.tok, nd),
           |${sqlStages("px", "pj", "num", "den",
              Seq("tok_a", "tok_b", "n_pair", "df_a", "df_b"))}
           |SELECT tok_a, tok_b, n_pair, df_a, df_b, pln AS pmi
           |FROM pxln
           |ORDER BY pmi DESC, tok_a ASC, tok_b ASC
           |LIMIT 30""".stripMargin
      },
      "top-30 PMI collocations: portable-ln over the exact co-occurrence table"),

    // TextRank keyword centrality ([[TextOps.textrankKeywords]]):
    // weighted integer PageRank over the same capped co-occurrence
    // graph — the third consumer of the exact-integer pair table
    // (counts → PMI → centrality), riding the graph tier's
    // fixed-point machinery. The oracle rebuilds the graph, assigns
    // the same ORDER BY tok dense ids, and unrolls three weighted
    // iterations like graph_pagerank_weighted.
    Q(
      "text_textrank",
      (s, d) =>
        // reads the SHARED pair table ([[sharedCooccPairs]])
        TextOps.textrankKeywordsFromPairs(sharedCooccPairs(s, d), iters = 3)
          .orderBy("tok"),
      Some {
        val unit = 1000000L
        val base = unit * 15 / 100
        val iterCtes = (1 to 3).map { i =>
          s"""c$i AS (SELECT e.dst AS id, SUM((r.r * e.w) // d.wout) AS c
             |  FROM edges e JOIN r${i - 1} r ON r.id = e.src
             |  JOIN wout d ON d.src = e.src GROUP BY e.dst),
             |r$i AS (SELECT n.id, $base + (85 * COALESCE(c.c, 0)) // 100 AS r
             |  FROM nodes n LEFT JOIN c$i c ON c.id = n.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH dt0 AS (
           |  SELECT DISTINCT doc_id,
           |    unnest(string_split_regex(text, ' +')) AS tok
           |  FROM documents),
           |vocab AS (SELECT tok FROM (
           |  SELECT tok, count(*) AS n FROM dt0 GROUP BY tok
           |  ORDER BY n DESC, tok LIMIT 50)),
           |dt AS (SELECT doc_id, tok FROM dt0
           |       WHERE tok IN (SELECT tok FROM vocab)),
           |pairs AS (
           |  SELECT a.tok AS tok_a, b.tok AS tok_b,
           |    CAST(count(*) AS BIGINT) AS n_pair
           |  FROM dt a JOIN dt b
           |    ON a.doc_id = b.doc_id AND a.tok < b.tok
           |  GROUP BY 1, 2),
           |toks AS (SELECT tok_a AS tok FROM pairs
           |         UNION SELECT tok_b FROM pairs),
           |ids AS (SELECT tok,
           |    CAST(row_number() OVER (ORDER BY tok) AS BIGINT) AS nid
           |  FROM toks),
           |edges AS (
           |  SELECT ia.nid AS src, ib.nid AS dst, n_pair AS w
           |  FROM pairs JOIN ids ia ON ia.tok = pairs.tok_a
           |    JOIN ids ib ON ib.tok = pairs.tok_b
           |  UNION ALL
           |  SELECT ib.nid, ia.nid, n_pair
           |  FROM pairs JOIN ids ia ON ia.tok = pairs.tok_a
           |    JOIN ids ib ON ib.tok = pairs.tok_b),
           |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
           |wout AS (SELECT src, SUM(w) AS wout FROM edges GROUP BY src),
           |r0 AS (SELECT id, CAST($unit AS BIGINT) AS r FROM nodes),
           |$iterCtes
           |SELECT ids.tok, CAST(r.r AS BIGINT) AS rank_units
           |FROM r3 r JOIN ids ON ids.nid = r.id
           |ORDER BY ids.tok""".stripMargin
      },
      "TextRank keywords: weighted integer PageRank over the capped co-occurrence graph"),

    // Inverted index build: token → document frequency + ordered postings
    // list — the retrieval primitive under BM25/ANN hybrid search. One
    // (doc, token) distinct, one token-keyed rollup; postings serialize
    // as zero-padded ids so lexicographic sort == numeric sort in BOTH
    // engines and in the driver's string hasher (arrays hash
    // engine-specifically; the fixed-width join is the cross-engine
    // canonical form). At 100 TB postings for stop-tokens are the skew
    // risk — df rides along so a consumer caps or shards them; state
    // per token is its postings, never the corpus.
    Q(
      "text_inverted_index",
      (s, d) =>
        T(s, d, "documents")
          .select(col("doc_id"),
            explode(TextOps.tokens(col("text"))).as("token"))
          .distinct()
          .groupBy("token")
          .agg(count(lit(1)).as("df"),
            array_join(array_sort(
              collect_set(lpad(col("doc_id").cast("string"), 8, "0"))), ",")
              .as("postings"))
          .orderBy("token"),
      Some("""WITH dt AS (
             |  SELECT DISTINCT doc_id,
             |    unnest(string_split_regex(text, ' +')) AS token
             |  FROM documents)
             |SELECT token, count(*) AS df,
             |  string_agg(lpad(CAST(doc_id AS VARCHAR), 8, '0'), ','
             |             ORDER BY lpad(CAST(doc_id AS VARCHAR), 8, '0'))
             |    AS postings
             |FROM dt GROUP BY token ORDER BY token""".stripMargin),
      "inverted index: token -> df + ordered postings (retrieval primitive)"),

    // Gopher-style repetition filters: duplicate-3-gram fraction and the
    // most-frequent-gram share per document. DuckDB's SUM over BIGINT
    // yields HUGEINT, so the oracle casts the total back to BIGINT.
    Q(
      "text_repetition",
      (s, d) =>
        TextOps
          .repetitionStats(T(s, d, "documents"), "doc_id", "text", k = 3)
          .orderBy("doc_id"),
      Some("""WITH g AS (
             |  SELECT doc_id, unnest(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
             |    ELSE list_transform(generate_series(1, len(t)-2),
             |                        i -> array_to_string(t[i:i+2], ' ')) END) AS shingle
             |  FROM (SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents)),
             |pc AS (SELECT doc_id, shingle, count(*) AS cnt FROM g GROUP BY 1, 2)
             |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
             |  COUNT(*) AS n_distinct,
             |  1.0 - COUNT(*) / (SUM(cnt) * 1.0) AS dup_gram_frac,
             |  MAX(cnt) / (SUM(cnt) * 1.0) AS top_gram_frac
             |FROM pc GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      "intra-doc repetition: dup-3-gram fraction + top-gram share (quality filter)"),

    // BPE tokenizer induction, 5 merge rounds ([[TextOps.bpeMerges]]):
    // corpus-wide adjacent-pair counts → lexicographic-tiebreak argmax →
    // fuse the winning pair everywhere, and the FUSED token competes in
    // later rounds. The oracle unrolls the same 5 rounds as MATERIALIZED
    // CTEs (each round reads its predecessor twice — default inlining
    // would double the tree per round); the merge choice is a scalar
    // subquery instead of the engine's 1-row broadcast, same argmax.
    Q(
      "text_bpe_merges",
      (s, d) =>
        TextOps.bpeMerges(T(s, d, "documents"), "text", steps = 5)
          .orderBy("step"),
      Some {
        val steps = 5
        val rounds = (1 to steps).map { i =>
          s"""p$i AS MATERIALIZED (
             |  SELECT pair, count(*) AS cnt FROM (
             |    SELECT unnest(list_transform(generate_series(1, len(k) - 1),
             |        j -> k[j] || ' ' || k[j + 1])) AS pair
             |    FROM (SELECT string_split(trim(t), ' ') AS k FROM t${i - 1})
             |    WHERE len(k) >= 2)
             |  GROUP BY pair),
             |m$i AS MATERIALIZED (
             |  SELECT pair, replace(pair, ' ', '+') AS merged, cnt
             |  FROM p$i ORDER BY cnt DESC, pair ASC LIMIT 1),
             |t$i AS MATERIALIZED (
             |  SELECT replace(t, ' ' || (SELECT pair FROM m$i) || ' ',
             |                 ' ' || (SELECT merged FROM m$i) || ' ') AS t
             |  FROM t${i - 1})""".stripMargin
        }.mkString(",\n")
        val out = (1 to steps)
          .map(i => s"SELECT $i AS step, pair, merged, cnt FROM m$i")
          .mkString("\nUNION ALL\n")
        s"""WITH t0 AS MATERIALIZED (
           |  SELECT ' ' || array_to_string(
           |      string_split_regex(trim(text), ' +'), ' ') || ' ' AS t
           |  FROM documents),
           |$rounds
           |$out
           |ORDER BY step""".stripMargin
      },
      "BPE merge induction: 5 corpus-wide pair-fusion rounds, fused tokens compete on"),

    // BPE ENCODE — apply the induced merge table to tokenize every
    // document ([[TextOps.bpeEncode]]): the per-ingest operation, vs
    // induction which runs once. One scan; the table rides with the
    // scan-native [[graft.expr.BpeApply]] expression and each row loops
    // over the merges in table order with the induction's exact
    // leftmost-nonoverlapping rewrite. The oracle replays the SAME
    // 5-round induction cascade with doc_id carried through, so its t5
    // IS the encoded corpus — encode∘induce ≡ induction's final state.
    Q(
      "text_bpe_encode",
      (s, d) =>
        TextOps.bpeEncode(T(s, d, "documents"), "doc_id", "text",
            sharedMerges(s, d))
          .orderBy("doc_id"),
      Some {
        s"""WITH ${bpeCascadeCtes(5)}
           |SELECT doc_id, trim(t) AS enc,
           |  CAST(CASE WHEN trim(t) = '' THEN 0
           |       ELSE len(string_split(trim(t), ' ')) END AS BIGINT)
           |    AS n_tokens
           |FROM t5 ORDER BY doc_id""".stripMargin
      },
      "BPE encode: apply the 5 induced merges to tokenize every document, one scan"),

    // Tokenize to INTEGER IDS ([[TextOps.bpeEncodeIds]]): encode with
    // the induced merges, rank the resulting vocabulary by (count desc,
    // token asc) — via the range-staged global rank, never a
    // single-partition window — and emit per-doc id arrays in position
    // order. The oracle extends the encode cascade with the same
    // frequency ranking and an ordered list() reassembly.
    Q(
      "text_bpe_ids",
      (s, d) =>
        TextOps.bpeEncodeIds(T(s, d, "documents"), "doc_id", "text",
            sharedMerges(s, d))
          // ids cross the gate stringified (repo-wide array-output
          // convention); downstream consumers use the array form
          .withColumn("ids", array_join(col("ids").cast("array<string>"), ","))
          .orderBy("doc_id"),
      Some {
        s"""WITH ${bpeCascadeCtes(5)},
           |tok AS (
           |  SELECT doc_id, i, toks[i] AS tok FROM (
           |    SELECT doc_id, string_split(trim(t), ' ') AS toks FROM t5),
           |    unnest(generate_series(1, len(toks))) AS u(i)
           |  WHERE toks[i] <> ''),
           |v0 AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
           |vocab AS (SELECT tok,
           |    ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC) - 1 AS vid
           |  FROM v0)
           |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           |  array_to_string(list(v.vid ORDER BY t.i), ',') AS ids
           |FROM tok t JOIN vocab v USING (tok)
           |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin
      },
      "BPE token-id encoding: frequency-ranked vocabulary ids per document, in order"),

    // Tokenizer FERTILITY per language: tokens-per-character of the
    // induced BPE by lang — the tokenizer-bias report (a tokenizer
    // trained on English fragments other scripts into more tokens,
    // inflating their effective sequence length and training cost).
    // Reads the STAGED merge table; one encode scan + one lang rollup,
    // integer sums + a single division.
    Q(
      "text_bpe_fertility",
      (s, d) =>
        TextOps.bpeEncode(T(s, d, "documents"), "doc_id", "text",
            sharedMerges(s, d))
          .join(T(s, d, "documents").select(col("doc_id"), col("lang"),
            length(col("text")).cast("long").as("_chars")), Seq("doc_id"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tokens").cast("long").as("n_tokens"),
            sum("_chars").cast("long").as("n_chars"))
          .withColumn("fertility",
            col("n_tokens").cast("double") / col("n_chars"))
          .orderBy("lang"),
      Some {
        s"""WITH ${bpeCascadeCtes(5)},
           |e AS (SELECT doc_id,
           |    CAST(CASE WHEN trim(t) = '' THEN 0
           |         ELSE len(string_split(trim(t), ' ')) END AS BIGINT)
           |      AS n_tokens
           |  FROM t5)
           |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(e.n_tokens) AS BIGINT) AS n_tokens,
           |  CAST(sum(length(d.text)) AS BIGINT) AS n_chars,
           |  CAST(sum(e.n_tokens) AS DOUBLE) /
           |    CAST(sum(length(d.text)) AS BIGINT) AS fertility
           |FROM e JOIN documents d USING (doc_id)
           |GROUP BY d.lang ORDER BY d.lang""".stripMargin
      },
      "BPE fertility per language: tokens-per-char of the induced tokenizer, the bias report"),

    // Vocabulary-growth (Heaps'-law) curve ([[TextOps.vocabGrowth]]):
    // vocab size + token mass at every 50-doc prefix from ONE pass —
    // new types land at their first-occurrence doc, so min(doc) per
    // token bucketed by checkpoint IS the curve; the prefix sum runs
    // over the checkpoint-sized frame, never the corpus.
    Q(
      "text_vocab_growth",
      (s, d) =>
        TextOps.vocabGrowth(T(s, d, "documents"), "doc_id", "text",
            bucketWidth = 50L)
          .orderBy("checkpoint"),
      Some("""WITH tk AS (SELECT doc_id,
             |    unnest(string_split_regex(text, ' +')) AS tok
             |  FROM documents),
             |ft AS (SELECT tok, min(doc_id) AS f FROM tk GROUP BY tok),
             |nt AS (SELECT f // 50 AS checkpoint,
             |    CAST(count(*) AS BIGINT) AS new_types
             |  FROM ft GROUP BY 1),
             |tc AS (SELECT doc_id // 50 AS checkpoint,
             |    CAST(count(*) AS BIGINT) AS n_tokens
             |  FROM tk GROUP BY 1)
             |SELECT t.checkpoint,
             |  coalesce(n.new_types, 0) AS new_types, t.n_tokens,
             |  CAST(SUM(coalesce(n.new_types, 0)) OVER w AS BIGINT)
             |    AS cum_types,
             |  CAST(SUM(t.n_tokens) OVER w AS BIGINT) AS cum_tokens
             |FROM tc t LEFT JOIN nt n USING (checkpoint)
             |WINDOW w AS (ORDER BY t.checkpoint
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |ORDER BY t.checkpoint""".stripMargin),
      "Heaps'-law vocabulary growth curve: per-prefix new types + token mass, one pass"),

    // The hashing trick (feature hashing): every token maps to one of 256
    // fixed buckets by hash — the fixed-width featurizer that needs NO
    // vocabulary pass, no dictionary state, and is mergeable across any
    // corpus split (Weinberger et al. 2009). Bucket = first md5 byte as
    // hex, so the oracle replays it with the same built-in; counts are a
    // plain keyed rollup. Sparse output: only occupied (doc, bucket)
    // cells exist.
    Q(
      "text_feature_hashing",
      (s, d) =>
        T(s, d, "documents")
          .select(col("doc_id"),
            explode(split(col("text"), " +")).as("tok"))
          .select(col("doc_id"), substring(md5(col("tok")), 1, 2).as("bucket"))
          .groupBy("doc_id", "bucket")
          .agg(count(lit(1)).as("cnt"))
          .orderBy("doc_id", "bucket"),
      Some("""SELECT doc_id, substr(md5(tok), 1, 2) AS bucket,
             |  count(*) AS cnt
             |FROM (SELECT doc_id,
             |        unnest(string_split_regex(text, ' +')) AS tok
             |      FROM documents)
             |GROUP BY 1, 2
             |ORDER BY doc_id, bucket""".stripMargin),
      "hashing-trick featurizer: 256 hash buckets, vocabulary-free, split-mergeable"),

    // Hashed linear quality classifier ([[TextOps.qualityClassifier]]):
    // the feature-hashing buckets composed with a pinned integer weight
    // table into per-doc inference — score = Σ token weights (exact
    // integers), rate = one IEEE division, keep = rate >= 0. The oracle
    // replays the md5 bucket, the instr-based hex decode, the weight
    // arithmetic, and the rollup verbatim.
    Q(
      "text_quality_classifier",
      (s, d) =>
        TextOps.qualityClassifier(T(s, d, "documents"), "doc_id", "text")
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(count(*) AS BIGINT) AS n_tokens,
             |  CAST(sum(w) AS BIGINT) AS score,
             |  CAST(sum(w) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS score_rate,
             |  (CAST(sum(w) AS DOUBLE) / CAST(count(*) AS DOUBLE)) >= 0.0 AS keep
             |FROM (
             |  SELECT doc_id,
             |    ((instr('0123456789abcdef', substr(b, 1, 1)) * 16 +
             |      instr('0123456789abcdef', substr(b, 2, 1)) - 17)
             |     * 37 + 11) % 17 - 8 AS w
             |  FROM (SELECT doc_id, substr(md5(tok), 1, 2) AS b
             |        FROM (SELECT doc_id,
             |                unnest(string_split_regex(trim(text), ' +')) AS tok
             |              FROM documents)))
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      "hashed linear classifier inference: pinned integer weights over md5 buckets"),

    // Gopher rule battery ([[TextOps.gopherRules]]): the canonical
    // rule-based document filter — word-count and mean-word-length
    // bands, alphabetic-word fraction, distinct-stopword floor,
    // symbol-ratio cap — all decided on exact integer comparisons so
    // the verdicts hash-gate. The oracle replays the explode + rollup
    // + cross-multiplied rules verbatim.
    Q(
      "text_gopher_rules",
      (s, d) =>
        TextOps.gopherRules(T(s, d, "documents"), "doc_id", "text")
          .orderBy("doc_id"),
      Some {
        val stop = inList(TextOps.Stopwords)
        s"""SELECT doc_id,
           |  CAST(count(*) AS BIGINT) AS n_words,
           |  CAST(sum(length(tok)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
           |    AS mean_word_len,
           |  count(*) BETWEEN 50 AND 100000 AS r_wordcount,
           |  sum(length(tok)) >= 3 * count(*) AND
           |    sum(length(tok)) <= 10 * count(*) AS r_meanlen,
           |  5 * sum(CASE WHEN regexp_matches(tok, '[a-zA-Z]')
           |              THEN 1 ELSE 0 END) >= 4 * count(*) AS r_alpha,
           |  count(DISTINCT CASE WHEN tok IN $stop THEN tok END) >= 2
           |    AS r_stop,
           |  10 * sum(CASE WHEN regexp_matches(tok, '#|\\.\\.\\.')
           |              THEN 1 ELSE 0 END) < count(*) AS r_symbol,
           |  (count(*) BETWEEN 50 AND 100000) AND
           |  (sum(length(tok)) >= 3 * count(*) AND
           |     sum(length(tok)) <= 10 * count(*)) AND
           |  (5 * sum(CASE WHEN regexp_matches(tok, '[a-zA-Z]')
           |              THEN 1 ELSE 0 END) >= 4 * count(*)) AND
           |  (count(DISTINCT CASE WHEN tok IN $stop THEN tok END) >= 2) AND
           |  (10 * sum(CASE WHEN regexp_matches(tok, '#|\\.\\.\\.')
           |              THEN 1 ELSE 0 END) < count(*)) AS keep
           |FROM (SELECT doc_id,
           |        unnest(string_split_regex(trim(text), ' +')) AS tok
           |      FROM documents)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin
      },
      "Gopher rule battery: five exact-integer document-quality rules + composed keep"),

    // Readability scoring (Flesch reading-ease with a vowel-group
    // syllable proxy — the standard dictionary-free approximation):
    // words, syllables and sentences are exact integer counts (regex
    // `[aeiou]+` group count, `[.!?]+` sentence split, both with
    // identical semantics in Java regex and RE2), and the score is a
    // fixed three-term IEEE chain over those integers. The classic
    // text-quality signal beside length/stopword ratios; sentence count
    // floors at 1 so unpunctuated corpora degrade gracefully.
    Q(
      "text_readability",
      (s, d) =>
        T(s, d, "documents")
          .select(col("doc_id"),
            size(split(trim(col("text")), " +")).cast("long").as("words"),
            size(regexp_extract_all(col("text"), lit("[aeiou]+"), lit(0)))
              .cast("long").as("syllables"),
            greatest(lit(1L),
              size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
                .cast("long")).as("sentences"))
          .withColumn("flesch",
            lit(206.835) -
              lit(1.015) * (col("words").cast("double") /
                col("sentences").cast("double")) -
              lit(84.6) * (col("syllables").cast("double") /
                col("words").cast("double")))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT)
             |    AS words,
             |  CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT)
             |    AS syllables,
             |  CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
             |       AS BIGINT) AS sentences,
             |  206.835 -
             |  1.015 * (CAST(len(string_split_regex(trim(text), ' +')) AS DOUBLE) /
             |           CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
             |                AS DOUBLE)) -
             |  84.6 * (CAST(len(regexp_extract_all(text, '[aeiou]+')) AS DOUBLE) /
             |          CAST(len(string_split_regex(trim(text), ' +')) AS DOUBLE))
             |    AS flesch
             |FROM documents ORDER BY doc_id""".stripMargin),
      "Flesch reading-ease with vowel-group syllables: exact counts, fixed IEEE score"),

    // Token-rarity profile: document frequency per token, per-doc rare
    // mass. All-integer (counts + sums of counts) so the gate
    // hash-matches bit-identically; ratios/logs are consumer-side (the
    // DSIR/HLL precedent).
    Q(
      "text_rarity_score",
      (s, d) =>
        TextOps
          .rarityScore(T(s, d, "documents"), "doc_id", "text", rareDfMax = 2)
          .orderBy("doc_id"),
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split_regex(text, ' +')) AS tok
             |  FROM documents),
             |vocab AS (
             |  SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok)
             |SELECT doc_id,
             |  CAST(count(*) AS BIGINT) AS n_tokens,
             |  CAST(sum(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
             |  CAST(sum(df) AS BIGINT) AS df_sum
             |FROM toks JOIN vocab USING (tok)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      "token-rarity profile: per-doc token count, rare-token mass (df<=2), " +
        "summed document frequency — all integer")
  ,

    // Bigram-LM surprise (the CCNet perplexity-filter idea) in exact
    // integers: model = bigram counts of the doc_id%10=0 reference
    // slice; each scored bigram contributes floor(log2 c(w1·)/c(w1 w2))
    // via the bit-length identity — no libm log crosses the gate.
    Q(
      "text_lm_surprise",
      (s, d) =>
        TextOps
          .lmSurprise(T(s, d, "documents"), "doc_id", "text",
            refPred = col("doc_id") % 10 === 0)
          .orderBy("doc_id"),
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split_regex(text, ' +') AS t
             |  FROM documents),
             |big0 AS (
             |  SELECT doc_id, unnest(list_transform(
             |      generate_series(1, len(t) - 1),
             |      i -> {'w1': t[i], 'gram': t[i] || ' ' || t[i+1]})) AS bg
             |  FROM toks WHERE len(t) >= 2),
             |occ AS (SELECT doc_id, bg.w1 AS w1, bg.gram AS gram FROM big0),
             |model AS (
             |  SELECT gram, count(*) AS cb FROM occ
             |  WHERE doc_id % 10 = 0 GROUP BY gram),
             |ctx AS (
             |  SELECT string_split(gram, ' ')[1] AS w1,
             |    CAST(sum(cb) AS BIGINT) AS cu
             |  FROM model GROUP BY 1)
             |SELECT occ.doc_id,
             |  CAST(count(*) AS BIGINT) AS n_bigrams,
             |  CAST(sum(CASE WHEN cb IS NULL OR cu IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_oov,
             |  CAST(sum(CASE WHEN cb IS NOT NULL AND cu IS NOT NULL
             |        THEN length(bin(cu // cb)) - 1 ELSE 0 END)
             |    AS BIGINT) AS surprise_sum,
             |  CAST(coalesce(max(CASE WHEN cb IS NOT NULL AND cu IS NOT NULL
             |        THEN length(bin(cu // cb)) - 1 END), -1)
             |    AS BIGINT) AS surprise_max
             |FROM occ LEFT JOIN model USING (gram) LEFT JOIN ctx USING (w1)
             |GROUP BY occ.doc_id ORDER BY occ.doc_id""".stripMargin),
      "bigram-LM surprise profile (CCNet-style perplexity proxy): integer " +
        "floor-log2 buckets vs the doc_id%10 reference slice"),

    // Unicode hygiene ([[TextOps.unicodeClean]]): NFC via the native
    // codegen expression (no Spark builtin exists; a UDF would break
    // whole-stage codegen), control strip, whitespace collapse, plus
    // mojibake counters. The corpus is ASCII, so the gate AUGMENTS it
    // with deterministic per-doc unicode suffixes (combining marks,
    // control chars, U+FFFD) that both engines construct identically —
    // the NFC path is exercised for real, not vacuously.
    Q(
      "text_unicode_clean",
      (s, d) => {
        val aug = T(s, d, "documents").select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 4 === 0,
                lit(" cafe\u0301 nai\u0308ve"))
              .when(col("doc_id") % 4 === 1, lit(" bad\u0007ctl\u001Fx"))
              .when(col("doc_id") % 4 === 2,
                lit(" mojibake \uFFFD\uFFFD end"))
              .otherwise(lit("  double  spaced\ttail "))).as("text"))
        TextOps.unicodeClean(aug, "doc_id", "text").orderBy("doc_id")
      },
      Some("""WITH aug AS (
             |  SELECT doc_id, text ||
             |    CASE doc_id % 4
             |      WHEN 0 THEN ' cafe' || chr(769) || ' nai' || chr(776) || 've'
             |      WHEN 1 THEN ' bad' || chr(7) || 'ctl' || chr(31) || 'x'
             |      WHEN 2 THEN ' mojibake ' || chr(65533) || chr(65533) || ' end'
             |      ELSE '  double  spaced' || chr(9) || 'tail '
             |    END AS text
             |  FROM documents),
             |n AS (SELECT doc_id, nfc_normalize(text) AS nf, text AS orig
             |      FROM aug),
             |c AS (SELECT doc_id, nf, orig,
             |        regexp_replace(nf, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]',
             |                       '', 'g') AS nc
             |      FROM n)
             |SELECT doc_id,
             |  trim(regexp_replace(nc, '\s+', ' ', 'g')) AS clean_text,
             |  CAST(length(trim(regexp_replace(nc, '\s+', ' ', 'g')))
             |    AS BIGINT) AS clean_len,
             |  CAST(length(nf) - length(nc) AS BIGINT) AS n_ctrl,
             |  CAST(length(nf) - length(replace(nf, chr(65533), ''))
             |    AS BIGINT) AS n_repl,
             |  CAST(CASE WHEN nf = orig THEN 0 ELSE 1 END AS BIGINT)
             |    AS nfc_changed
             |FROM c ORDER BY doc_id""".stripMargin),
      "unicode hygiene: native NFC + control strip + whitespace collapse, " +
        "mojibake counters — augmented corpus exercises composition for real"),

    // Zipf slope of the vocabulary ([[TextOps.zipfSlope]]): ln freq vs
    // ln rank regression over the top-1000 tokens — the corpus-health
    // probe (natural text ≈ −1). Logs are the portable explicit-
    // algorithm ln ([[graft.expr.PortableLnRatio]]) on exact integers;
    // moments fold in rank order; both engines share every bit.
    Q(
      "text_zipf_slope",
      (s, d) =>
        TextOps.zipfSlope(T(s, d, "documents"), "text", k = 1000)
          .orderBy("k"),
      Some {
        import graft.expr.PortableLnRatio.sqlStages
        s"""WITH tok AS (
           |  SELECT unnest(string_split_regex(trim(text), ' +')) AS tok
           |  FROM documents),
           |f AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq
           |      FROM tok GROUP BY 1),
           |topk AS (SELECT tok, freq FROM f
           |         ORDER BY freq DESC, tok LIMIT 1000),
           |rk AS (SELECT freq,
           |    CAST(row_number() OVER (ORDER BY freq DESC, tok) AS BIGINT)
           |      AS rank
           |  FROM topk),
           |${sqlStages("zr", "rk", "rank", "1", Seq("rank"))},
           |${sqlStages("zf", "rk", "freq", "1", Seq("rank"))},
           |xy AS (SELECT a.rank, a.pln AS x, b.pln AS y
           |       FROM zrln a JOIN zfln b USING (rank)),
           |m AS (SELECT CAST(count(*) AS BIGINT) AS k,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |      list(x ORDER BY rank)), (acc, v) -> acc + v) AS sx,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |      list(y ORDER BY rank)), (acc, v) -> acc + v) AS sy,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |      list(x * y ORDER BY rank)), (acc, v) -> acc + v) AS sxy,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |      list(x * x ORDER BY rank)), (acc, v) -> acc + v) AS sxx
           |  FROM xy),
           |sl AS (SELECT k, sx, sy,
           |    (CAST(k AS DOUBLE) * sxy - sx * sy) /
           |      (CAST(k AS DOUBLE) * sxx - sx * sx) AS slope
           |  FROM m)
           |SELECT k, slope,
           |  (sy - slope * sx) / CAST(k AS DOUBLE) AS intercept
           |FROM sl ORDER BY k""".stripMargin
      },
      "Zipf slope of the top-1000 vocabulary: portable-ln regression, rank-ordered folds"),

    // Pairwise JS divergence between per-SOURCE token distributions
    // ([[TextOps.tokenDivergenceMatrix]]): the corpus-composition drift
    // matrix — which sources write like each other, which went
    // off-distribution. Unlike the value-domain [[graft.ops.StatOps.jsDivergence]]
    // (ordered collected fold), each shared-token term is quantized to
    // integer nanats (floor(unit·p·ln(2p/(p+q)))), making the per-pair
    // sum ORDER-FREE at vocabulary scale; exclusive mass contributes one
    // p·ln2 term per pair off the same rollup. The oracle replays the
    // portable ln and the exact floor/multiply order for both chains.
    Q(
      "text_source_divergence",
      (s, d) =>
        TextOps.tokenDivergenceMatrix(T(s, d, "documents"), "source", "text")
          .orderBy("sa", "sb"),
      Some {
        import graft.expr.PortableLnRatio.{sqlStages, Ln2}
        s"""WITH tk0 AS (
           |  SELECT source AS s,
           |    unnest(string_split_regex(trim(text), ' +')) AS tok
           |  FROM documents),
           |tk AS (SELECT s, tok, CAST(count(*) AS BIGINT) AS c
           |  FROM tk0 WHERE tok <> '' GROUP BY 1, 2),
           |tt AS (SELECT s, CAST(sum(c) AS BIGINT) AS n FROM tk GROUP BY 1),
           |j AS (SELECT a.s AS sa, b.s AS sb, a.c AS ca, b.c AS cb,
           |    ta.n AS na, tb.n AS nb
           |  FROM tk a JOIN tk b ON b.tok = a.tok AND a.s < b.s
           |  JOIN tt ta ON ta.s = a.s JOIN tt tb ON tb.s = b.s),
           |pp AS (SELECT sa, sb, ca, na,
           |    2 * ca * nb AS num, ca * nb + cb * na AS den FROM j),
           |${sqlStages("tsp", "pp", "num", "den", Seq("sa", "sb", "ca", "na"))},
           |p2 AS (SELECT sa, sb, na, ca,
           |    CAST(floor(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) * pln *
           |      1000000000.0) AS BIGINT) AS tp
           |  FROM tspln),
           |qq AS (SELECT sa, sb, cb, nb,
           |    2 * cb * na AS num, cb * na + ca * nb AS den FROM j),
           |${sqlStages("tsq", "qq", "num", "den", Seq("sa", "sb", "cb", "nb"))},
           |q2 AS (SELECT sa, sb, nb, cb,
           |    CAST(floor(CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE) * pln *
           |      1000000000.0) AS BIGINT) AS tq
           |  FROM tsqln),
           |pa AS (SELECT sa, sb, na, CAST(count(*) AS BIGINT) AS n_shared,
           |    CAST(sum(ca) AS BIGINT) AS sha, CAST(sum(tp) AS BIGINT) AS jp0
           |  FROM p2 GROUP BY 1, 2, 3),
           |qa AS (SELECT sa, sb, nb, CAST(sum(cb) AS BIGINT) AS shb,
           |    CAST(sum(tq) AS BIGINT) AS jq0
           |  FROM q2 GROUP BY 1, 2, 3),
           |f AS (SELECT pa.sa, pa.sb, n_shared,
           |    jp0 + CAST(floor(CAST(na - sha AS DOUBLE) /
           |      CAST(na AS DOUBLE) * $Ln2 * 1000000000.0) AS BIGINT)
           |      AS jp_units,
           |    jq0 + CAST(floor(CAST(nb - shb AS DOUBLE) /
           |      CAST(nb AS DOUBLE) * $Ln2 * 1000000000.0) AS BIGINT)
           |      AS jq_units
           |  FROM pa JOIN qa ON qa.sa = pa.sa AND qa.sb = pa.sb)
           |SELECT sa, sb, n_shared, jp_units, jq_units,
           |  CAST(jp_units + jq_units AS DOUBLE) / (2.0 * 1000000000.0)
           |    AS jsd
           |FROM f ORDER BY sa, sb""".stripMargin
      },
      "per-source token JS matrix: order-free integer-nanat terms at vocabulary scale")
  )
}
