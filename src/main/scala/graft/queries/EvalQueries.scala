package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, T}
import graft.ops.{EvalOps, TextOps}

/** Model-evaluation gates: the hashed linear quality classifier scored
  * against the "is English" ground truth, then judged by the three
  * standard filter-evaluation lenses — exact AUC, the precision/recall
  * operating curve, and the calibration table. Every statistic is
  * integer counts / doubled rank sums plus single IEEE divisions, so
  * the DuckDB oracle replays inference AND evaluation bit-identically.
  */
object EvalQueries {

  /** Classifier score + binary label per document, STAGED per corpus
    * snapshot — six gates read this frame, and re-running full-corpus
    * inference per gate is exactly the unstaged shape that cost round 9
    * the incremental-delta regression. LRU-bounded like every other
    * shared frame. The join is a plain doc_id equi-join (broadcastable
    * at these SFs; key-shuffled at 100 TB). */
  private val scoredCache =
    graft.ops.Memo.staging[(SparkSession, String), DataFrame](8)

  private def scored(s: SparkSession, d: String): DataFrame =
    scoredCache.getOrElseUpdate((s, d)) {
      val docs = T(s, d, "documents")
      TextOps.qualityClassifier(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), (col("lang") === "en").as("is_en"),
            col("source")),
          Seq("doc_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** The classifier-inference CTE (the `text_quality_classifier` oracle
    * verbatim) extended with the label — shared by all three gates. */
  private val scoredCte =
    """s AS (
      |  SELECT doc_id, CAST(sum(w) AS BIGINT) AS score,
      |    any_value(pos) AS pos, any_value(src) AS src
      |  FROM (
      |    SELECT doc_id, lang = 'en' AS pos, source AS src,
      |      ((instr('0123456789abcdef', substr(b, 1, 1)) * 16 +
      |        instr('0123456789abcdef', substr(b, 2, 1)) - 17)
      |       * 37 + 11) % 17 - 8 AS w
      |    FROM (SELECT doc_id, lang, source, substr(md5(tok), 1, 2) AS b
      |          FROM (SELECT doc_id, lang, source,
      |                  unnest(string_split_regex(trim(text), ' +')) AS tok
      |                FROM documents)))
      |  GROUP BY doc_id)""".stripMargin

  /** Per-user ranking-eval frame, STAGED per corpus snapshot — the
    * per-user gate reads it directly and the summary gate rolls it up,
    * so the slate build + global rank run once. Scenario: a
    * "most-frequent next action" recommender — each user ranks the
    * full event-type catalog by training-split interaction count
    * (event_id % 16 != 0), judged against the held-out split
    * (% 16 == 0). The users × catalog slate is a |catalog|-row
    * broadcast cross (declared). */
  private val rankCache =
    graft.ops.Memo.staging[(SparkSession, String), DataFrame](8)

  private def rankPerUser(s: SparkSession, d: String): DataFrame =
    rankCache.getOrElseUpdate((s, d)) {
      val ev = T(s, d, "events").select("event_id", "user_id", "event_type")
      val train = ev.filter(col("event_id") % 16 =!= 0)
      val cat = ev.select("event_type").distinct()
      val usr = ev.select("user_id").distinct()
      val cnt = train.groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("cnt"))
      val slate = usr.crossJoin(broadcast(cat))
        .join(cnt, Seq("user_id", "event_type"), "left")
        .na.fill(0L, Seq("cnt"))
      val relevant = ev.filter(col("event_id") % 16 === 0)
        .select("user_id", "event_type")
      EvalOps.rankingMetrics(slate, "user_id", "event_type", "cnt",
          relevant, k = 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  // The NDCG constants both sides share ([[EvalOps.ndcgDiscounts]]):
  // embedded into the oracle SQL as shortest-round-trip literals, so
  // DuckDB parses bit-identical doubles instead of trusting its libm.
  private val Array(rd1, rd2, rd3) = EvalOps.ndcgDiscounts(3)
  private val Array(rp1, rp2, rp3) = EvalOps.ndcgIdealPrefix(3)

  /** The ranking-scenario replay: slate → window rank → per-user
    * confusion + ordered-fold DCG — shared by both ranking gates. */
  private val rankCte =
    s"""ev AS (SELECT event_id, user_id, event_type FROM events),
       |tr AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
       |       FROM ev WHERE event_id % 16 != 0 GROUP BY 1, 2),
       |slate AS (SELECT u.user_id, c.event_type, coalesce(t.cnt, 0) AS cnt
       |  FROM (SELECT DISTINCT user_id FROM ev) u
       |  CROSS JOIN (SELECT DISTINCT event_type FROM ev) c
       |  LEFT JOIN tr t
       |    ON t.user_id = u.user_id AND t.event_type = c.event_type),
       |rk AS (SELECT user_id, event_type, cnt,
       |    CAST(row_number() OVER (PARTITION BY user_id
       |      ORDER BY cnt DESC, event_type) AS BIGINT) AS rnk
       |  FROM slate),
       |rel AS (SELECT DISTINCT user_id, event_type FROM ev
       |        WHERE event_id % 16 = 0),
       |nr AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_rel
       |       FROM rel GROUP BY 1),
       |j AS (SELECT rk.user_id, rk.rnk, (r.user_id IS NOT NULL) AS is_rel
       |  FROM rk LEFT JOIN rel r
       |    ON r.user_id = rk.user_id AND r.event_type = rk.event_type),
       |per AS (SELECT user_id,
       |    CAST(sum(CASE WHEN is_rel AND rnk <= 3 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS hits,
       |    min(CASE WHEN is_rel AND rnk <= 3 THEN rnk END) AS first_hit,
       |    coalesce(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |        list(CASE rnk WHEN 1 THEN CAST($rd1 AS DOUBLE)
       |                      WHEN 2 THEN CAST($rd2 AS DOUBLE)
       |                      WHEN 3 THEN CAST($rd3 AS DOUBLE) END
       |             ORDER BY rnk)
       |          FILTER (WHERE is_rel AND rnk <= 3)),
       |      (acc, x) -> acc + x), CAST(0.0 AS DOUBLE)) AS dcg
       |  FROM j GROUP BY user_id),
       |pu AS (SELECT per.user_id, coalesce(nr.n_rel, 0) AS n_rel,
       |    hits, first_hit,
       |    coalesce(CAST(1.0 AS DOUBLE) / CAST(first_hit AS DOUBLE),
       |      CAST(0.0 AS DOUBLE)) AS rr,
       |    dcg,
       |    CASE WHEN coalesce(nr.n_rel, 0) >= 1 THEN
       |      CASE least(coalesce(nr.n_rel, 0), 3)
       |        WHEN 1 THEN CAST($rp1 AS DOUBLE)
       |        WHEN 2 THEN CAST($rp2 AS DOUBLE)
       |        WHEN 3 THEN CAST($rp3 AS DOUBLE) END
       |    END AS idcg
       |  FROM per LEFT JOIN nr ON nr.user_id = per.user_id)""".stripMargin

  val all: Seq[Q] = Seq(
    // Exact ROC AUC ([[EvalOps.aucExact]]): tie-averaged Mann-Whitney U
    // of the positive class over n_pos*n_neg, doubled rank sums so ties
    // stay integer. The oracle replays the midrank identity
    // 2*avg_rank = 2*RANK() + tie_count - 1 over the same score order.
    Q(
      "eval_auc_exact",
      (s, d) =>
        EvalOps.aucExact(scored(s, d), "is_en", "score", "doc_id")
          .orderBy("n_pos"),
      Some(s"""WITH $scoredCte,
              |r AS (SELECT pos, 2 * RANK() OVER (ORDER BY score) +
              |        count(*) OVER (PARTITION BY score) - 1 AS avg2
              |      FROM s),
              |t AS (SELECT
              |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
              |      AS n_pos,
              |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT)
              |      AS n_neg,
              |    CAST(sum(CASE WHEN pos THEN avg2 ELSE 0 END) AS BIGINT)
              |      AS r2
              |  FROM r)
              |SELECT n_pos, n_neg, r2 - n_pos * (n_pos + 1) AS u2_pos,
              |  CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE) /
              |    (2.0 * n_pos * n_neg) AS auc
              |FROM t ORDER BY n_pos""".stripMargin),
      "exact ROC AUC: tie-averaged rank statistic, doubled-integer U"),

    // Stratified AUC ([[EvalOps.aucExactByGroup]]): per-SOURCE AUC of
    // the English signal — the report that catches a filter working on
    // one ingestion source and failing on another. The within-group
    // rank comes from one GLOBAL midrank minus per-group offsets
    // (never a group window, which would inherit the largest group's
    // skew); the oracle gets to use the partitioned window the engine
    // avoids.
    Q(
      "eval_auc_by_group",
      (s, d) =>
        EvalOps.aucExactByGroup(scored(s, d), "source", "is_en", "score",
            "doc_id")
          .orderBy("source"),
      Some(s"""WITH $scoredCte,
              |r AS (SELECT src, pos,
              |    2 * RANK() OVER (PARTITION BY src ORDER BY score) +
              |      count(*) OVER (PARTITION BY src, score) - 1 AS avg2
              |  FROM s),
              |t AS (SELECT src AS source,
              |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
              |      AS n_pos,
              |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT)
              |      AS n_neg,
              |    CAST(sum(CASE WHEN pos THEN avg2 ELSE 0 END) AS BIGINT)
              |      AS r2
              |  FROM r GROUP BY src)
              |SELECT source, n_pos, n_neg,
              |  r2 - n_pos * (n_pos + 1) AS u2_pos,
              |  CASE WHEN n_pos > 0 AND n_neg > 0
              |    THEN CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE) /
              |      (2.0 * n_pos * n_neg) END AS auc
              |FROM t ORDER BY source""".stripMargin),
      "stratified AUC per source: global-midrank-minus-offset, no skewed group window"),

    // Per-source score normalization ([[EvalOps.groupPercentRank]]):
    // PERCENT_RANK of the classifier score within each source — the
    // primitive behind "drop the bottom 20% per source" (a raw
    // threshold over-prunes whichever source scores lower). Engine side
    // is window-free (global rank − offsets + tie-min rollup); the
    // oracle uses the group windows.
    Q(
      "eval_score_percentile",
      (s, d) =>
        EvalOps.groupPercentRank(
            scored(s, d).select("doc_id", "source", "score"),
            "source", "score", "doc_id")
          .withColumn("keep", col("pct_rank") >= 0.2)
          .select("doc_id", "source", "score", "rank_min", "group_n",
            "pct_rank", "keep")
          .orderBy("doc_id"),
      Some(s"""WITH $scoredCte,
              |g AS (SELECT doc_id, src AS source, score,
              |    CAST(RANK() OVER (PARTITION BY src ORDER BY score)
              |      AS BIGINT) AS rank_min,
              |    CAST(count(*) OVER (PARTITION BY src) AS BIGINT)
              |      AS group_n
              |  FROM s)
              |SELECT doc_id, source, score, rank_min, group_n,
              |  CASE WHEN group_n > 1
              |    THEN CAST(rank_min - 1 AS DOUBLE) / (group_n - 1)
              |    ELSE 0.0 END AS pct_rank,
              |  (CASE WHEN group_n > 1
              |    THEN CAST(rank_min - 1 AS DOUBLE) / (group_n - 1)
              |    ELSE 0.0 END) >= 0.2 AS keep
              |FROM g ORDER BY doc_id""".stripMargin),
      "per-source percentile normalization: drop-bottom-20%-per-source, window-free"),

    // PR operating curve ([[EvalOps.prCurve]]): exact confusion counts
    // for "keep iff score >= t" at every DISTINCT score — the corpus
    // collapses to per-score rows first, then the distributed prefix
    // sum walks the thresholds top-down. The oracle is one window over
    // the same per-score rollup.
    Q(
      "eval_pr_curve",
      (s, d) =>
        EvalOps.prCurve(scored(s, d), "is_en", "score")
          .orderBy("threshold"),
      Some(s"""WITH $scoredCte,
              |per AS (SELECT score AS threshold,
              |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS p,
              |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS ng
              |  FROM s GROUP BY score),
              |c AS (SELECT threshold,
              |    CAST(SUM(p) OVER w AS BIGINT) AS tp,
              |    CAST(SUM(ng) OVER w AS BIGINT) AS fp,
              |    CAST((SELECT sum(p) FROM per) AS BIGINT) AS ptot
              |  FROM per
              |  WINDOW w AS (ORDER BY threshold DESC
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
              |SELECT threshold, tp, fp, ptot - tp AS fn,
              |  CAST(tp AS DOUBLE) / (tp + fp) AS precision,
              |  CAST(tp AS DOUBLE) / ptot AS recall
              |FROM c ORDER BY threshold""".stripMargin),
      "precision/recall curve: exact cumulative confusion counts per distinct threshold"),

    // Calibration table ([[EvalOps.calibrationBins]]): fixed-width score
    // bins (floor via double division — exact and floor-correct for
    // negative scores in both engines), integer counts and score mass.
    Q(
      "eval_calibration_bins",
      (s, d) =>
        EvalOps.calibrationBins(scored(s, d), "is_en", "score",
            binWidth = 8L)
          .orderBy("bin"),
      Some(s"""WITH $scoredCte
              |SELECT CAST(floor(score / 8.0) AS BIGINT) AS bin,
              |  CAST(count(*) AS BIGINT) AS n,
              |  CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_pos,
              |  CAST(sum(score) AS BIGINT) AS score_sum,
              |  CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE) /
              |    count(*) AS pos_rate,
              |  CAST(sum(score) AS DOUBLE) / count(*) AS mean_score
              |FROM s GROUP BY 1 ORDER BY 1""".stripMargin),
      "calibration bins: positive rate vs mean score per fixed-width score bin"),

    // Exact isotonic (PAV) calibration of the same binned score
    // ([[EvalOps.isotonicCalibration]]): the monotone probability map a
    // production filter deploys. Fitted via the closed minimax identity
    // iso(i) = max_{j≤i} min_{k≥i} mean(j..k) — order-free min/max over
    // one-division segment means — so the unrolled SQL replay is
    // bit-identical; the sequential pool-adjacent sweep is only a spec
    // cross-check. The O(B³) enumeration runs on the B-row bin table
    // (corpus-independent), never on corpus-sized data.
    Q(
      "eval_isotonic",
      (s, d) =>
        EvalOps.isotonicCalibration(scored(s, d), "is_en", "score",
            binWidth = 8L)
          .orderBy("bin"),
      Some(s"""WITH $scoredCte,
              |bins AS (SELECT CAST(floor(score / 8.0) AS BIGINT) AS bin,
              |    CAST(count(*) AS BIGINT) AS n,
              |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
              |      AS n_pos
              |  FROM s GROUP BY 1),
              |seg AS (SELECT j.bin AS j, k.bin AS k,
              |    CAST(sum(b.n_pos) AS DOUBLE) /
              |      CAST(sum(b.n) AS DOUBLE) AS a
              |  FROM bins j JOIN bins k ON j.bin <= k.bin
              |  JOIN bins b ON b.bin BETWEEN j.bin AND k.bin
              |  GROUP BY 1, 2),
              |mn AS (SELECT i.bin AS i, seg.j, min(seg.a) AS mn
              |  FROM seg JOIN bins i ON seg.j <= i.bin AND seg.k >= i.bin
              |  GROUP BY 1, 2),
              |iso AS (SELECT i, max(mn) AS iso FROM mn GROUP BY i)
              |SELECT b.bin, b.n, b.n_pos,
              |  CAST(b.n_pos AS DOUBLE) / CAST(b.n AS DOUBLE) AS pos_rate,
              |  iso.iso
              |FROM bins b JOIN iso ON iso.i = b.bin
              |ORDER BY b.bin""".stripMargin),
      "isotonic PAV calibration via the exact minimax identity on the bin table"),

    // Inter-rater agreement ([[EvalOps.cohensKappa]]): the thresholded
    // classifier (score >= 0) judged against the "is English" rule as a
    // second rater. Chance-corrected — the statistic that says whether
    // the learned filter ADDS anything over base rates, where raw
    // agreement percentage flatters any pair of permissive filters.
    Q(
      "eval_cohens_kappa",
      (s, d) =>
        EvalOps.cohensKappa(
            scored(s, d).select((col("score") >= 0L).as("pred_en"),
              col("is_en")),
            "pred_en", "is_en")
          .orderBy("n11"),
      Some(s"""WITH $scoredCte,
              |c AS (SELECT
              |    CAST(sum(CASE WHEN score >= 0 AND pos THEN 1 ELSE 0 END)
              |      AS BIGINT) AS n11,
              |    CAST(sum(CASE WHEN score >= 0 AND NOT pos THEN 1 ELSE 0 END)
              |      AS BIGINT) AS n10,
              |    CAST(sum(CASE WHEN score < 0 AND pos THEN 1 ELSE 0 END)
              |      AS BIGINT) AS n01,
              |    CAST(sum(CASE WHEN score < 0 AND NOT pos THEN 1 ELSE 0 END)
              |      AS BIGINT) AS n00
              |  FROM s),
              |k AS (SELECT n11, n10, n01, n00,
              |    n11 + n10 + n01 + n00 AS n,
              |    CAST(n11 + n00 AS DOUBLE) /
              |      CAST(n11 + n10 + n01 + n00 AS DOUBLE) AS po,
              |    CAST((n11 + n10) * (n11 + n01) +
              |         (n01 + n00) * (n10 + n00) AS DOUBLE) /
              |      CAST((n11 + n10 + n01 + n00) *
              |           (n11 + n10 + n01 + n00) AS DOUBLE) AS pe
              |  FROM c)
              |SELECT n11, n10, n01, n00, n, po, pe,
              |  CASE WHEN pe < 1.0 THEN (po - pe) / (1.0 - pe) END AS kappa
              |FROM k ORDER BY n11""".stripMargin),
      "Cohen's kappa: chance-corrected agreement of thresholded filter vs rule rater"),

    // Krippendorff's alpha ([[EvalOps.krippendorffAlpha]]) across THREE
    // deterministic document "raters" — the multi-annotator agreement
    // statistic kappa can't express (kappa is exactly 2 raters, no
    // gaps): three length-proxy quality bucketers, the third abstaining
    // on every 5th doc so the missing-data path is exercised. All
    // integer (lcm-weighted coincidences) until one final division,
    // which the oracle replays literally. The gate EMITS do_num/de_num
    // as DOUBLE: raw DECIMAL output is banned from gate queries (the
    // driver hasher diverges on Spark-vs-DuckDB decimals); each is an
    // exact integer far under 2⁵³ at gate scale, and even past 2⁵³ the
    // decimal→double cast is the same correctly-rounded operation on
    // both engines — the library op keeps the exact decimals.
    Q(
      "eval_krippendorff_alpha",
      (s, d) => {
        val doc = T(s, d, "documents")
        val len = length(col("text"))
        val words = length(col("text")) -
          length(translate(col("text"), " ", "")) + 1
        def bucket(c: org.apache.spark.sql.Column, t1: Int, t2: Int) =
          when(c < t1, 0L).when(c < t2, 1L).otherwise(2L)
        val ratings = doc.select(col("doc_id").as("unit"),
            bucket(len, 250, 400).as("label"))
          .unionByName(doc.select(col("doc_id").as("unit"),
            bucket(words * 6, 250, 400).as("label")))
          .unionByName(doc.filter(col("doc_id") % 5 =!= 0)
            .select(col("doc_id").as("unit"),
              bucket(len, 230, 380).as("label")))
        EvalOps.krippendorffAlpha(ratings, "unit", "label")
          .withColumn("do_num", col("do_num").cast("double"))
          .withColumn("de_num", col("de_num").cast("double"))
          .orderBy("n")
      },
      Some("""WITH r AS (
             |  SELECT doc_id AS unit,
             |    CASE WHEN length(text) < 250 THEN 0
             |         WHEN length(text) < 400 THEN 1 ELSE 2 END AS label
             |  FROM documents
             |  UNION ALL
             |  SELECT doc_id,
             |    CASE WHEN (length(text) - length(replace(text, ' ', ''))
             |               + 1) * 6 < 250 THEN 0
             |         WHEN (length(text) - length(replace(text, ' ', ''))
             |               + 1) * 6 < 400 THEN 1 ELSE 2 END
             |  FROM documents
             |  UNION ALL
             |  SELECT doc_id,
             |    CASE WHEN length(text) < 230 THEN 0
             |         WHEN length(text) < 380 THEN 1 ELSE 2 END
             |  FROM documents WHERE doc_id % 5 <> 0),
             |cells AS (SELECT unit, label, CAST(count(*) AS BIGINT) AS nuc
             |  FROM r GROUP BY 1, 2),
             |units AS (SELECT unit, sum(nuc) AS mu,
             |    sum(nuc * nuc) AS sq
             |  FROM cells GROUP BY 1 HAVING sum(nuc) >= 2),
             |du AS (SELECT unit, mu,
             |    (mu * (mu - 1) - (sq - mu)) * (27720 // (mu - 1)) AS do_u
             |  FROM units),
             |ut AS (SELECT CAST(sum(mu) AS BIGINT) AS n,
             |    CAST(count(*) AS BIGINT) AS n_units,
             |    CAST(sum(do_u) AS HUGEINT) AS doh
             |  FROM du),
             |lt AS (SELECT CAST(count(*) AS BIGINT) AS n_labels,
             |    CAST(sum(CAST(nc AS HUGEINT) * nc) AS HUGEINT) AS sc2
             |  FROM (SELECT c.label, sum(c.nuc) AS nc
             |        FROM cells c JOIN units u ON u.unit = c.unit
             |        GROUP BY 1)),
             |f AS (SELECT n, n_units, n_labels, doh,
             |    CAST(n AS HUGEINT) * n - sc2 AS deh
             |  FROM ut, lt)
             |SELECT n, n_units, n_labels,
             |  CAST(CAST(doh AS DECIMAL(38,0)) AS DOUBLE) AS do_num,
             |  CAST(CAST(deh AS DECIMAL(38,0)) AS DOUBLE) AS de_num,
             |  CASE WHEN deh > 0 THEN
             |    1.0 - CAST(CAST(n - 1 AS HUGEINT) * doh AS DOUBLE) /
             |          CAST(27720 * deh AS DOUBLE)
             |  END AS alpha
             |FROM f ORDER BY n""".stripMargin),
      "Krippendorff's alpha: 3 heuristic raters with abstention, lcm-exact coincidences"),

    // Expected calibration error ([[EvalOps.expectedCalibrationError]])
    // of the percentile-calibrated classifier score: per-probability-bin
    // |positive rate − mean predicted probability|, weighted by bin
    // mass and folded in bin order. conf stays an exact integer
    // rational until its one division, so the oracle replays it.
    Q(
      "eval_ece",
      (s, d) =>
        EvalOps.expectedCalibrationError(scored(s, d), "is_en", "score",
            "doc_id", bins = 10)
          .orderBy("n_bins"),
      Some(s"""WITH $scoredCte,
              |g AS (SELECT doc_id, pos,
              |    CAST(RANK() OVER (ORDER BY score) AS BIGINT) AS rank_min,
              |    CAST(count(*) OVER () AS BIGINT) AS n_tot
              |  FROM s),
              |p AS (SELECT pos, rank_min, n_tot,
              |    CAST(rank_min - 1 AS DOUBLE) /
              |      CAST(n_tot - 1 AS DOUBLE) AS pct
              |  FROM g),
              |b AS (SELECT
              |    least(CAST(floor(pct * 10.0) AS BIGINT), 9) AS bin,
              |    CAST(count(*) AS BIGINT) AS n,
              |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
              |      AS n_pos,
              |    CAST(sum(rank_min - 1) AS BIGINT) AS r_sum,
              |    any_value(n_tot) AS n_tot
              |  FROM p GROUP BY 1),
              |t AS (SELECT bin, n, n_tot,
              |    CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS acc,
              |    CAST(r_sum AS DOUBLE) /
              |      CAST(n * (n_tot - 1) AS DOUBLE) AS conf
              |  FROM b)
              |SELECT CAST(count(*) AS BIGINT) AS n_bins,
              |  any_value(n_tot) AS n,
              |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              |      list(CAST(n AS DOUBLE) / CAST(n_tot AS DOUBLE) *
              |           abs(acc - conf) ORDER BY bin)),
              |    (acc2, x) -> acc2 + x) AS ece
              |FROM t ORDER BY n_bins""".stripMargin),
      "expected calibration error: percentile-calibrated bins, ordered-fold ECE"),

    // Matthews correlation of the thresholded classifier vs the
    // is-English label ([[EvalOps.matthewsCorrelation]]) — the
    // imbalance-honest confusion summary beside kappa (same 2×2 table,
    // determinant-scaled instead of chance-corrected). DECIMAL products
    // (the 4-factor denominator passes 2⁶³ at ~10⁵ rows), one sqrt, one
    // division.
    Q(
      "eval_mcc",
      (s, d) =>
        EvalOps.matthewsCorrelation(
          scored(s, d).select((col("score") >= 0).as("p"), col("is_en")),
          "p", "is_en"),
      Some(s"""WITH $scoredCte,
              |t AS (SELECT score >= 0 AS p, pos AS y FROM s),
              |m AS (SELECT
              |    CAST(sum(CASE WHEN p AND y THEN 1 ELSE 0 END)
              |      AS BIGINT) AS tp,
              |    CAST(sum(CASE WHEN p AND NOT y THEN 1 ELSE 0 END)
              |      AS BIGINT) AS fp,
              |    CAST(sum(CASE WHEN NOT p AND y THEN 1 ELSE 0 END)
              |      AS BIGINT) AS fn,
              |    CAST(sum(CASE WHEN NOT p AND NOT y THEN 1 ELSE 0 END)
              |      AS BIGINT) AS tn
              |  FROM t)
              |SELECT tp, fp, fn, tn,
              |  CASE WHEN CAST(tp + fp AS HUGEINT) * (tp + fn)
              |      * (tn + fp) * (tn + fn) > 0 THEN
              |    CAST(CAST(tp AS HUGEINT) * tn
              |      - CAST(fp AS HUGEINT) * fn AS DOUBLE) /
              |    sqrt(CAST(CAST(tp + fp AS HUGEINT) * (tp + fn)
              |      * (tn + fp) * (tn + fn) AS DOUBLE))
              |  END AS mcc
              |FROM m""".stripMargin),
      "Matthews correlation: exact DECIMAL 2x2 products, one sqrt, one division"),

    // Brier score of the same percentile-calibrated probability
    // ([[EvalOps.brierScore]]): the PROPER scoring rule (calibration +
    // refinement in one number) beside ECE's calibration-only read.
    // Integral to the end: d = (rank−1) − y·(N−1), Brier = Σd²/(N·(N−1)²),
    // one double division.
    Q(
      "eval_brier",
      (s, d) =>
        EvalOps.brierScore(scored(s, d), "is_en", "score", "doc_id")
          .orderBy("n"),
      Some(s"""WITH $scoredCte,
              |g AS (SELECT pos,
              |    CAST(RANK() OVER (ORDER BY score) AS BIGINT) AS rank_min,
              |    CAST(count(*) OVER () AS BIGINT) AS n_tot
              |  FROM s),
              |d AS (SELECT n_tot,
              |    (rank_min - 1) -
              |      CASE WHEN pos THEN n_tot - 1 ELSE 0 END AS d
              |  FROM g)
              |SELECT CAST(count(*) AS BIGINT) AS n,
              |  CASE WHEN count(*) > 1 THEN
              |    CAST(sum(CAST(d AS HUGEINT) * CAST(d AS HUGEINT))
              |        AS DOUBLE) /
              |    CAST(CAST(any_value(n_tot) AS HUGEINT) *
              |      (any_value(n_tot) - 1) * (any_value(n_tot) - 1)
              |        AS DOUBLE)
              |  END AS brier
              |FROM d ORDER BY n""".stripMargin),
      "Brier score of the percentile-calibrated score: exact integer moments"),

    // Exact average precision ([[EvalOps.averagePrecision]]): the PR
    // curve's single number, each step term ONE division of exact
    // integers (pos_k·tp_k over P·(tp_k+fp_k)), folded in
    // threshold-descending order — the imbalance-honest counterpart of
    // eval_auc_exact.
    Q(
      "eval_average_precision",
      (s, d) =>
        EvalOps.averagePrecision(scored(s, d), "is_en", "score")
          .orderBy("n_pos"),
      Some(s"""WITH $scoredCte,
              |ps AS (SELECT score AS threshold,
              |    CAST(count(*) AS BIGINT) AS cnt,
              |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS p
              |  FROM s GROUP BY 1),
              |t AS (SELECT CAST(sum(p) AS BIGINT) AS pt FROM ps),
              |c AS (SELECT threshold, p AS pos,
              |    CAST(sum(p) OVER w AS BIGINT) AS tp,
              |    CAST(sum(cnt - p) OVER w AS BIGINT) AS fp
              |  FROM ps
              |  WINDOW w AS (ORDER BY threshold DESC
              |    ROWS UNBOUNDED PRECEDING)),
              |g AS (SELECT c.threshold, t.pt,
              |    CAST(pos * tp AS DOUBLE) /
              |      CAST(pt * (tp + fp) AS DOUBLE) AS term
              |  FROM c, t)
              |SELECT max(pt) AS n_pos,
              |  CAST(count(*) AS BIGINT) AS n_thresholds,
              |  CASE WHEN max(pt) > 0 THEN
              |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              |        list(term ORDER BY threshold DESC)),
              |      (a, x) -> a + x) END AS average_precision
              |FROM g ORDER BY n_pos""".stripMargin),
      "exact average precision: one-division step terms, threshold-desc fold"),

    // Log-loss of the percentile-calibrated probability
    // ([[EvalOps.logLoss]]): Laplace-smoothed p = rank/(N+1) keeps both
    // logs on RATIONALS, so they ride PortableLnRatio — no libm, no
    // epsilon clip. Rows collapse to the distinct-score rollup (equal
    // score ⇒ equal term), making the ordered fold domain-sized.
    Q(
      "eval_log_loss",
      (s, d) =>
        EvalOps.logLoss(scored(s, d), "is_en", "score")
          .orderBy("n"),
      Some {
        import graft.expr.PortableLnRatio.sqlStages
        val carry1 = Seq("threshold", "cnt", "p", "rnk", "n", "np")
        val carry2 = carry1 :+ "lnp"
        s"""WITH $scoredCte,
           |ps AS (SELECT score AS threshold,
           |    CAST(count(*) AS BIGINT) AS cnt,
           |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS p
           |  FROM s GROUP BY 1),
           |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
           |    CAST(sum(p) AS BIGINT) AS np FROM ps),
           |r AS (SELECT threshold, cnt, p,
           |    CAST(sum(cnt) OVER (ORDER BY threshold
           |        ROWS UNBOUNDED PRECEDING) AS BIGINT) - cnt + 1 AS rnk,
           |    t.n, t.np
           |  FROM ps, t),
           |${sqlStages("lp", "r", "rnk", "n + 1", carry1)},
           |l1 AS (SELECT threshold, cnt, p, rnk, n, np, pln AS lnp
           |  FROM lpln),
           |${sqlStages("lq", "l1", "n + 1 - rnk", "n + 1", carry2)},
           |g AS (SELECT threshold, n, np,
           |    CAST(p AS DOUBLE) * lnp + CAST(cnt - p AS DOUBLE) * pln
           |      AS term
           |  FROM lqln)
           |SELECT max(n) AS n, max(np) AS n_pos,
           |  -(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |        list(term ORDER BY threshold)), (a, x) -> a + x) /
           |    CAST(max(n) AS DOUBLE)) AS log_loss
           |FROM g ORDER BY n""".stripMargin
      },
      "log-loss on rational Laplace-smoothed probabilities: portable ln, domain fold"),

    // Cost-optimal operating point ([[EvalOps.optimalThreshold]]): keep
    // docs at score ≥ τ, a false keep costs 1, a missed keeper costs 5;
    // the sweep includes the never-alarm option. Entirely integer —
    // counts, one cost expression, struct-argmin with ties to the
    // lowest threshold.
    Q(
      "eval_threshold_opt",
      (s, d) =>
        EvalOps.optimalThreshold(scored(s, d), "is_en", "score",
          costFp = 1L, costFn = 5L),
      Some(s"""WITH $scoredCte,
              |ps AS (SELECT score AS thr,
              |    CAST(count(*) AS BIGINT) AS cnt,
              |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS p
              |  FROM s GROUP BY 1),
              |t AS (SELECT CAST(sum(p) AS BIGINT) AS pt FROM ps),
              |c AS (SELECT thr,
              |    CAST(sum(p) OVER w AS BIGINT) AS tp,
              |    CAST(sum(cnt - p) OVER w AS BIGINT) AS fp
              |  FROM ps
              |  WINDOW w AS (ORDER BY thr DESC ROWS UNBOUNDED PRECEDING)),
              |sw AS (SELECT c.thr, tp, fp, t.pt - tp AS fn FROM c, t
              |  UNION ALL
              |  SELECT 9223372036854775807, CAST(0 AS BIGINT),
              |    CAST(0 AS BIGINT), pt FROM t),
              |k AS (SELECT thr, tp, fp, fn, 1 * fp + 5 * fn AS cost
              |  FROM sw)
              |SELECT CASE WHEN thr <> 9223372036854775807 THEN thr END
              |    AS threshold,
              |  tp, fp, fn, cost
              |FROM k ORDER BY cost, thr LIMIT 1""".stripMargin),
      "cost-optimal threshold: integer confusion sweep incl. never-alarm, exact argmin"),

    // Cumulative gains/lift table ([[EvalOps.gainsTable]]): score
    // deciles of the classifier vs the is-English label — "the top
    // decile captures X% of English docs at Y× random". Exact
    // percent-rank deciles, running-sum gains, fixed-tree lifts.
    Q(
      "eval_gains_table",
      (s, d) =>
        EvalOps.gainsTable(scored(s, d), "is_en", "score", "doc_id")
          .orderBy("decile"),
      Some(s"""WITH $scoredCte,
              |g AS (SELECT pos,
              |    CAST(RANK() OVER (ORDER BY score) AS BIGINT) AS rk,
              |    CAST(count(*) OVER () AS BIGINT) AS n_tot
              |  FROM s),
              |p AS (SELECT pos,
              |    CASE WHEN n_tot > 1
              |      THEN CAST(rk - 1 AS DOUBLE) / CAST(n_tot - 1 AS DOUBLE)
              |      ELSE 0.0 END AS pct
              |  FROM g),
              |per AS (SELECT
              |    least(CAST(floor((1.0 - pct) * 10) AS BIGINT), 9)
              |      AS decile,
              |    CAST(count(*) AS BIGINT) AS n,
              |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
              |      AS n_pos
              |  FROM p GROUP BY 1),
              |c AS (SELECT decile, n, n_pos,
              |    CAST(SUM(n) OVER w AS BIGINT) AS cum_n,
              |    CAST(SUM(n_pos) OVER w AS BIGINT) AS cum_pos,
              |    CAST((SELECT sum(n) FROM per) AS BIGINT) AS n_tot,
              |    CAST((SELECT sum(n_pos) FROM per) AS BIGINT) AS pos_tot
              |  FROM per
              |  WINDOW w AS (ORDER BY decile
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              |f AS (SELECT decile, n, n_pos, cum_n, cum_pos,
              |    CAST(cum_pos AS DOUBLE) / CAST(pos_tot AS DOUBLE) AS gain,
              |    CAST(cum_n AS DOUBLE) / CAST(n_tot AS DOUBLE) AS pop_share
              |  FROM c)
              |SELECT decile, n, n_pos, cum_n, cum_pos, gain, pop_share,
              |  gain / pop_share AS lift
              |FROM f ORDER BY decile""".stripMargin),
      "cumulative gains/lift per score decile: exact ranks, running sums, fixed-tree lifts"),

    // Deterministic multiplier bootstrap ([[EvalOps.bootstrapAccuracy]]):
    // 20 hash-weighted resamples of the classifier's accuracy — the
    // sampling uncertainty of "the filter is 73% right" without an RNG,
    // so every engine draws the same resamples. Weighted accuracy =
    // exact integer sums into one division per resample.
    Q(
      "eval_bootstrap_acc",
      (s, d) =>
        EvalOps.bootstrapAccuracy(
            scored(s, d).select(col("doc_id"),
              ((col("score") >= 0L) === col("is_en")).as("ok")),
            "ok", "doc_id", b = 20, salt = "boot")
          .orderBy("r"),
      Some(s"""WITH $scoredCte,
              |acc AS (SELECT doc_id, (score >= 0) = pos AS ok FROM s),
              |ex AS (SELECT doc_id, ok, unnest(generate_series(1, 20)) AS r
              |       FROM acc),
              |w AS (SELECT r, ok,
              |    (instr('0123456789abcdef',
              |       substr(md5('boot:' || CAST(r AS VARCHAR) || ':' ||
              |         CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 4 AS wt
              |  FROM ex)
              |SELECT r, CAST(sum(wt) AS BIGINT) AS w_sum,
              |  CAST(sum(CASE WHEN ok THEN wt ELSE 0 END) AS BIGINT)
              |    AS n_hit_w,
              |  CASE WHEN sum(wt) > 0
              |    THEN CAST(sum(CASE WHEN ok THEN wt ELSE 0 END) AS DOUBLE) /
              |      CAST(sum(wt) AS DOUBLE) END AS acc_w
              |FROM w GROUP BY r ORDER BY r""".stripMargin),
      "hash-multiplier bootstrap: 20 deterministic resamples of filter accuracy"),

    // Order-statistic interval over the resamples
    // ([[EvalOps.bootstrapCi]]): 2nd and 19th of the 20 sorted means —
    // the ~90% band a dashboard prints beside the point accuracy.
    Q(
      "eval_bootstrap_ci",
      (s, d) =>
        EvalOps.bootstrapCi(
            EvalOps.bootstrapAccuracy(
              scored(s, d).select(col("doc_id"),
                ((col("score") >= 0L) === col("is_en")).as("ok")),
              "ok", "doc_id", b = 20, salt = "boot"),
            loIdx = 2, hiIdx = 19)
          .orderBy("b"),
      Some(s"""WITH $scoredCte,
              |acc AS (SELECT doc_id, (score >= 0) = pos AS ok FROM s),
              |ex AS (SELECT doc_id, ok, unnest(generate_series(1, 20)) AS r
              |       FROM acc),
              |w AS (SELECT r, ok,
              |    (instr('0123456789abcdef',
              |       substr(md5('boot:' || CAST(r AS VARCHAR) || ':' ||
              |         CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 4 AS wt
              |  FROM ex),
              |per AS (SELECT r,
              |    CASE WHEN sum(wt) > 0
              |      THEN CAST(sum(CASE WHEN ok THEN wt ELSE 0 END)
              |             AS DOUBLE) / CAST(sum(wt) AS DOUBLE)
              |    END AS acc_w
              |  FROM w GROUP BY r),
              |o AS (SELECT CAST(count(*) AS BIGINT) AS b,
              |    list_sort(list(acc_w)) AS means FROM per)
              |SELECT b, means[2] AS lo, means[19] AS hi
              |FROM o ORDER BY b""".stripMargin),
      "bootstrap order-statistic CI: 2nd/19th sorted resample means"),

    // Decision-stump feature audit ([[EvalOps.giniSplit]]): which
    // metadata column best predicts "is English" by weighted Gini
    // impurity — source (weakly informative), the 256-char length
    // bucket, and a deliberate junk feature (doc_id % 7) as the
    // control that must land near the no-split impurity.
    Q(
      "eval_gini_stump",
      (s, d) =>
        EvalOps.giniSplit(
            T(s, d, "documents").withColumn("is_en", col("lang") === "en"),
            "is_en",
            Seq(
              "junk_mod7" -> (col("doc_id") % 7),
              "len_bucket" -> expr("n_chars DIV 256"),
              "source" -> col("source")))
          .orderBy("feature"),
      Some {
        def block(tag: String, name: String, sqlExpr: String) =
          s"""b_$tag AS (
             |  SELECT CAST($sqlExpr AS VARCHAR) AS g,
             |    CAST(count(*) AS BIGINT) AS n_g,
             |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_pos
             |  FROM documents GROUP BY 1),
             |t_$tag AS (SELECT CAST(sum(n_g) AS BIGINT) AS n FROM b_$tag),
             |g_$tag AS (SELECT '$name' AS feature,
             |    CAST(count(*) AS BIGINT) AS n_groups,
             |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |        list(CAST(n_g AS DOUBLE) / CAST(n AS DOUBLE) *
             |          (1.0 -
             |            (CAST(n_pos AS DOUBLE) / CAST(n_g AS DOUBLE)) *
             |            (CAST(n_pos AS DOUBLE) / CAST(n_g AS DOUBLE)) -
             |            (CAST(n_g - n_pos AS DOUBLE) /
             |              CAST(n_g AS DOUBLE)) *
             |            (CAST(n_g - n_pos AS DOUBLE) /
             |              CAST(n_g AS DOUBLE)))
             |          ORDER BY g)),
             |      (acc, x) -> acc + x) AS gini
             |  FROM b_$tag, t_$tag)""".stripMargin
        s"""WITH ${block("j", "junk_mod7", "doc_id % 7")},
           |${block("l", "len_bucket", "n_chars // 256")},
           |${block("s", "source", "source")}
           |SELECT * FROM g_j UNION ALL SELECT * FROM g_l
           |UNION ALL SELECT * FROM g_s
           |ORDER BY feature""".stripMargin
      },
      "decision-stump audit: weighted Gini per candidate feature, junk-feature control"),

    // Per-user ranking battery ([[EvalOps.rankingMetrics]]): hits@3,
    // RR@3, DCG/IDCG/NDCG@3, precision and recall — the frequency
    // recommender judged against the held-out interaction split. DCG's
    // irrational discounts fold in ascending-rank order with literals
    // both sides share; IDCG is a prefix-table lookup.
    Q(
      "eval_rank_per_user",
      (s, d) => rankPerUser(s, d).orderBy("user_id"),
      Some(s"""WITH $rankCte
              |SELECT user_id, n_rel, hits, first_hit, rr, dcg, idcg,
              |  dcg / idcg AS ndcg,
              |  CAST(hits AS DOUBLE) / CAST(3.0 AS DOUBLE) AS precision_k,
              |  CASE WHEN n_rel >= 1
              |    THEN CAST(hits AS DOUBLE) / CAST(n_rel AS DOUBLE)
              |  END AS recall_k
              |FROM pu ORDER BY user_id""".stripMargin),
      "per-user ranking eval: hits/RR/NDCG@3 vs held-out interactions, ordered-fold DCG"),

    // Corpus-level ranking rollup ([[EvalOps.rankingSummary]]): MRR,
    // mean NDCG@3 and hit rate over evaluated users — the one-line
    // scorecard a ranker ships or doesn't ship on. Float means are
    // user-id-ordered folds divided once.
    Q(
      "eval_rank_summary",
      (s, d) =>
        EvalOps.rankingSummary(rankPerUser(s, d), "user_id")
          .orderBy("n_users"),
      Some(s"""WITH $rankCte,
              |q AS (SELECT user_id, hits, rr, dcg / idcg AS ndcg
              |      FROM pu WHERE n_rel >= 1)
              |SELECT CAST(count(*) AS BIGINT) AS n_users,
              |  CAST(sum(CASE WHEN hits >= 1 THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_hit,
              |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              |      list(rr ORDER BY user_id)), (acc, x) -> acc + x) /
              |    CAST(count(*) AS DOUBLE) AS mrr,
              |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              |      list(ndcg ORDER BY user_id)), (acc, x) -> acc + x) /
              |    CAST(count(*) AS DOUBLE) AS mean_ndcg,
              |  CAST(sum(CASE WHEN hits >= 1 THEN 1 ELSE 0 END) AS DOUBLE) /
              |    CAST(count(*) AS DOUBLE) AS hit_rate
              |FROM q ORDER BY n_users""".stripMargin),
      "ranking scorecard: MRR, mean NDCG@3, hit rate over evaluated users")
  )
}
