package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Staging.StagedDf

/** Statistical aggregates built for cross-engine reproducibility.
  *
  * Spark's own corr()/covar_samp()/regr_* accumulate doubles in scan
  * order, so their low bits differ run-to-run (and engine-to-engine) —
  * unusable under a hash-compare gate and a silent nondeterminism in any
  * pipeline that diffs its own outputs. The operators here quantize the
  * measures to integers first (caller-chosen fixed-point scale), so every
  * moment sum is exact, mergeable map-side like any other keyed
  * aggregate, and the closed forms are evaluated once on the exact sums
  * (IEEE ops + correctly-rounded sqrt → bit-equal anywhere). */
object StatOps {

  /** Per-group least-squares regression (slope, intercept) and Pearson r
    * of `yCol` on `xCol`, computed from integer moment sums after
    * flooring both measures times `scale` (scale=1 → whole units).
    * One keyed shuffle with map-side partials; 5 sums + a count per
    * group; closed forms on the driver-visible aggregate row — never a
    * second pass over the data. Gate: `stat_regression_per_key`.
    * At 100 TB widen the sums to DECIMAL(38,0) if n·(scale·max)² can
    * pass 2^63. */
  def quantizedRegression(
      df: DataFrame, groupCol: String, xCol: String, yCol: String,
      scale: Double = 1.0): DataFrame = {
    val qi = floor(col(xCol) * scale).cast("long")
    val pi = floor(col(yCol) * scale).cast("long")
    df.select(col(groupCol), qi.as("qi"), pi.as("pi"))
      .groupBy(groupCol)
      .agg(
        count(lit(1)).as("n"),
        sum(col("qi")).as("sx"), sum(col("pi")).as("sy"),
        sum(col("qi") * col("pi")).as("sxy"),
        sum(col("qi") * col("qi")).as("sxx"),
        sum(col("pi") * col("pi")).as("syy"))
      .select(col(groupCol), col("n"),
        col("n").cast("double").as("nd"),
        col("sx").cast("double").as("sxd"),
        col("sy").cast("double").as("syd"),
        col("sxy").cast("double").as("sxyd"),
        col("sxx").cast("double").as("sxxd"),
        col("syy").cast("double").as("syyd"))
      .withColumn("cov", col("nd") * col("sxyd") - col("sxd") * col("syd"))
      .withColumn("var_x", col("nd") * col("sxxd") - col("sxd") * col("sxd"))
      .withColumn("var_y", col("nd") * col("syyd") - col("syd") * col("syd"))
      .select(col(groupCol), col("n"),
        (col("cov") / col("var_x")).as("slope"),
        ((col("syd") - (col("cov") / col("var_x")) * col("sxd")) /
          col("nd")).as("intercept"),
        (col("cov") / sqrt(col("var_x") * col("var_y"))).as("r"))
  }

  /** Exact per-group order statistic by EXPLICIT element selection: the
    * value at 1-based rank `rankExpr` (a SQL expression over the group
    * size `n`) under the total order (`valueCol`, `idCol`). Selecting a
    * stored element under a total order is the only quantile definition
    * that is engine-portable: interpolating quantiles (Spark `percentile`,
    * DuckDB `quantile_cont`) manufacture values via float arithmetic whose
    * rounding differs, and `quantile_disc`'s even-n element choice is
    * engine-specific. One shuffle+sort per call; both window functions
    * (rank, group count) share it.
    */
  private def orderStatistic(
      df: DataFrame, groupCol: String, valueCol: String, idCol: String,
      rankExpr: String, asCol: String): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(col(valueCol), col(idCol))
    df.select(col(groupCol), col(valueCol), col(idCol))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(groupCol)))
      .filter(col("rn") === expr(rankExpr))
      .select(col(groupCol), col(valueCol).as(asCol))
  }

  /** Robust per-group outliers by median absolute deviation: flag rows
    * with |value − median| > k·MAD. Both medians are lower medians by
    * explicit element selection ([[orderStatistic]]), so the flags — and
    * the reported median/MAD/deviation themselves — are bit-identical on
    * any engine (|v−m| and k·MAD are single correctly-rounded IEEE ops).
    * Against the z-score gate this is the estimator that survives the
    * very outliers it hunts (breakdown point 50% vs 0%).
    *
    * Cost: two sort-based exact medians = two shuffles on `groupCol`
    * plus one broadcast-eligible join back. The declared exact yardstick:
    * at 100 TB per-group medians come from the binned-quantile sketch
    * (`sketch_quantile_binned`) and this operator is for the
    * fits-per-group-in-a-sort tier.
    */
  def madOutliers(
      df: DataFrame, groupCol: String, valueCol: String, idCol: String,
      k: Double = 3.0): DataFrame = {
    val med = orderStatistic(df, groupCol, valueCol, idCol,
      "(n + 1) div 2", "med")
    val withMed = df.select(col(groupCol), col(idCol), col(valueCol))
      .join(med, Seq(groupCol))
      .withColumn("dev", abs(col(valueCol) - col("med")))
    val mad = orderStatistic(withMed, groupCol, "dev", idCol,
      "(n + 1) div 2", "mad")
    withMed.join(mad, Seq(groupCol))
      .filter(col("dev") > lit(k) * col("mad"))
      .select(col(groupCol), col(idCol), col(valueCol),
        col("med"), col("mad"), col("dev"))
  }

  /** Per-group winsorization: clip `valueCol` to the [loPct, hiPct]
    * percentile band, where both bounds are stored elements at explicit
    * ceil(pct·n/100) ranks — no interpolation, engine-portable like
    * [[madOutliers]]. One sort shuffle derives both bounds; the clip is
    * a broadcast-eligible join + `least`/`greatest`. The standard heavy-
    * tail taming step before training-data feature export.
    */
  def winsorize(
      df: DataFrame, groupCol: String, valueCol: String, idCol: String,
      loPct: Int = 5, hiPct: Int = 95): DataFrame = {
    require(0 < loPct && loPct < hiPct && hiPct <= 100,
      s"winsorize: bad percentile band [$loPct, $hiPct]")
    val w = Window.partitionBy(groupCol).orderBy(col(valueCol), col(idCol))
    val bounds = df.select(col(groupCol), col(valueCol), col(idCol))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(groupCol)))
      .withColumn("lo_rn", expr(s"greatest(1L, ($loPct * n + 99) div 100)"))
      .withColumn("hi_rn", expr(s"($hiPct * n + 99) div 100"))
      .filter(col("rn") === col("lo_rn") || col("rn") === col("hi_rn"))
      .groupBy(groupCol)
      .agg(
        min(when(col("rn") === col("lo_rn"), col(valueCol))).as("lo"),
        max(when(col("rn") === col("hi_rn"), col(valueCol))).as("hi"))
    df.select(col(groupCol), col(idCol), col(valueCol))
      .join(bounds, Seq(groupCol))
      .withColumn("clipped",
        least(greatest(col(valueCol), col("lo")), col("hi")))
      .select(col(groupCol), col(idCol), col(valueCol),
        col("lo"), col("hi"), col("clipped"))
  }

  /** Per-group robust standardization: (value − median) / IQR, with
    * median and quartiles as stored elements at explicit ranks (lower
    * median; ceil(25n/100) / ceil(75n/100) quartiles) under the total
    * order (`valueCol`, `idCol`) — the engine-portable quantile
    * definition ([[madOutliers]]). The feature-scaling transform that
    * shrugs off the outliers that wreck mean/stddev standardization.
    * Degenerate groups (IQR 0) yield NULL `scaled` instead of an ANSI
    * division error. One sort shuffle derives all three statistics.
    */
  def robustScale(
      df: DataFrame, groupCol: String, valueCol: String,
      idCol: String): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(col(valueCol), col(idCol))
    val stats = df.select(col(groupCol), col(valueCol), col(idCol))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(groupCol)))
      .withColumn("med_rn", expr("(n + 1) div 2"))
      .withColumn("q1_rn", expr("greatest(1L, (25 * n + 99) div 100)"))
      .withColumn("q3_rn", expr("(75 * n + 99) div 100"))
      .filter(col("rn") === col("med_rn") || col("rn") === col("q1_rn") ||
        col("rn") === col("q3_rn"))
      .groupBy(groupCol)
      .agg(
        min(when(col("rn") === col("med_rn"), col(valueCol))).as("med"),
        min(when(col("rn") === col("q1_rn"), col(valueCol))).as("q1"),
        max(when(col("rn") === col("q3_rn"), col(valueCol))).as("q3"))
      .withColumn("iqr", col("q3") - col("q1"))
    df.select(col(groupCol), col(idCol), col(valueCol))
      .join(stats, Seq(groupCol))
      .select(col(groupCol), col(idCol), col(valueCol),
        col("med"), col("iqr"),
        when(col("iqr") =!= 0.0,
          (col(valueCol) - col("med")) / col("iqr"))
          .otherwise(lit(null).cast("double")).as("scaled"))
  }

  /** Global row number under a total order WITHOUT a single-partition
    * sort — the scalable form of `row_number() OVER (ORDER BY …)`,
    * which Spark executes by moving ALL data to one partition (it even
    * logs a warning). Plan: range-repartition on the order columns and
    * PIN the sampled range boundaries with an eager checkpoint (the
    * boundary sample is job-nondeterministic, so the offset pass and
    * the rank pass must see the SAME partitioning), then per-partition
    * row_number plus broadcast partition offsets. The offsets rollup is
    * #partitions rows — the only "global" window runs over that, never
    * over data. Ranks equal the total-order ranks whatever boundaries
    * the sampler picked.
    *
    * `order` must be a TOTAL order (add a key tiebreaker) or ranks at
    * ties become partitioning-dependent.
    */
  def globalRowNumber(
      df: DataFrame, order: Seq[Column], outCol: String,
      partitions: Int = 0): DataFrame = {
    require(order.nonEmpty, "globalRowNumber: empty ordering")
    val p = if (partitions > 0) partitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val staged = df.repartitionByRange(p, order: _*).stagePin()
    val withPid = staged
      .withColumn("_pid", org.apache.spark.sql.functions.spark_partition_id())
    val offsets = withPid.groupBy("_pid").agg(count(lit(1)).as("_c"))
      .withColumn("_offset",
        sum("_c").over(Window.orderBy("_pid")
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("_pid"), coalesce(col("_offset"), lit(0L)).as("_offset"))
    withPid.join(broadcast(offsets), Seq("_pid"))
      .withColumn(outCol,
        row_number().over(Window.partitionBy("_pid").orderBy(order: _*)) +
          col("_offset"))
      .drop("_pid", "_offset")
  }

  /** Global running (prefix) sum under a total order without a
    * single-partition window — the companion of [[globalRowNumber]] for
    * cumulative-share analytics (Pareto/ABC curves, cumulative
    * coverage). Same plan: checkpoint-pinned range repartition, then
    * per-partition running sum plus broadcast per-partition prefix
    * totals. Pass an EXACT-typed value column (integer cents, DECIMAL):
    * the prefix offsets make float accumulation order explicit, but
    * only exact types make it engine-portable. */
  def globalRunningSum(
      df: DataFrame, order: Seq[Column], valueCol: String, outCol: String,
      partitions: Int = 0): DataFrame =
    globalRunningSums(df, order, Seq(valueCol -> outCol), partitions)

  /** Multi-column variant of [[globalRunningSum]]: all prefix sums share
    * ONE range staging and one offsets broadcast (the KS statistic needs
    * two cumulative counts under the same total order — staging twice
    * would be two shuffles for no reason). */
  def globalRunningSums(
      df: DataFrame, order: Seq[Column], valueCols: Seq[(String, String)],
      partitions: Int = 0): DataFrame = {
    require(order.nonEmpty, "globalRunningSums: empty ordering")
    require(valueCols.nonEmpty, "globalRunningSums: no value columns")
    val p = if (partitions > 0) partitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val staged = df.repartitionByRange(p, order: _*).stagePin()
    val withPid = staged
      .withColumn("_pid", org.apache.spark.sql.functions.spark_partition_id())
    val totals = withPid.groupBy("_pid").agg(
      valueCols.map { case (v, _) => sum(col(v)).as(s"_t_$v") }.head,
      valueCols.map { case (v, _) => sum(col(v)).as(s"_t_$v") }.tail: _*)
    val offsets = valueCols.foldLeft(totals) { case (t, (v, _)) =>
      val zero = lit(0).cast(totals.schema(s"_t_$v").dataType)
      t.withColumn(s"_off_$v",
        coalesce(
          sum(s"_t_$v").over(Window.orderBy("_pid")
            .rowsBetween(Window.unboundedPreceding, -1)),
          zero))
    }.select(col("_pid") +: valueCols.map { case (v, _) => col(s"_off_$v") }: _*)
    val run = Window.partitionBy("_pid").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = withPid.join(broadcast(offsets), Seq("_pid"))
    valueCols.foldLeft(joined) { case (d, (v, out)) =>
      d.withColumn(out, sum(col(v)).over(run) + col(s"_off_$v"))
    }.drop("_pid" +: valueCols.map { case (v, _) => s"_off_$v" }: _*)
  }

  /** Exact per-group WEIGHTED lower median: the smallest value whose
    * cumulative weight reaches half the group total under the
    * (`valueCol`, `idCol`) total order — the order-statistic family's
    * weighted member (volume-weighted price midpoints, sample-weighted
    * survey medians). Pure integer arithmetic: weights cast to long,
    * the qualifying test is 2·cumw ≥ totw (no halving), and the result
    * is a STORED element — engine-portable like [[madOutliers]]'
    * medians, never interpolated. Rows with non-positive weight are
    * excluded (they cannot host mass and would tie cumulative sums).
    * One sort shuffle per group; the argmin over the qualifying suffix
    * rides the same pass as a struct-min aggregate.
    *
    * @return (`groupCol`, `weighted_median`, `total_weight`).
    */
  def weightedMedian(
      df: DataFrame, groupCol: String, valueCol: String,
      weightCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(col(valueCol), col(idCol))
    df.select(col(groupCol), col(valueCol), col(idCol),
        col(weightCol).cast("long").as("_w"))
      .filter(col("_w") > 0)
      .withColumn("_cw", sum("_w").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_tw", sum("_w").over(Window.partitionBy(groupCol)))
      .filter(col("_cw") * 2 >= col("_tw"))
      .groupBy(col(groupCol))
      .agg(min(struct(col("_cw"), col(valueCol).as("v"))).as("_m"),
        max("_tw").as("total_weight"))
      .select(col(groupCol), col("_m.v").as("weighted_median"),
        col("total_weight"))
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic between the rows
    * where `flagCol` is 1 (sample A) and 0 (sample B): D = max over the
    * merged order of |F_A − F_B|, computed as max |c_A·n_B − c_B·n_A| /
    * (n_A·n_B) — the numerator is pure INTEGER arithmetic over prefix
    * counts, so the statistic is bit-exact on any engine (the classical
    * nonparametric A/B distribution test, no normality assumption,
    * unlike the z-test's proportion comparison). Empirical CDFs are
    * evaluated only at the LAST row of each distinct-value block — the
    * classical statistic. Evaluating mid-block prefixes would bias D
    * upward under cross-sample ties (two identical tied samples would
    * report D ≈ 0.5 instead of 0); since both prefix counts are
    * nondecreasing, the per-value CDF step is exactly (max c_A,
    * max c_B) within the block, one keyed rollup on the staged pass.
    * One range-staged pass for both prefix counts; one scalar rollup.
    */
  def ksStatistic(
      df: DataFrame, flagCol: String, valueCol: String,
      idCol: String): DataFrame = {
    val base = df.select(col(valueCol), col(idCol),
      col(flagCol).cast("long").as("_fa"),
      (lit(1L) - col(flagCol).cast("long")).as("_fb"))
    val cum = globalRunningSums(base,
      Seq(col(valueCol), col(idCol)),
      Seq("_fa" -> "c_a", "_fb" -> "c_b"))
      .groupBy(col(valueCol))
      .agg(max("c_a").as("c_a"), max("c_b").as("c_b"))
    val n = cum.agg(max("c_a").as("n_a"), max("c_b").as("n_b"))
    cum.join(broadcast(n))
      .withColumn("_dn",
        abs(col("c_a") * col("n_b") - col("c_b") * col("n_a")))
      .agg(max("n_a").as("n_a"), max("n_b").as("n_b"),
        max("_dn").as("d_num"))
      .withColumn("d",
        col("d_num").cast("double") /
          (col("n_a") * col("n_b")).cast("double"))
  }

  /** Exact 1-D Wasserstein-1 distance (earth mover's distance) between
    * the `flagCol`-1 sample (A) and the rest (B) over an INTEGER value
    * column — the drift metric that, unlike KS (sup norm) or PSI/JS
    * (bin-mass divergences), weighs HOW FAR the mass moved:
    * W₁ = ∫ |F_A − F_B| dx = Σᵢ |F_A(vᵢ) − F_B(vᵢ)| · (vᵢ₊₁ − vᵢ)
    * over consecutive distinct values. A distribution that shifts by c
    * scores exactly |c| whatever its shape — the property monitoring
    * teams want when "how much did it move" matters more than "did it
    * move".
    *
    * Exactness: the same integer-numerator discipline as
    * [[ksStatistic]] — per-value cumulative counts ride
    * [[globalRunningSums]] (range-staged prefix sums, no global
    * window over the corpus), the per-value term is the exact integer
    * |c_a·n_b − c_b·n_a| · gap, and ONE final division by n_a·n_b maps
    * to the value scale. Callers with continuous doubles quantize
    * first (the gate uses cents); the result is then exact on the
    * quantized grid, and any engine replays it bit-identically.
    *
    * Plan: one corpus pass for the running sums, a per-value rollup
    * (domain-sized), then a lead() window over the DISTINCT-value
    * table — domain-sized by construction, the [[kendallTauB]]
    * discipline: the unpartitioned window never sees corpus rows.
    *
    * @return one row: (`n_a`, `n_b`, `w1_num` = Σ|c_a·n_b−c_b·n_a|·gap,
    *         `w1` = w1_num / (n_a·n_b) in value units)
    */
  def wasserstein1(
      df: DataFrame, flagCol: String, valueCol: String,
      idCol: String): DataFrame = {
    val base = df.select(col(valueCol), col(idCol),
      col(flagCol).cast("long").as("_fa"),
      (lit(1L) - col(flagCol).cast("long")).as("_fb"))
    val cum = globalRunningSums(base,
      Seq(col(valueCol), col(idCol)),
      Seq("_fa" -> "c_a", "_fb" -> "c_b"))
      .groupBy(col(valueCol))
      .agg(max("c_a").as("c_a"), max("c_b").as("c_b"))
    val n = cum.agg(max("c_a").as("n_a"), max("c_b").as("n_b"))
    // lead() over the distinct-value grid WITHOUT a single-partition
    // window (the [[globalRowNumber]] discipline): the grid is
    // domain-sized, but a near-continuous quantized domain makes "all
    // distinct values on one partition" the scale cliff. Range-stage
    // the grid (pinned: the boundary sample is job-nondeterministic,
    // and two passes read it), lead within each range partition, and
    // patch each partition's LAST row with the next non-empty
    // partition's first value from a #partitions-row broadcast; the
    // global maximum keeps a NULL gap, exactly as the global lead gave
    // it.
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    val staged = cum.repartitionByRange(p, col(valueCol)).stagePin()
    val withPid = staged
      .withColumn("_pid", org.apache.spark.sql.functions.spark_partition_id())
    val nexts = withPid.groupBy("_pid").agg(min(valueCol).as("_first"))
      .withColumn("_next", lead(col("_first"), 1).over(Window.orderBy("_pid")))
      .select(col("_pid"), col("_next")) // #partitions rows
    val gapped = withPid
      .withColumn("_lead",
        lead(col(valueCol), 1).over(
          Window.partitionBy("_pid").orderBy(valueCol)))
      .join(broadcast(nexts), Seq("_pid"), "left_outer")
      .withColumn("_gap",
        coalesce(col("_lead"), col("_next")) - col(valueCol))
    gapped.join(broadcast(n))
      .agg(max("n_a").as("n_a"), max("n_b").as("n_b"),
        sum(when(col("_gap").isNotNull,
          abs(col("c_a") * col("n_b") - col("c_b") * col("n_a"))
            * col("_gap")).otherwise(lit(0L))).as("w1_num"))
      .withColumn("w1",
        col("w1_num").cast("double") /
          (col("n_a") * col("n_b")).cast("double"))
  }

  /** Exact Mann–Whitney U (rank-sum) between the `flagCol`-1 sample (A)
    * and the rest (B), with the standard average-rank tie handling —
    * carried as DOUBLED integers (a tie-averaged rank is (first+last)/2,
    * so 2·rank is always integral) until the single final halving, so
    * the whole statistic is exact integer arithmetic. U_A = R_A −
    * n_A(n_A+1)/2; the KS test ([[ksStatistic]]) compares CDF shape,
    * this one ranks — the two standard nonparametric A/B tests.
    * Plan: one global rank ([[globalRowNumber]]), one per-value tie
    * rollup joined back, one scalar aggregate.
    */
  def mannWhitneyU(
      df: DataFrame, flagCol: String, valueCol: String,
      idCol: String): DataFrame = {
    val ranked = globalRowNumber(
      df.select(col(valueCol), col(idCol),
        col(flagCol).cast("long").as("_fa")),
      Seq(col(valueCol), col(idCol)), "_i")
    val ties = ranked.groupBy(col(valueCol))
      .agg((min("_i") + max("_i")).as("_avg2")) // 2x the tie-averaged rank
    ranked.join(ties, Seq(valueCol))
      .agg(
        sum("_fa").as("n_a"),
        (count(lit(1)) - sum("_fa")).as("n_b"),
        sum(when(col("_fa") === 1L, col("_avg2")).otherwise(0L)).as("r2_a"))
      .withColumn("u_a",
        (col("r2_a") - col("n_a") * (col("n_a") + 1)).cast("double") / 2.0)
      .select(col("n_a"), col("n_b"), col("r2_a"), col("u_a"))
  }

  /** Exact two-sample Cramér–von Mises statistic between the `flagCol`-1
    * sample (A) and the rest (B) — the L2 complement of the KS sup-norm:
    * KS sees the single worst CDF gap, CvM integrates EVERY gap, so it
    * catches broad shifts KS under-weighs. Anderson's rank form
    *
    *   U = n_a·Σ_i (r_i − i)² + n_b·Σ_j (s_j − j)²
    *
    * (r/s = combined-sample ranks, i/j = within-sample ranks) carried as
    * DOUBLED integers — the [[mannWhitneyU]] trick: the tie-averaged
    * combined rank is (first+last)/2, so 2r is integral, and the
    * within-sample tie group contributes an assignment-invariant
    * Σ(r−i)² (the i's of a tie group are a fixed consecutive run) — so
    * `u4` = 4U is an exact order-free integer sum.
    *
    * Scale shape: within-sample ranks are NOT a per-sample global window
    * — the running flag counts from ONE [[globalRunningSums]] pass serve
    * as combined position (c_a+c_b), within-A rank (c_a), and within-B
    * rank (c_b) simultaneously; then a per-value tie rollup and one
    * scalar aggregate, no unpartitioned corpus window anywhere.
    *
    * `t_stat` = U/(n_a·n_b·N) − (4·n_a·n_b − 1)/(6N) is the standard
    * normalization (≈ 1/6 under H0) — two exact-integer divisions, so
    * both engines reproduce it bit-identically.
    *
    * @return one row: (`n_a`, `n_b`, `u4` = 4U, `t_stat`)
    */
  def cramerVonMises(
      df: DataFrame, flagCol: String, valueCol: String,
      idCol: String): DataFrame = {
    val base = df.select(col(valueCol), col(idCol),
      col(flagCol).cast("long").as("_fa"),
      (lit(1L) - col(flagCol).cast("long")).as("_fb"))
    val cum = globalRunningSums(base,
      Seq(col(valueCol), col(idCol)),
      Seq("_fa" -> "_ca", "_fb" -> "_cb"))
      .withColumn("_pos", col("_ca") + col("_cb"))
    val ties = cum.groupBy(col(valueCol))
      .agg((min("_pos") + max("_pos")).as("_r2"))
    // u4 ~ 4N⁴ clears 2⁶³ near N ≈ 10⁵ and 2⁵³ (double-exact) far sooner,
    // so the squared terms accumulate in DECIMAL(38,0) — the
    // [[acfByKey]] HUGEINT discipline — and u4 is EMITTED as decimal.
    cum.join(ties, Seq(valueCol))
      .withColumn("_d",
        (when(col("_fa") === 1L, col("_r2") - lit(2L) * col("_ca"))
          .otherwise(col("_r2") - lit(2L) * col("_cb")))
          .cast("decimal(38,0)"))
      .agg(
        sum("_fa").as("n_a"),
        sum("_fb").as("n_b"),
        sum(when(col("_fa") === 1L, col("_d") * col("_d"))
          .otherwise(lit(0L).cast("decimal(38,0)"))).as("_sa"),
        sum(when(col("_fa") === 0L, col("_d") * col("_d"))
          .otherwise(lit(0L).cast("decimal(38,0)"))).as("_sb"))
      .select(col("n_a"), col("n_b"),
        (col("n_a").cast("decimal(38,0)") * col("_sa") +
          col("n_b").cast("decimal(38,0)") * col("_sb"))
          .cast("decimal(38,0)").as("u4"))
      .withColumn("t_stat",
        // denominators multiply in DOUBLE: the long product
        // 4·n_a·n_b·N wraps past ~2M rows (found in review) — doubles
        // are overflow-free and each factor is an exact integer, so
        // both engines still reproduce the same IEEE product
        col("u4").cast("double") /
          (lit(4.0) * col("n_a").cast("double") * col("n_b").cast("double") *
            (col("n_a") + col("n_b")).cast("double")) -
          (lit(4.0) * col("n_a").cast("double") * col("n_b").cast("double") -
            lit(1.0)) /
            (lit(6.0) * (col("n_a") + col("n_b")).cast("double")))
  }

  /** Pettitt changepoint test per key — the rank-based (distribution-free)
    * single-changepoint detector: U_t = Σ_{i≤t} Σ_{j>t} sgn(x_j − x_i),
    * K = max_t |U_t| over t = 1..n−1, changepoint = the first t attaining
    * K. The monitoring question CUSUM answers for the mean, asked
    * nonparametrically — robust to the heavy tails event values have.
    *
    * Exactness + scale: the O(n²) double sum collapses to the exact
    * recurrence U_t = U_{t−1} + W_t with W_t = #{x_j > x_t} − #{x_j < x_t}
    * (all j), and W_t is pure rank arithmetic: n − eq_t − 2·(rank_t − 1)
    * where rank is min-rank by value and eq the value's tie count. So the
    * whole test is three within-key windows (value rank, tie count,
    * running sum by time) — integer end to end, partition-parallel over
    * keys, no corpus-global state. U_n ≡ 0 by construction (asserted in
    * the spec); keys with a single row have no interior t and are absent.
    *
    * @return one row per key: (`keyCol`, `n`, `k_stat` = max|U_t|,
    *         `cp_idx` = first 1-based t attaining it)
    */
  def pettittChangepoint(
      df: DataFrame, keyCol: String, tsCol: String, idCol: String,
      valueCol: String, scale: Double = 100.0): DataFrame = {
    val base = df.select(col(keyCol).as("_k"),
      col(tsCol).as("_ts"), col(idCol).as("_id"),
      floor(col(valueCol) * scale).cast("long").as("_y"))
    val byKey = Window.partitionBy("_k")
    val byTime = Window.partitionBy("_k").orderBy(col("_ts"), col("_id"))
    val u = base
      .withColumn("_n", count(lit(1)).over(byKey))
      .withColumn("_rnk",
        rank().over(Window.partitionBy("_k").orderBy(col("_y"))).cast("long"))
      .withColumn("_eq",
        count(lit(1)).over(Window.partitionBy("_k", "_y")))
      .withColumn("_w",
        col("_n") - col("_eq") - lit(2L) * col("_rnk") + lit(2L))
      .withColumn("_i", row_number().over(byTime).cast("long"))
      .withColumn("_u", sum("_w").over(
        byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("_i") < col("_n")) // interior cuts only: t = 1..n−1
      .withColumn("_au", abs(col("_u")))
    u.withColumn("_mx", max("_au").over(byKey))
      .groupBy(col("_k").as(keyCol))
      .agg(max("_n").as("n"),
        max("_au").as("k_stat"),
        min(when(col("_au") === col("_mx"), col("_i"))).as("cp_idx"))
  }

  /** Mutual information (and marginal entropies, in nats) of two
    * categorical columns — the dependence profile a curation team reads
    * before stratifying: MI(lang; source) ≈ 0 says the split is safe to
    * randomize, large MI says one column leaks the other. Also emits
    * normalized MI `mi / √(h_x·h_y)` for a scale-free [0,1] reading.
    *
    * Exactness: every probability stays an exact integer ratio until
    * ONE log per term — and that log is [[graft.expr.PortableLnRatio]],
    * the explicit-algorithm `ln(a/b)` both engines run step-identically
    * (native libms disagree on the last ulp ~0.1% of the time, which a
    * hash-matched gate cannot tolerate). Products like `n_xy·n` stay
    * exact to ~3·10⁹ rows before needing widening. Plan: one keyed
    * rollup to the |X|×|Y| cell table, marginals derived FROM it (no
    * second corpus scan), three 1-row folds crossed (declared scalar
    * broadcasts).
    *
    * @return one row: (`n`, `n_cells`, `mi`, `h_x`, `h_y`, `nmi` —
    *         null when either marginal entropy is 0)
    */
  def mutualInformation(
      df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cxy = df.groupBy(col(xCol).as("_x"), col(yCol).as("_y"))
      .agg(count(lit(1)).as("_nxy"))
    val cx = cxy.groupBy(col("_x")).agg(sum("_nxy").as("_nx"))
    val cy = cxy.groupBy(col("_y")).agg(sum("_nxy").as("_ny"))
    val tot = cxy.agg(sum("_nxy").as("_n"))
    // Both sides compute ln via [[graft.expr.PortableLnRatio]] — the
    // explicit-algorithm log — because no two libms agree on the last
    // ulp and this gate hash-matches doubles.
    def entropyOf(cat: DataFrame, keyCol: String, cntCol: String,
        out: String): DataFrame =
      cat.crossJoin(broadcast(tot)) // 1-row total (declared)
        .withColumn("_t",
          -(col(cntCol).cast("double") / col("_n").cast("double")) *
            graft.expr.PortableLnRatio.ln(col(cntCol), col("_n")))
        .agg(aggregate(
          transform(
            array_sort(collect_list(struct(col(keyCol), col("_t")))),
            s => s.getField("_t")),
          lit(0.0), (acc, x) => acc + x).as(out))
    val mi = cxy
      .join(cx, Seq("_x")).join(cy, Seq("_y"))
      .crossJoin(broadcast(tot)) // 1-row total (declared)
      .withColumn("_t",
        col("_nxy").cast("double") / col("_n").cast("double") *
          graft.expr.PortableLnRatio.ln(col("_nxy") * col("_n"),
            col("_nx") * col("_ny")))
      .agg(
        max("_n").as("n"),
        count(lit(1)).as("n_cells"),
        aggregate(
          transform(
            array_sort(collect_list(struct(col("_x"), col("_y"),
              col("_t")))),
            s => s.getField("_t")),
          lit(0.0), (acc, x) => acc + x).as("mi"))
    mi.crossJoin(broadcast(entropyOf(cx, "_x", "_nx", "h_x")))
      .crossJoin(broadcast(entropyOf(cy, "_y", "_ny", "h_y")))
      .withColumn("nmi",
        when(col("h_x") > 0 && col("h_y") > 0,
          col("mi") / (sqrt(col("h_x")) * sqrt(col("h_y")))))
      .select("n", "n_cells", "mi", "h_x", "h_y", "nmi")
  }

  /** Pearson chi-square test of independence + Cramér's V for two
    * categorical columns — the frequentist sibling of
    * [[mutualInformation]] (MI measures the dependence in nats, χ²/V
    * give the test statistic and the [0,1] effect size analysts
    * actually quote). The statistic needs the FULL R×C grid — an
    * unobserved cell still contributes its expected mass e (since
    * (0−e)²/e = e) — so the marginal DOMAINS are crossed (R×C rows,
    * corpus-independent; [[kendallTauB]]'s bounded-domain discipline)
    * and observed counts left-join in. Per cell, with exact integer
    * marginals: e = (nx·ny)/n as ONE double division,
    * term = (o − e)·(o − e)/e — every op a deterministic IEEE double —
    * and the sum folds in (x, y) order, so the statistic hash-gates
    * with no portable-ln machinery (sqrt is correctly rounded by
    * spec). nx·ny needs n ≤ ~3·10⁹; widen to DECIMAL past that.
    *
    * Plan: one corpus rollup to occupied cells, two marginal rollups
    * FROM it, the R×C domain cross (declared broadcast), one fold.
    *
    * @return one row: (`n`, `n_rows`, `n_cols`, `dof`, `chi2`,
    *         `cramers_v` — null when dof = 0).
    */
  def chiSquareIndependence(
      df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cxy = df.groupBy(col(xCol).as("_x"), col(yCol).as("_y"))
      .agg(count(lit(1)).as("_nxy"))
      .stagePin() // three consumers: both marginals + the observed join
    val cx = cxy.groupBy(col("_x")).agg(sum("_nxy").as("_nx"))
    val cy = cxy.groupBy(col("_y")).agg(sum("_nxy").as("_ny"))
    val tot = cxy.agg(sum("_nxy").as("_n"))
    val grid = cx.crossJoin(broadcast(cy)) // R×C domain cross (declared)
      .join(cxy, Seq("_x", "_y"), "left_outer")
      .crossJoin(broadcast(tot)) // 1-row total (declared)
      .withColumn("_o", coalesce(col("_nxy"), lit(0L)))
      .withColumn("_e",
        (col("_nx") * col("_ny")).cast("double") / col("_n").cast("double"))
      .withColumn("_t",
        (col("_o").cast("double") - col("_e")) *
          (col("_o").cast("double") - col("_e")) / col("_e"))
    grid
      .agg(
        max("_n").as("n"),
        count_distinct(col("_x")).as("n_rows"),
        count_distinct(col("_y")).as("n_cols"),
        aggregate(
          transform(
            array_sort(collect_list(struct(col("_x"), col("_y"),
              col("_t")))),
            s => s.getField("_t")),
          lit(0.0), (acc, x) => acc + x).as("chi2"))
      .withColumn("dof", (col("n_rows") - 1) * (col("n_cols") - 1))
      .withColumn("cramers_v",
        when(col("dof") > 0 && col("n") > 0,
          sqrt(col("chi2") /
            (col("n") * least(col("n_rows") - 1, col("n_cols") - 1))
              .cast("double"))))
      .select("n", "n_rows", "n_cols", "dof", "chi2", "cramers_v")
  }

  /** Kendall's τ-b rank correlation over QUANTIZED measures — the
    * concordance twin of [[spearmanRho]] (τ counts pair inversions,
    * Spearman correlates ranks; τ's interpretation "P(concordant) −
    * P(discordant)" is the one A/B analysts quote). Naively O(n²) pair
    * comparisons; here the corpus collapses to its JOINT DISTINCT-VALUE
    * histogram in one keyed rollup, and every statistic is a sum over
    * CELL pairs:
    *   C = Σ n_c·n_c' over cells with x<x' ∧ y<y' (concordant mass)
    *   D = Σ over x<x' ∧ y>y' (discordant)
    *   τ-b = (C − D) / √((T0 − T1)(T0 − T2)),  T0 = n(n−1)/2,
    *   T1/T2 = Σ t(t−1)/2 over per-x / per-y marginal tie counts.
    * The cell-pair join is quadratic in the DOMAIN, not the corpus —
    * quantized measures pin it (50 quantities × ~100 price buckets =
    * ≤5k cells whatever the corpus), which is exactly why the operator
    * demands quantized inputs. All masses in DECIMAL(38,0); one double
    * division over two correctly-rounded sqrts — bit-equal anywhere.
    * The REPORTED concordant/discordant columns cast to long for the
    * gate surface, which caps them at ~2⁶³ ≈ (2·10⁹ rows)²/2 — past
    * ~4·10⁹ input rows keep the decimals (tau_b itself is computed
    * from the decimals and is fine at any n within 38 digits).
    *
    * @return one row: (`n`, `n_cells`, `concordant`, `discordant`,
    *         `tau_b` — null when either margin is constant).
    */
  def kendallTauB(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val cells = df.groupBy(col(xCol).as("_x"), col(yCol).as("_y"))
      .agg(count(lit(1)).as("_c"))
      .stagePin() // five consumers: C, D, both tie margins, the total
    val conc = cells.as("a")
      .join(broadcast(cells.as("b")),
        col("a._x") < col("b._x") && col("a._y") < col("b._y"))
      .agg(coalesce(sum(col("a._c").cast(d38) * col("b._c").cast(d38)),
        lit(0).cast(d38)).as("concordant"))
    val disc = cells.as("a")
      .join(broadcast(cells.as("b")),
        col("a._x") < col("b._x") && col("a._y") > col("b._y"))
      .agg(coalesce(sum(col("a._c").cast(d38) * col("b._c").cast(d38)),
        lit(0).cast(d38)).as("discordant"))
    // DOUBLED tie/total masses (t·(t−1), no /2): decimal division grows
    // scale; τ-b rescales freely — τ = 2(C−D)/√((T0′−T1′)(T0′−T2′))
    def tieMass(c: String): Column =
      sum(col(c).cast(d38) * (col(c).cast(d38) - 1))
    val tx = cells.groupBy("_x").agg(sum("_c").as("_t"))
      .agg(tieMass("_t").as("_t1"))
    val ty = cells.groupBy("_y").agg(sum("_c").as("_t"))
      .agg(tieMass("_t").as("_t2"))
    val nc = cells.agg(count(lit(1)).as("n_cells"),
      sum(col("_c")).as("n"))
    nc.crossJoin(broadcast(conc)) // 1-row mass frames (declared)
      .crossJoin(broadcast(disc))
      .crossJoin(broadcast(tx))
      .crossJoin(broadcast(ty))
      .select(col("n"), col("n_cells"),
        col("concordant"), col("discordant"),
        (col("n").cast(d38) * (col("n").cast(d38) - 1)).as("_t0"),
        col("_t1"), col("_t2"))
      .withColumn("tau_b",
        when(col("_t0") > col("_t1") && col("_t0") > col("_t2"),
          (lit(2).cast(d38) * (col("concordant") - col("discordant")))
            .cast("double") /
            (sqrt((col("_t0") - col("_t1")).cast("double")) *
              sqrt((col("_t0") - col("_t2")).cast("double")))))
      .select(col("n"), col("n_cells"),
        col("concordant").cast("long").as("concordant"),
        col("discordant").cast("long").as("discordant"),
        col("tau_b"))
  }

  /** Jensen–Shannon divergence between a split's two category
    * histograms — the SYMMETRIC, always-finite drift measure (KL blows
    * up on any category one side lacks; JSD caps at ln 2), the number a
    * curation team tracks per ingest beside the drift-bin counts. Every
    * log is the exact integer rational the counts imply:
    * p_i/m_i = 2·a_i·B / (a_i·B + b_i·A), so each term is one double
    * ratio times one [[graft.expr.PortableLnRatio]] — no libm anywhere —
    * and the two sums fold in category order ([[mutualInformation]]'s
    * discipline). Zero-count categories contribute an exact +0.0 (the
    * standard 0·ln0 = 0 convention), which cannot perturb the fold.
    * Products a_i·B stay in longs through ~3·10⁹ rows; widen past that.
    *
    * One keyed rollup (both sides in one pass) + a 1-row totals
    * broadcast onto the category-domain frame.
    *
    * @param sideCol boolean column: true rows form P, false rows Q.
    * @return one row: (`n_a`, `n_b`, `n_cats`, `jsd`,
    *         `jsd_norm` = jsd/ln 2 ∈ [0,1]) — null metrics when either
    *         side is empty (JSD undefined).
    */
  def jsDivergence(
      df: DataFrame, keyCol: String, sideCol: String): DataFrame = {
    // pinned: the category rollup feeds BOTH the totals aggregate and
    // the terms join (the unpinned two-consumer shape hitsUnits measured
    // at 4x); the frame is category-domain-sized after ONE corpus pass
    val cells = df.groupBy(col(keyCol).as("_k"))
      .agg(sum(when(col(sideCol), 1L).otherwise(0L)).as("_a"),
        sum(when(col(sideCol), 0L).otherwise(1L)).as("_b"))
      .stagePin()
    val tot = cells.agg(sum("_a").as("_ta"), sum("_b").as("_tb"))
    val terms = cells.crossJoin(broadcast(tot)) // 1-row totals (declared)
      .withColumn("_tp",
        when(col("_a") > 0 && col("_tb") > 0,
          (col("_a").cast("double") / col("_ta").cast("double")) *
            graft.expr.PortableLnRatio.ln(
              lit(2L) * col("_a") * col("_tb"),
              col("_a") * col("_tb") + col("_b") * col("_ta")))
          .otherwise(lit(0.0)))
      .withColumn("_tq",
        when(col("_b") > 0 && col("_ta") > 0,
          (col("_b").cast("double") / col("_tb").cast("double")) *
            graft.expr.PortableLnRatio.ln(
              lit(2L) * col("_b") * col("_ta"),
              col("_b") * col("_ta") + col("_a") * col("_tb")))
          .otherwise(lit(0.0)))
    def fold(c: String): Column =
      aggregate(
        transform(array_sort(collect_list(struct(col("_k"), col(c)))),
          s => s.getField(c)),
        lit(0.0), (acc, x) => acc + x)
    terms
      .agg(max("_ta").as("n_a"), max("_tb").as("n_b"),
        count(lit(1)).as("n_cats"),
        fold("_tp").as("_sp"), fold("_tq").as("_sq"))
      .select(col("n_a"), col("n_b"), col("n_cats"),
        when(col("n_a") > 0 && col("n_b") > 0,
          lit(0.5) * col("_sp") + lit(0.5) * col("_sq")).as("jsd"),
        when(col("n_a") > 0 && col("n_b") > 0,
          (lit(0.5) * col("_sp") + lit(0.5) * col("_sq")) /
            lit(graft.expr.PortableLnRatio.Ln2)).as("jsd_norm"))
  }

  /** Per-key EWMA level: the exponentially weighted moving average of
    * each key's value series in time order, seeded at the first
    * observation (`s₁ = x₁`, `sᵢ = α·xᵢ + (1−α)·sᵢ₋₁`) — the smoothed
    * "current level" an alerting/monitoring pipeline keeps per entity.
    * The fold is SEQUENTIAL BY DEFINITION (the recurrence rounds at
    * every step), so exactness here means: both engines fold the same
    * values in the same (ts, id) order with the same constants — a
    * sorted collected array folded left, `list_reduce` on the oracle
    * side. Pick α an exact binary fraction (the gate uses ¼) so the
    * per-step constants are literal-identical everywhere.
    *
    * Scale shape: one keyed rollup; each key's series is collected —
    * bounded per-entity history (events per user), not corpus-sized.
    *
    * @return one row per key: (`keyCol`, `n`, `last_value`, `ewma`)
    */
  def ewmaLevel(
      df: DataFrame, keyCol: String, tsCol: String, idCol: String,
      valueCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val beta = 1.0 - alpha
    df.groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n"),
        sort_array(collect_list(struct(col(tsCol), col(idCol),
          col(valueCol).cast("double").as("v")))).as("_s"))
      .withColumn("_vals", transform(col("_s"), x => x.getField("v")))
      .select(col(keyCol), col("n"),
        element_at(col("_vals"), size(col("_vals"))).as("last_value"),
        aggregate(
          slice(col("_vals"), lit(2), greatest(size(col("_vals")) - 1, lit(0))),
          element_at(col("_vals"), 1),
          (acc, x) => lit(alpha) * x + lit(beta) * acc).as("ewma"))
  }

  /** Spearman's rank correlation with ties — Pearson over tie-averaged
    * midranks, the robust "does y rise with x" statistic that ignores
    * both columns' scales and outliers. Midranks are carried as DOUBLED
    * integers (the [[mannWhitneyU]] trick: 2·midrank = 2·min-rank +
    * tie-count − 1 is always integral — doubling both rank vectors
    * leaves their correlation unchanged), and the five moments
    * accumulate in DECIMAL(38,0), so every intermediate is EXACT until
    * the final `num / (√denx·√deny)` — one cast-to-double each, `sqrt`
    * is IEEE-correctly-rounded, and the oracle (HUGEINT moments)
    * replays the double bit-for-bit.
    *
    * Plan: the doubled midrank NEVER ranks rows — for a value with
    * tie-count c and cum = inclusive running count over the sorted
    * DISTINCT values, `2·midrank = 2·cum − c + 1` — so each column
    * costs one keyed rollup to its distinct values and a prefix sum
    * over that (distinct-domain-sized) frame; the two rank maps then
    * join back onto the base rows BY VALUE (broadcastable when the
    * domain is small, e.g. 50 quantities) — no per-row id pairing
    * exists anywhere, because ties never need a tiebreak under
    * midranks. One scalar aggregate takes the DECIMAL moments. At
    * 10¹⁰ rows the largest moment n·Σr² ~ 4n⁴ ~ 10⁴² — past 38
    * digits — so the implementation guards the documented domain
    * (n ≤ ~10⁹) rather than silently wrapping.
    *
    * @return one row: (`n`, `rho` — null when either column is
    *         constant, where the statistic is undefined)
    */
  def spearmanRho(
      df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    def ranks2(vcol: String, out: String): DataFrame = {
      val perValue = df.groupBy(col(vcol)).agg(count(lit(1)).as("_c"))
      val pref = globalRunningSums(perValue, Seq(col(vcol)),
        Seq("_c" -> "_cum"))
      pref.select(col(vcol),
        (lit(2L) * col("_cum") - col("_c") + 1L).as(out))
    }
    val j = df.select(col(xCol), col(yCol))
      .join(ranks2(xCol, "_rx2"), Seq(xCol))
      .join(ranks2(yCol, "_ry2"), Seq(yCol))
    val m = j.agg(
      count(lit(1)).as("n"),
      sum(col("_rx2").cast(d38)).as("_sx"),
      sum(col("_ry2").cast(d38)).as("_sy"),
      sum(col("_rx2").cast(d38) * col("_ry2").cast(d38)).as("_sxy"),
      sum(col("_rx2").cast(d38) * col("_rx2").cast(d38)).as("_sxx"),
      sum(col("_ry2").cast(d38) * col("_ry2").cast(d38)).as("_syy"))
    m.select(col("n"),
        (col("n").cast(d38) * col("_sxy") - col("_sx") * col("_sy"))
          .as("_num"),
        (col("n").cast(d38) * col("_sxx") - col("_sx") * col("_sx"))
          .as("_denx"),
        (col("n").cast(d38) * col("_syy") - col("_sy") * col("_sy"))
          .as("_deny"))
      .withColumn("rho",
        when(col("_denx") > 0 && col("_deny") > 0,
          col("_num").cast("double") /
            (sqrt(col("_denx").cast("double")) *
              sqrt(col("_deny").cast("double")))))
      .select(col("n"), col("rho"))
  }

  /** Exact Wilcoxon signed-rank statistic over paired differences
    * (`diffCol`, one row per pair): zero differences are dropped (the
    * standard convention), |d| is ranked with tie-averaged ranks carried
    * as DOUBLED integers ([[mannWhitneyU]]'s trick), and W+ = Σ ranks of
    * positive differences. The paired nonparametric test — pre/post per
    * entity, no normality assumption. Returns (n_pairs, n_zero, w2_plus,
    * w_plus) with w2_plus the exact doubled integer.
    */
  def wilcoxonSignedRank(
      df: DataFrame, diffCol: String, idCol: String): DataFrame = {
    val nz = df.select(col(diffCol), col(idCol))
      .filter(col(diffCol) =!= 0)
      .withColumn("_ad", abs(col(diffCol)))
    val ranked = globalRowNumber(nz, Seq(col("_ad"), col(idCol)), "_i")
    val ties = ranked.groupBy(col("_ad"))
      .agg((min("_i") + max("_i")).as("_avg2"))
    val zeros = df.filter(col(diffCol) === 0)
      .agg(count(lit(1)).as("n_zero"))
    ranked.join(ties, Seq("_ad"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col(diffCol) > 0, col("_avg2")).otherwise(0L)).as("w2_plus"))
      .crossJoin(broadcast(zeros))
      .select(col("n_pairs"), col("n_zero"), col("w2_plus"),
        (col("w2_plus").cast("double") / 2.0).as("w_plus"))
  }

  /** 2-D skyline (Pareto frontier): the distinct (`minCol`, `maxCol`)
    * points not dominated by any other point, where q dominates p iff
    * q.min ≤ p.min ∧ q.max ≥ p.max with at least one strict. Returns the
    * frontier points with their row multiplicity (`n_rows`).
    *
    * The naive formulation is the quadratic NOT EXISTS self-join (the
    * oracle). This one exploits that the skyline operator is
    * DISTRIBUTIVE — skyline(A ∪ B) ⊆ skyline(A) ∪ skyline(B) — so it
    * runs in three linear stages:
    *   1. collapse to distinct points (+counts): one keyed shuffle;
    *   2. LOCAL skyline per hash bucket: sort each bucket by
    *      (min asc, max desc); a point survives iff the running max of
    *      `maxCol` over earlier rows is strictly below its own (earlier
    *      rows are exactly the candidates that could dominate it, and
    *      ties on the running max mean an equal-`maxCol`,
    *      smaller-`minCol` dominator exists). Sound: only locally
    *      dominated points are dropped;
    *   3. GLOBAL pass with the same sweep over the surviving candidates
    *      in one partition — exact, and only over the (frontier-sized,
    *      not data-sized) candidate union. For d=2 and non-adversarial
    *      data the expected skyline is O(log n); the single-partition
    *      stage is the standard local-skyline-then-merge plan, not a
    *      scale hole.
    */
  def skyline2D(
      df: DataFrame, minCol: String, maxCol: String,
      buckets: Int = 64): DataFrame = {
    require(buckets >= 1, s"skyline2D: buckets must be >= 1, got $buckets")
    val pts = df.groupBy(col(minCol), col(maxCol))
      .agg(count(lit(1)).as("n_rows"))
    def sweep(in: DataFrame, part: Column): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(part)
        .orderBy(col(minCol).asc, col(maxCol).desc)
      val prevMax = max(col(maxCol)).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
      in.withColumn("_pm", prevMax)
        .filter(col("_pm").isNull || col("_pm") < col(maxCol))
        .drop("_pm")
    }
    val local = sweep(pts, pmod(xxhash64(col(minCol), col(maxCol)), lit(buckets)))
    sweep(local, lit(0))
  }

  /** Per-key sample autocorrelation r_h at lags 1..`maxLag` — the
    * seasonality/memory probe of a per-entity time series (is today's
    * activity predicted by yesterday's?). Standard estimator
    * r_h = Σ_{t≤n−h}(x_t−x̄)(x_{t+h}−x̄) / Σ(x_t−x̄)², evaluated EXACTLY:
    * the measure is quantized (`floor(value·scale)` → long), every sum
    * accumulates in DECIMAL(38,0), and x̄ is eliminated algebraically —
    * multiply through by n²:
    *   n²·num_h = n²·Σx_t·x_{t+h} − n·S·(A_h+B_h) + (n−h)·S²
    *   n²·den   = n·(n·Q − S²)
    * (S=Σx, Q=Σx², A_h/B_h = sums of the first/last n−h terms), so the
    * ONLY floating-point step is the final num/den double division —
    * bit-equal on any engine.
    *
    * Plan: one window pass per key partition computes all `maxLag`
    * leads under the (ts, id) total order (keys partition the shuffle;
    * no single-partition window), one keyed rollup takes every moment
    * for every lag map-side, and the per-lag rows unfold from an
    * in-row array — one shuffle total, independent of `maxLag`. Domain
    * guard as [[spearmanRho]]: n²·Q must fit 38 digits — fine through
    * ~10⁸ rows/key at cent scale; beyond that, rescale.
    *
    * @return (`key`, `lag`, `n`, `r`) — `r` null when n ≤ lag or the
    *         series is constant (den = 0).
    */
  def acfByKey(
      df: DataFrame, keyCol: String, tsCol: String, idCol: String,
      valueCol: String, maxLag: Int, scale: Double = 100.0): DataFrame = {
    require(maxLag >= 1, s"acfByKey: maxLag must be >= 1, got $maxLag")
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val w = Window.partitionBy(col("_k")).orderBy(col("_ts"), col("_id"))
    val base = df.select(col(keyCol).as("_k"), col(tsCol).as("_ts"),
        col(idCol).as("_id"),
        floor(col(valueCol) * scale).cast("long").as("_x"))
    val leads = base.select(
      col("_k") +: col("_x") +:
        (1 to maxLag).map(h => lead(col("_x"), h).over(w).as(s"_x$h")): _*)
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("n"),
        sum(col("_x").cast(d38)).as("_s"),
        sum(col("_x").cast(d38) * col("_x").cast(d38)).as("_q")) ++
        (1 to maxLag).flatMap { h =>
          Seq(
            sum(col("_x").cast(d38) * col(s"_x$h").cast(d38)).as(s"_p$h"),
            sum(when(col(s"_x$h").isNotNull, col("_x")).otherwise(0L)
              .cast(d38)).as(s"_a$h"),
            sum(col(s"_x$h").cast(d38)).as(s"_b$h"))
        }
    val m = leads.groupBy(col("_k")).agg(aggs.head, aggs.tail: _*)
    val nD = col("n").cast(d38)
    val lagRows = array((1 to maxLag).map { h =>
      struct(lit(h).as("lag"),
        (nD * nD * col(s"_p$h") - nD * col("_s") *
          (col(s"_a$h") + col(s"_b$h")) +
          (nD - lit(h).cast(d38)) * col("_s") * col("_s")).as("num"))
    }: _*)
    m.select(col("_k").as(keyCol), col("n"),
        (nD * (nD * col("_q") - col("_s") * col("_s"))).as("_den"),
        explode(lagRows).as("_l"))
      .select(col(keyCol), col("_l.lag").as("lag"), col("n"),
        when(col("n") > col("_l.lag") && col("_den") > 0,
          col("_l.num").cast("double") / col("_den").cast("double"))
          .as("r"))
  }

  /** Ljung–Box portmanteau statistic per key: Q = n(n+2)·Σ_{k≤h}
    * ρ_k²/(n−k) over [[acfByKey]]'s exact-moment autocorrelations — the
    * "is this series white noise at all" omnibus that reads the whole
    * ACF at once where eyeballing lags one at a time multiple-tests
    * itself into false alarms. Each term is the gate-exact ρ squared
    * over one integer difference, folded in LAG order; the n(n+2)
    * factor stays integral until its one cast. Emits the statistic and
    * h (the χ² dof), not a p-value — the χ² CDF is not
    * engine-reproducible (the portable-ln lesson). Null when any lag's
    * ρ is undefined (series shorter than h, or zero variance).
    *
    * @return (`key`, `n`, `h`, `q_stat`).
    */
  def ljungBox(
      df: DataFrame, keyCol: String, tsCol: String, idCol: String,
      valueCol: String, maxLag: Int, scale: Double = 100.0): DataFrame = {
    val acf = acfByKey(df, keyCol, tsCol, idCol, valueCol, maxLag, scale)
    acf.groupBy(col(keyCol))
      .agg(max("n").as("n"),
        count(lit(1)).as("h"),
        count(col("r")).as("_valid"),
        aggregate(
          transform(
            array_sort(collect_list(struct(col("lag"),
              ((col("r") * col("r")) /
                (col("n") - col("lag")).cast("double")).as("_t")))),
            x => x.getField("_t")),
          lit(0.0), (acc, x) => acc + x).as("_sum"))
      .select(col(keyCol), col("n"), col("h"),
        when(col("_valid") === col("h"),
          (col("n") * (col("n") + 2L)).cast("double") * col("_sum"))
          .as("q_stat"))
  }

  /** Per-key CUSUM changepoint: the position k* maximizing
    * |S_k − (k/n)·S_n| over the (ts, id)-ordered quantized series — the
    * classic "where did the level shift" locator (mean-change detection
    * for activity series, drift onset for quality scores). Scaled by n
    * to stay integral: g_k = |n·S_k − k·S_n| is exact in longs, the
    * argmax is total-ordered (ties → smallest k), and no float exists
    * anywhere in the output.
    *
    * Plan: one ordered window pass per key partition builds (k, S_k)
    * plus the key totals (n, S_n) from an unordered frame over the same
    * partition — Spark collapses both into ONE shuffle — then a
    * per-key ordered top-1 picks the argmax. At 100 TB the g_k product
    * n·S_k can pass 2^63 for billion-row keys at cent scale; widen to
    * DECIMAL(38,0) then (same expression, one cast).
    *
    * @return (`key`, `n`, `k_star`, `ts_star`, `g_max`) — g_max = 0
    *         (k_star = 1) for constant series; single-row series give
    *         g_max = 0 trivially.
    */
  def cusumChangepoint(
      df: DataFrame, keyCol: String, tsCol: String, idCol: String,
      valueCol: String, scale: Double = 100.0): DataFrame = {
    val wOrd = Window.partitionBy(col("_k")).orderBy(col("_ts"), col("_id"))
    val wAll = Window.partitionBy(col("_k"))
    val base = df.select(col(keyCol).as("_k"), col(tsCol).as("_ts"),
        col(idCol).as("_id"),
        floor(col(valueCol) * scale).cast("long").as("_x"))
    val scored = base.select(col("_k"), col("_ts"),
        row_number().over(wOrd).as("_i"),
        sum(col("_x")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0))
          .as("_sk"),
        count(lit(1)).over(wAll).as("_n"),
        sum(col("_x")).over(wAll).as("_sn"))
      .withColumn("_g", abs(col("_n") * col("_sk") - col("_i") * col("_sn")))
    scored
      .withColumn("_r", row_number().over(
        Window.partitionBy(col("_k")).orderBy(col("_g").desc, col("_i").asc)))
      .filter(col("_r") === 1)
      .select(col("_k").as(keyCol), col("_n").as("n"),
        col("_i").as("k_star"), col("_ts").as("ts_star"),
        col("_g").as("g_max"))
  }

  /** Per-key inter-arrival statistics: event-gap mean and the
    * Goh–Barabási burstiness B = (σ−μ)/(σ+μ) over the (ts, id)-ordered
    * micro-second gaps — the "is this entity a steady heartbeat (B→−1),
    * Poisson (B≈0), or bursty human (B→1)" classifier bot-detection and
    * traffic modeling start from. All moments are EXACT (gaps are
    * integer micros; Σg telescopes to last−first so it can't overflow;
    * Σg² rides DECIMAL(38)), and B reduces to
    * (√V − S)/(√V + S) with V = n·Σg² − S² — population σ, the n's
    * cancel — so the only floats are two casts, one correctly-rounded
    * sqrt, and three IEEE ops, identical on any engine.
    *
    * One window pass per key partition + one keyed rollup — the
    * [[acfByKey]] plan shape.
    *
    * @return (`key`, `n_events`, `n_gaps`, `sum_gap_us`, `mean_gap_us`,
    *         `burstiness`) — mean/burstiness null when no gaps exist;
    *         burstiness additionally null when every gap is zero
    *         (σ = μ = 0, the statistic is undefined).
    */
  def interarrivalStats(
      df: DataFrame, keyCol: String, tsCol: String,
      idCol: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val w = Window.partitionBy(col("_k")).orderBy(col("_ts"), col("_id"))
    val gaps = df
      .select(col(keyCol).as("_k"), col(tsCol).as("_ts"), col(idCol).as("_id"))
      .select(col("_k"),
        (lead(unix_micros(col("_ts")), 1).over(w) -
          unix_micros(col("_ts"))).as("_g"))
    val m = gaps.groupBy(col("_k")).agg(
      count(lit(1)).as("n_events"),
      count(col("_g")).as("n_gaps"),
      coalesce(sum(col("_g")), lit(0L)).as("sum_gap_us"),
      sum(col("_g").cast(d38) * col("_g").cast(d38)).as("_q"))
    val v = m("n_gaps").cast(d38) * m("_q") -
      m("sum_gap_us").cast(d38) * m("sum_gap_us").cast(d38)
    val sD = m("sum_gap_us").cast("double")
    m.select(col("_k").as(keyCol), col("n_events"), col("n_gaps"),
      col("sum_gap_us"),
      when(col("n_gaps") > 0,
        sD / col("n_gaps").cast("double")).as("mean_gap_us"),
      when(col("n_gaps") > 0 && col("sum_gap_us") > 0,
        (sqrt(v.cast("double")) - sD) / (sqrt(v.cast("double")) + sD))
        .as("burstiness"))
  }

  /** One-sided upper CUSUM CONTROL CHART per key — the ONLINE drift
    * detector beside [[cusumChangepoint]]'s retrospective locator:
    * g_i = max(0, g_{i−1} + (x_i − target − slack)), alarm when
    * g ≥ threshold (Page 1954). The recurrence LOOKS sequential, but
    * the classic identity g_i = S_i − min_{0≤j≤i} S_j (S = prefix sums
    * of the drift terms, S₀ = 0) turns it into prefix sum + running min
    * — two window passes per key partition, NO sequential fold, and
    * with cent-quantized inputs every value is an exact integer: the
    * whole chart is float-free (and the oracle needs no recursive CTE).
    *
    * All parameters are integer cents. At 100 TB the prefix sums are
    * per-key-bounded like every window op here; widen to DECIMAL past
    * ~2⁶³ cents of per-key drift mass.
    *
    * @return (`key`, `n`, `g_final`, `g_max`, `first_alarm` = 1-based
    *         index of the first g ≥ threshold, null if never).
    */
  def cusumControl(
      df: DataFrame, keyCol: String, tsCol: String, idCol: String,
      valueCol: String, targetCents: Long, slackCents: Long,
      thresholdCents: Long, scale: Double = 100.0): DataFrame = {
    require(thresholdCents > 0,
      s"cusumControl: threshold must be > 0, got $thresholdCents")
    val wOrd = Window.partitionBy(col("_k")).orderBy(col("_ts"), col("_id"))
    val g = df
      .select(col(keyCol).as("_k"), col(tsCol).as("_ts"), col(idCol).as("_id"),
        (floor(col(valueCol) * scale).cast("long") -
          targetCents - slackCents).as("_x"))
      .select(col("_k"),
        row_number().over(wOrd).as("_i"),
        sum(col("_x")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0))
          .as("_s"))
      // min over j ≤ i of S_j INCLUDING the empty prefix S₀ = 0
      .withColumn("_g",
        col("_s") - least(
          min(col("_s")).over(Window.partitionBy(col("_k"))
            .orderBy(col("_i"))
            .rowsBetween(Window.unboundedPreceding, 0)),
          lit(0L)))
    g.groupBy(col("_k").as(keyCol))
      .agg(count(lit(1)).as("n"),
        max(struct(col("_i"), col("_g"))).as("_last"),
        max(col("_g")).as("g_max"),
        min(when(col("_g") >= thresholdCents, col("_i"))).as("first_alarm"))
      .select(col(keyCol), col("n"), col("_last._g").as("g_final"),
        col("g_max"), col("first_alarm"))
  }

  /** One-way ANOVA F statistic across groups: the "do these priorities
    * differ in mean at all" omnibus test completing the pairwise tier
    * (z-test, Mann-Whitney, KS). Decomposes total variance into
    * between/within via the classic identities on exact cent moments —
    * SSB = Σ_g S_g²/n_g − S²/N, SSW = Q − Σ_g S_g²/n_g — where every
    * S_g, Q rides DECIMAL(38,0); each group term S_g²/n_g is ONE
    * double division of exact integers, folded in GROUP order (sums of
    * doubles hash-gate only order-pinned — a null group sorts FIRST in
    * Spark's struct order, so a replaying oracle must fold
    * `ORDER BY g NULLS FIRST`), and F is a fixed IEEE tree.
    * Emits the statistic and its degrees of freedom, not a p-value — a
    * p-value needs the F distribution's incomplete beta, which no
    * engine computes reproducibly (the [[graft.expr.PortableLnRatio]]
    * lesson); consumers compare F to their own critical value.
    *
    * @return one row: (`k` groups, `n`, `ssb`, `ssw`, `f` — null when
    *         k < 2, n <= k, or SSW = 0).
    */
  def anovaF(
      df: DataFrame, groupCol: String, valueCol: String,
      scale: Double = 100.0): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val per = df
      .select(col(groupCol).as("_g"),
        floor(col(valueCol) * scale).cast("long").cast(d38).as("_x"))
      .groupBy("_g")
      .agg(count(lit(1)).cast(d38).as("_ng"), sum(col("_x")).as("_sg"),
        sum(col("_x") * col("_x")).as("_qg"))
      .withColumn("_tg",
        (col("_sg") * col("_sg")).cast("double") / col("_ng").cast("double"))
    val m = per.agg(
      count(lit(1)).as("k"),
      sum(col("_ng")).cast("double").as("_n"),
      sum(col("_ng")).cast(d38).as("_nd"),
      sum(col("_sg")).as("_s"),
      sum(col("_qg")).cast("double").as("_q"),
      aggregate(
        transform(array_sort(collect_list(struct(col("_g"), col("_tg").as("_t")))),
          x => x.getField("_t")),
        lit(0.0), (acc, x) => acc + x).as("_tsum"))
    m.select(col("k"), col("_nd").cast("long").as("n"),
        (col("_tsum") - (col("_s") * col("_s")).cast("double") / col("_n"))
          .as("ssb"),
        (col("_q") - col("_tsum")).as("ssw"),
        col("_n").as("_n"), col("k").as("_k"))
      .select(col("k"), col("n"), col("ssb"), col("ssw"),
        when(col("_k") > 1L && col("_n") > col("_k").cast("double") &&
            col("ssw") > 0.0,
          (col("ssb") / (col("_k") - 1L).cast("double")) /
            (col("ssw") / (col("_n") - col("_k").cast("double"))))
          .as("f"))
  }

  /** Pairwise Pearson correlation matrix over a set of numeric columns
    * — the data-profiling pass behind "which measures move together"
    * and feature-redundancy screens. ONE corpus scan computes every
    * column's cent-quantized integer moments and every pair's product
    * sum on DECIMAL(38,0); the C(k,2) correlations are then fixed IEEE
    * trees over that single row ([[quantizedRegression]]'s discipline,
    * widened to the matrix). Null when either side's variance is 0.
    *
    * Scale: one map-side-combinable aggregate over the corpus, a
    * k²-sized literal explode after — nothing keyed, nothing shuffled
    * but the one rollup. Widen unit scales past ~10⁹ rows of 10⁶-cent
    * values (the DECIMAL headroom note on [[quantizedRegression]]).
    *
    * @return one row per unordered pair: (`col_a`, `col_b`, `n`, `r`).
    */
  def correlationMatrix(
      df: DataFrame, cols: Seq[String], scale: Double = 100.0): DataFrame = {
    require(cols.size >= 2, s"correlationMatrix: need >= 2 columns, got $cols")
    require(cols.distinct.size == cols.size, "correlationMatrix: duplicate columns")
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    def q(c: String) = floor(col(c) * scale).cast("long").cast(d38)
    // internal moment names key on column INDEX, never the column name:
    // name interpolation collides on underscored names ((x, y_z) and
    // (x_y, z) both rendering _q_x_y_z), and underscored names are the
    // norm in every table here
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (i, j)
    val aggs =
      Seq(count(lit(1)).cast(d38).as("_n")) ++
        cols.indices.map(i => sum(q(cols(i))).as(s"_s_$i")) ++
        cols.indices.map(i =>
          sum(q(cols(i)) * q(cols(i))).as(s"_q_${i}_$i")) ++
        pairs.map { case (i, j) =>
          sum(q(cols(i)) * q(cols(j))).as(s"_q_${i}_$j")
        }
    val m = df.agg(aggs.head, aggs.tail: _*)
    val rows = pairs.map { case (i, j) =>
      val vx = m("_n") * m(s"_q_${i}_$i") - m(s"_s_$i") * m(s"_s_$i")
      val vy = m("_n") * m(s"_q_${j}_$j") - m(s"_s_$j") * m(s"_s_$j")
      struct(
        lit(cols(i)).as("col_a"), lit(cols(j)).as("col_b"),
        m("_n").cast("long").as("n"),
        when(vx > 0 && vy > 0,
          (m("_n") * m(s"_q_${i}_$j") - m(s"_s_$i") * m(s"_s_$j"))
            .cast("double") /
            (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))))
          .as("r"))
    }
    m.select(explode(array(rows: _*)).as("_p"))
      .select(col("_p.col_a").as("col_a"), col("_p.col_b").as("col_b"),
        col("_p.n").as("n"), col("_p.r").as("r"))
  }

  /** MASE — mean absolute scaled error of the seasonal-naive forecast
    * per key (Hyndman & Koehler 2006): MAE of the season-lag forecast
    * over the MAE of the one-step naive on the SAME series. The
    * scale-free answer to "is last-year's-month actually a good
    * forecast here" — below 1 beats the random-walk yardstick.
    *
    * Exactness: values arrive as exact DECIMAL (cents), absolute
    * errors sum exactly, and the statistic is (sae/n_f)/(sad/n_d) —
    * three IEEE ops on two exact sums. Gaps in the series are handled
    * by JOINING on t−season / t−1 (a lag over a gapped series would
    * silently compare wrong periods). Null when either error set is
    * empty or the naive MAE is 0 (constant series).
    *
    * @param tCol integer period index (e.g. months since epoch)
    * @return (`key`, `n_forecasts`, `n_diffs`, `mase`).
    */
  def maseSeasonalNaive(
      df: DataFrame, keyCol: String, tCol: String, valueCol: String,
      season: Int): DataFrame = {
    require(season >= 1, s"maseSeasonalNaive: season must be >= 1, got $season")
    val s = df.select(col(keyCol).as("_k"), col(tCol).cast("long").as("_t"),
      col(valueCol).as("_v"))
    def lagJoin(offset: Int, as: String) = s
      .join(s.select(col("_k"), (col("_t") + offset.toLong).as("_t"),
        col("_v").as(as)), Seq("_k", "_t"))
    val fc = lagJoin(season, "_fc")
      .groupBy("_k")
      .agg(count(lit(1)).as("n_forecasts"),
        sum(abs(col("_v") - col("_fc"))).as("_sae"))
    val nv = lagJoin(1, "_pv")
      .groupBy("_k")
      .agg(count(lit(1)).as("n_diffs"),
        sum(abs(col("_v") - col("_pv"))).as("_sad"))
    // full outer: a key with one error set but not the other (e.g. two
    // observations exactly one season apart — a forecast pair but zero
    // consecutive diffs) still reports its row with mase null, as the
    // contract above promises; an inner join would silently drop it
    fc.join(nv, Seq("_k"), "full_outer")
      .na.fill(0L, Seq("n_forecasts", "n_diffs"))
      .select(col("_k").as(keyCol), col("n_forecasts"), col("n_diffs"),
        when(col("n_forecasts") > 0L && col("n_diffs") > 0L &&
            col("_sad") > 0,
          (col("_sae").cast("double") / col("n_forecasts").cast("double")) /
            (col("_sad").cast("double") / col("n_diffs").cast("double")))
          .as("mase"))
  }

  /** Classical additive seasonal decomposition of each key's DAILY
    * series (zero-filled onto the dense [min-day, max-day] grid):
    * trend = centered `period`-day moving average (full windows only),
    * detrended = y − trend, raw seasonal index = per-phase mean of the
    * detrended interior, seasonal = raw index re-centered to sum ~0.
    * The textbook first pass behind every "is Monday just like that"
    * question, and the additive sibling of [[holtLinear]]'s recursive
    * smoothing — here every step is window algebra, no recurrence.
    *
    * Hash-gate discipline: daily totals and window sums are exact
    * integers; the only doubles are y − W/period and the two per-phase
    * means, each folded in (day, phase) order on both engines before
    * its single division.
    *
    * Scale: one rollup to days, a per-key dense grid explode (bounded
    * by the key's span), one windowed pass, two phase-sized rollups —
    * all partitioned by key; nothing corpus-quadratic, no driver state.
    *
    * Phase is `pmod(day, period)` — always non-negative, so pre-1970
    * timestamps (negative epoch-day indices) land in the same phase on
    * any engine; a replaying oracle must use ((day % p) + p) % p, not
    * the sign-of-dividend `%`.
    *
    * @param period season length in days, odd (centered window)
    * @return (`key`, `phase` = day mod period, `n_days` interior days
    *         of that phase, `seasonal`) — keys need at least one full
    *         window to appear.
    */
  def seasonalDecompose(
      df: DataFrame, keyCol: String, tsCol: String, valueCol: String,
      period: Int = 7, scale: Double = 100.0): DataFrame = {
    require(period >= 3 && period % 2 == 1,
      s"seasonalDecompose: period must be odd >= 3, got $period")
    val half = period / 2
    def orderedMean(key: Column, term: Column): Column =
      aggregate(
        transform(
          array_sort(collect_list(struct(key, term.as("_t")))),
          x => x.getField("_t")),
        lit(0.0), (acc, x) => acc + x) / count(lit(1)).cast("double")
    val daily = df
      .select(col(keyCol).as("_k"),
        expr(s"unix_micros($tsCol) div 86400000000").as("_day"),
        floor(col(valueCol) * scale).cast("long").as("_c"))
      .groupBy("_k", "_day").agg(sum("_c").as("_y"))
    val grid = daily.groupBy("_k")
      .agg(min("_day").as("_d0"), max("_day").as("_d1"))
      .select(col("_k"), explode(sequence(col("_d0"), col("_d1"))).as("_day"))
    val filled = grid.join(daily, Seq("_k", "_day"), "left_outer")
      .na.fill(0L, Seq("_y"))
    val wFrame = Window.partitionBy(col("_k")).orderBy(col("_day"))
      .rowsBetween(-half, half) // rows == days: the grid is dense
    val interior = filled
      .select(col("_k"), col("_day"), pmod(col("_day"), lit(period.toLong)).as("phase"),
        col("_y"), sum(col("_y")).over(wFrame).as("_w"),
        count(lit(1)).over(wFrame).as("_wc"))
      .filter(col("_wc") === period.toLong)
      .withColumn("_d",
        col("_y").cast("double") -
          col("_w").cast("double") / lit(period.toDouble))
    val sraw = interior.groupBy(col("_k"), col("phase"))
      .agg(count(lit(1)).as("n_days"),
        orderedMean(col("_day"), col("_d")).as("_sraw"))
    val ms = sraw.groupBy(col("_k"))
      .agg(orderedMean(col("phase"), col("_sraw")).as("_ms"))
    sraw.join(ms, Seq("_k"))
      .select(col("_k").as(keyCol), col("phase"), col("n_days"),
        (col("_sraw") - col("_ms")).as("seasonal"))
  }

  /** Per-key Theil–Sen slope: the MEDIAN of all pairwise slopes
    * (y_j − y_i)/(x_j − x_i) — the robust trend line (29.3% breakdown
    * point) where the OLS gate ([[quantizedRegression]]) folds at one
    * outlier. x is exact epoch microseconds, y exact cents, each slope
    * ONE double division of two longs, and the median is picked by
    * exact order statistics — positions (c+1)/2 and (c+2)/2 under the
    * slope order — so even a tie-broken sort cannot change the VALUE
    * both engines report.
    *
    * Scale: the pair stage is per-key quadratic (the estimator's
    * nature — C(n,2) slopes), joined ON the key so work is
    * Σₖ nₖ²/2, never corpus². Right for many-keys/bounded-series
    * panels (the events shape); for single million-point series use a
    * sampled or repeated-median variant — a different estimator, not a
    * faster exact one.
    *
    * Zero-gap pairs (equal timestamps, distinct ids) are excluded — a
    * vertical slope is undefined; keys with no valid pair are absent
    * from the output.
    *
    * @return (`key`, `n` events, `n_pairs`, `slope_per_day` = median
    *         cents/µs × 86 400 000 000).
    */
  def theilSenSlope(
      df: DataFrame, keyCol: String, tsCol: String, idCol: String,
      valueCol: String, scale: Double = 100.0): DataFrame = {
    val wOrd = Window.partitionBy(col("_k")).orderBy(col("_ts"), col("_id"))
    val v = df
      .select(col(keyCol).as("_k"), col(tsCol).as("_ts"), col(idCol).as("_id"),
        floor(col(valueCol) * scale).cast("long").as("_y"))
      .select(col("_k"), unix_micros(col("_ts")).as("_x"), col("_y"),
        row_number().over(wOrd).as("_i"))
    val pairs = v.as("a")
      .join(v.as("b"),
        col("a._k") === col("b._k") && col("a._i") < col("b._i") &&
          col("b._x") > col("a._x"))
      .select(col("a._k").as("_k"),
        ((col("b._y") - col("a._y")).cast("double") /
          (col("b._x") - col("a._x")).cast("double")).as("_s"))
    val r = pairs.select(col("_k"), col("_s"),
      row_number().over(
        Window.partitionBy(col("_k")).orderBy(col("_s"))).as("_r"),
      count(lit(1)).over(Window.partitionBy(col("_k"))).as("_c"))
    val med = r.groupBy(col("_k"))
      .agg(max(col("_c")).as("n_pairs"),
        (((min(when(expr("_r = (_c + 1) div 2"), col("_s"))) +
          min(when(expr("_r = (_c + 2) div 2"), col("_s")))) / lit(2.0)) *
          lit(86400000000.0)).as("slope_per_day"))
    val n = df.groupBy(col(keyCol).as("_k")).agg(count(lit(1)).as("n"))
    med.join(n, Seq("_k"))
      .select(col("_k").as(keyCol), col("n"), col("n_pairs"),
        col("slope_per_day"))
  }

  /** Per-key Holt linear (double-exponential) smoothing: level l and
    * trend b after folding the (ts, id)-ordered series through
    *   l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})
    *   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
    * seeded l₁ = x₁, b₁ = 0 — EWMA's sibling that also tracks slope,
    * and the one-step forecast l+b that level-only smoothing cannot
    * give. Sequential by definition, so the fold is order-pinned like
    * [[ewmaLevel]]: both engines execute the identical IEEE expression
    * sequence when α and β are exact binary fractions (the l_t
    * subexpression inside b_t is the SAME expression tree, hence the
    * same double). Oracle note: DuckDB v1.0.0 `list_reduce` mis-binds
    * struct accumulator fields (later fields observe earlier NEW
    * values — measured, see the gate), so the oracle replays the
    * recurrence as a positional recursive CTE instead of a list fold.
    *
    * Plan shape = [[ewmaLevel]]: one keyed rollup collects each key's
    * series in-row (sort_array pins the order with no window), one
    * `aggregate` fold per row. Series length per key is the documented
    * domain bound, exactly as for any per-entity state op.
    *
    * @return (`key`, `n`, `level`, `trend`, `forecast1` = level+trend)
    */
  def holtLinear(
      df: DataFrame, keyCol: String, tsCol: String, idCol: String,
      valueCol: String, alpha: Double, beta: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(beta >= 0 && beta <= 1, s"beta must be in [0, 1], got $beta")
    val a = lit(alpha); val a1 = lit(1.0 - alpha)
    val g = lit(beta); val g1 = lit(1.0 - beta)
    df.groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n"),
        sort_array(collect_list(struct(col(tsCol), col(idCol),
          col(valueCol).cast("double").as("v")))).as("_s"))
      .withColumn("_vals", transform(col("_s"), x => x.getField("v")))
      .withColumn("_hl",
        aggregate(
          slice(col("_vals"), lit(2), greatest(size(col("_vals")) - 1, lit(0))),
          struct(element_at(col("_vals"), 1).as("l"), lit(0.0).as("b")),
          (acc, x) => {
            val newL = a * x + a1 * (acc.getField("l") + acc.getField("b"))
            struct(
              newL.as("l"),
              (g * (newL - acc.getField("l")) + g1 * acc.getField("b"))
                .as("b"))
          }))
      .select(col(keyCol), col("n"),
        col("_hl.l").as("level"), col("_hl.b").as("trend"),
        (col("_hl.l") + col("_hl.b")).as("forecast1"))
  }

  /** Per-key Mann–Kendall trend test — the nonparametric "is this
    * series drifting" screen that pairs with [[theilSenSlope]] (MK
    * answers IS there a monotone trend, Theil–Sen answers how steep;
    * the two ship together in every monitoring handbook). Values are
    * quantized like the slope's (`floor(value·scale)`), the series
    * order is the same (ts, id) total order, and
    *
    *   S      = Σ_{i<j} sign(y_j − y_i)                 (exact integer)
    *   18·Var = n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5)      (exact integer)
    *   Z      = (S − sign(S)) / sqrt(18·Var / 18.0)     (continuity-
    *            corrected; 0 when S = 0, NULL when Var = 0)
    *
    * Z is fully engine-portable with NO portable-ln machinery: its only
    * non-integer ops are one division, one IEEE sqrt (correctly rounded
    * by spec), and one more division — bit-identical anywhere, so the
    * statistic itself hash-gates. Pair stage and scale story are
    * [[theilSenSlope]]'s verbatim: per-key quadratic joined ON the key
    * (Σₖ nₖ²/2, never corpus²) — right for many-keys/bounded-series
    * panels; the tie rollup is one extra (key, value) aggregate.
    *
    * @return (`key`, `n`, `s`, `var18` = 18·Var(S), `z`).
    */
  def mannKendall(
      df: DataFrame, keyCol: String, tsCol: String, idCol: String,
      valueCol: String, scale: Double = 100.0): DataFrame = {
    val wOrd = Window.partitionBy(col("_k")).orderBy(col("_ts"), col("_id"))
    val v = df
      .select(col(keyCol).as("_k"), col(tsCol).as("_ts"),
        col(idCol).as("_id"),
        floor(col(valueCol) * scale).cast("long").as("_y"))
      .select(col("_k"), col("_y"), row_number().over(wOrd).as("_i"))
    val s = v.as("a")
      .join(v.as("b"),
        col("a._k") === col("b._k") && col("a._i") < col("b._i"))
      .groupBy(col("a._k").as("_k"))
      .agg(sum(signum(col("b._y") - col("a._y")).cast("long")).as("s"))
    val ties = v.groupBy(col("_k"), col("_y"))
      .agg(count(lit(1)).as("_t"))
      .groupBy(col("_k"))
      .agg(count(lit(1)).as("_groups"),
        sum(col("_t") * (col("_t") - 1) * (lit(2) * col("_t") + 5))
          .as("_tie18"))
    val n = v.groupBy(col("_k")).agg(count(lit(1)).as("n"))
    n.join(s, Seq("_k"), "left_outer").join(ties, Seq("_k"))
      .select(col("_k"), col("n"), coalesce(col("s"), lit(0L)).as("s"),
        (col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) -
          col("_tie18")).as("var18"))
      .withColumn("z", mkZ(col("s"), col("var18")))
      .select(col("_k").as(keyCol), col("n"), col("s"), col("var18"),
        col("z"))
  }

  /** The Mann–Kendall continuity-corrected Z — shared by the plain and
    * seasonal variants (var18 carries 18·Var(S) as an exact integer). */
  private def mkZ(s: Column, var18: Column): Column =
    when(var18 === 0, lit(null).cast("double"))
      .when(s === 0, lit(0.0))
      .otherwise((s - signum(s)).cast("double") /
        sqrt(var18.cast("double") / lit(18.0)))

  /** SEASONAL Mann–Kendall (Hirsch–Slack): the trend test applied within
    * each season (default: day-of-week phase) and summed — S = Σ_p S_p,
    * Var = Σ_p Var_p — so a weekly cycle cannot masquerade as (or mask)
    * a monotone trend the plain [[mannKendall]] would mis-score. Same
    * exact-integer S and tie-corrected 18·variance per (key, season);
    * the within-season pair joins are the plain test's, just on a finer
    * key, so per-key work DROPS from O(n²) to O(Σ n_p²) ≈ O(n²/period).
    * Independence across seasons is the standard assumption (serial
    * correlation within a season is not corrected — Hirsch & Slack's
    * covariance adjustment needs rank cross-products the use cases here
    * don't justify; documented, not hidden).
    *
    * The season is the engine-neutral `unix_micros div day mod period`
    * (calendar day-of-week differs between engines' week conventions).
    *
    * @return one row per key: (`keyCol`, `n`, `n_seasons`, `s`, `var18`,
    *         `z`)
    */
  def seasonalMannKendall(
      df: DataFrame, keyCol: String, tsCol: String, idCol: String,
      valueCol: String, scale: Double = 100.0, period: Int = 7): DataFrame = {
    require(period >= 2, s"seasonalMannKendall: period must be >= 2, got $period")
    val tagged = df.withColumn("_sk",
      struct(col(keyCol).as("k"),
        expr(s"unix_micros($tsCol) div 86400000000L % ${period}L").as("p")))
    val mk = mannKendall(tagged, "_sk", tsCol, idCol, valueCol, scale)
    mk.groupBy(col("_sk.k").as(keyCol))
      .agg(sum("n").as("n"),
        count(lit(1)).as("n_seasons"),
        sum("s").as("s"),
        sum("var18").as("var18"))
      .withColumn("z", mkZ(col("s"), col("var18")))
  }

  /** Fixed-iteration Markov stationary distribution in integer units —
    * π ← π·P over an empirical transition-count matrix, the "where does
    * this process SETTLE" readout beside the one-step transition
    * probabilities. P's rows are the exact rationals c_ij/r_i, so each
    * step is the [[graft.ops.GraphOps.pageRankUnits]] muldiv discipline
    * without damping: π'_j = Σ_i (π_i·c_ij) div r_i — sub-unit
    * remainders truncate (documented, same as PageRank's), states with
    * no inbound mass hold 0, and the whole iterate is engine-exact.
    * The π_i·c_ij product carries in-plan 2^63 teeth (raise_error with
    * the remedy — keep unit·n_states·max_count < 2^63); each pushed
    * term is ≤ π_i (c_ij ≤ r_i), so the inbound SUM is bounded by the
    * total mass n_states·unit and cannot wrap once the product fits.
    * State space is a DOMAIN (event types, page ids — never users), so
    * every frame here is domain-sized; fixed `iters` keeps the gate
    * deterministic, callers read convergence off successive runs.
    *
    * @return one row per state: (`s`, `pi_units` ≈ stationary mass ×
    *         unit up to truncation, seeded uniform at `unit`)
    */
  def markovStationaryUnits(
      trans: DataFrame, fromCol: String, toCol: String, cntCol: String,
      iters: Int = 3, unit: Long = 1000000L): DataFrame = {
    require(iters >= 1, s"markovStationaryUnits: iters must be >= 1, got $iters")
    require(unit > 0, s"markovStationaryUnits: unit must be > 0, got $unit")
    val t = trans.select(col(fromCol).as("_f"), col(toCol).as("_t"),
        col(cntCol).cast("long").as("_c"))
      .stagePin() // three consumers: row totals, state universe ×2
    val tr = t.join(t.groupBy("_f").agg(sum("_c").as("_r")), Seq("_f"))
      .stagePin() // consumed every iteration
    val states = t.select(col("_f").as("s"))
      .unionByName(t.select(col("_t").as("s")))
      .distinct()
      .stagePin() // consumed every iteration (the 0-mass left join)
    var pi = states.withColumn("p", lit(unit))
    for (_ <- 1 to iters) {
      // in-plan 2^63 teeth on the muldiv (the katzUnits discipline): p
      // can reach n_states·unit and _c is corpus-sized, so p·_c can
      // wrap silently on Spark where DuckDB's HUGEINT promotion would
      // error — raise with the remedy instead. Domain-sized frame, so
      // the per-row predicate costs nothing at corpus scale. The
      // threshold is INTEGER `div` (exactly floor((2^63−1)/c), the
      // host-side arithmetic katzUnits uses): Column `/` is fractional
      // Divide in DOUBLE, where Long.MaxValue rounds UP to 2^63 and a
      // p in the ~1-ulp rounding window (e.g. p = 2^61 with c = 4)
      // passes the strict `>` yet wraps the product. `_c = 0` makes the
      // div NULL, the predicate falls to `otherwise`, and p·0 = 0 — safe.
      val pushed = tr
        .join(pi.select(col("s").as("_f"), col("p")), Seq("_f"))
        .select(col("_t").as("s"),
          when(col("p") > expr(s"${Long.MaxValue}L div _c"),
            raise_error(concat(
              lit("markovStationaryUnits: mass*count product exceeds " +
                "2^63 — lower unit (bound: unit * n_states * max_count " +
                "< 2^63); p = "),
              col("p").cast("string"), lit(", count = "),
              col("_c").cast("string"))))
            .otherwise(expr("(p * _c) div _r")).as("_m"))
        .groupBy("s").agg(sum("_m").as("_p"))
      pi = states.join(pushed, Seq("s"), "left_outer")
        .select(col("s"), coalesce(col("_p"), lit(0L)).as("p"))
        .stagePin()
    }
    pi.select(col("s"), col("p").as("pi_units"))
  }

  /** Brown–Forsythe variance-equality test: the one-way ANOVA F
    * ([[anovaF]]) applied to |x − median(group)| — "did the SPREAD
    * shift between groups", the dispersion complement of ANOVA's mean
    * question, and the robust form (Levene centers on the mean; the
    * median version keeps its size under the heavy tails event values
    * have). The group median on the cent grid rides as a DOUBLED
    * integer (odd n: 2·x_mid; even n: x_lo + x_hi — always integral),
    * so the deviations |2x − med2| are exact longs and the doubling
    * cancels in F. Plan: one within-group rank window + one positional
    * rollup for the medians, then the [[anovaF]] single-pass moments —
    * no corpus-global state.
    *
    * @return [[anovaF]]'s row: (`k`, `n`, `ssb`, `ssw`, `f`) — on the
    *         doubled-deviation scale for ssb/ssw; `f` is scale-free.
    */
  def brownForsythe(
      df: DataFrame, groupCol: String, valueCol: String, idCol: String,
      scale: Double = 100.0): DataFrame = {
    val base = df.select(col(groupCol).as("_g"), col(idCol).as("_id"),
      floor(col(valueCol) * scale).cast("long").as("_x"))
    val pos = base
      .withColumn("_rn", row_number().over(
        Window.partitionBy("_g").orderBy(col("_x"), col("_id"))).cast("long"))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy("_g")))
    val med = pos.groupBy("_g").agg(
      (sum(when(col("_rn") === expr("(_n + 1L) div 2L"), col("_x"))
          .otherwise(0L)) +
        sum(when(col("_rn") === expr("_n div 2L + 1L"), col("_x"))
          .otherwise(0L))).as("_med2"))
    val z = pos.join(med, Seq("_g"))
      .select(col("_g").as("g"),
        abs(lit(2L) * col("_x") - col("_med2")).as("zdev"))
    anovaF(z, "g", "zdev", scale = 1.0)
  }
}
