package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Q, T}

/** Event-analytics surface: sessionization, pivoted counts, JSON
  * extraction (the raw layer is JSON — a first-class op), and the
  * string/null scalar battery. */
object AnalyticsQueries {

  private val GapUs = 1800L * 1000000L // 30 min session gap

  /** One support-floored basket pair table (and its basket count) per
    * (session, corpus) — the sharing set for the lift and rules gates:
    * both ran the IDENTICAL per-order distinct → a<b pair self-join →
    * ≥2-support rollup → two item-count joins; only the final scoring
    * projection differs. A sweep memo ([[graft.ops.Memo.sweep]]):
    * dropped between bench passes, so best-of-3 repeats measure the
    * build (charged to whichever gate runs first).
    *
    * @return (pinned `(a, b, c_ab, c_a, c_b)` pair frame,
    *         pinned 1-row basket count `n`). */
  private val basketCache = graft.ops.Memo.sweep[
    (org.apache.spark.sql.SparkSession, String),
    (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)](4)
  private[queries] def sharedBasketPairs(
      s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame,
                   org.apache.spark.sql.DataFrame) =
    basketCache.getOrElseUpdate((s, d)) {
      val li = T(s, d, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
      val nOrders = li.select("ok").distinct().agg(count(lit(1)).as("n"))
      val item = li.groupBy("p").agg(count(lit(1)).as("c"))
      val pair = li.as("x")
        .join(li.as("y"), col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
        .groupBy(col("x.p").as("a"), col("y.p").as("b"))
        .agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 2)
        .join(item.select(col("p").as("a"), col("c").as("c_a")), "a")
        .join(item.select(col("p").as("b"), col("c").as("c_b")), "b")
      (graft.ops.Staging.pin(pair), graft.ops.Staging.pin(nOrders))
    }

  val all: Seq[Q] = Seq(
    // Full ranking/navigation window battery over one shuffle: every
    // function shares the (partition, unique order key) frame, so results
    // are deterministic and the plan is a single Exchange + Sort + Window.
    // lag/lead move parquet doubles unchanged (no arithmetic — exact);
    // cume_dist/percent_rank are integer-over-integer divisions, bit-
    // identical across engines.
    Q(
      "window_battery",
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        T(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
          .withColumn("rn", row_number().over(w).cast(LongType))
          .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
          .withColumn("next_price", lead(col("o_totalprice"), 1).over(w))
          .withColumn("quartile", ntile(4).over(w).cast(LongType))
          .withColumn("cd", cume_dist().over(w))
          .withColumn("pr", percent_rank().over(w))
          .select("o_custkey", "o_orderkey", "rn", "prev_price",
            "next_price", "quartile", "cd", "pr")
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  ROW_NUMBER() OVER w AS rn,
             |  LAG(o_totalprice, 1) OVER w AS prev_price,
             |  LEAD(o_totalprice, 1) OVER w AS next_price,
             |  NTILE(4) OVER w AS quartile,
             |  CUME_DIST() OVER w AS cd,
             |  PERCENT_RANK() OVER w AS pr
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
             |ORDER BY o_custkey, o_orderkey""".stripMargin),
      "ranking/navigation window battery sharing one shuffle"),

    // Forward/backward fill (LOCF / NOCB) — the imputation step between
    // raw sensor/event data and any time-series consumer: error rows'
    // values are masked to NULL, then carried from the last (and next)
    // valid observation per user. IGNORE NULLS navigation over running
    // frames; both directions share ONE user exchange + sort (the
    // FOLLOWING frame reuses the same ordering). Values move untouched
    // (exact doubles), so the gate is hash-stable.
    Q(
      "window_forward_fill",
      (s, d) => {
        val base = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val back = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val fwd = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        T(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            when(col("event_type") =!= "error", col("value")).as("v"))
          .withColumn("v_locf", last(col("v"), ignoreNulls = true).over(back))
          .withColumn("v_nocb", first(col("v"), ignoreNulls = true).over(fwd))
          .select("user_id", "event_id", "ts", "v", "v_locf", "v_nocb")
          .orderBy("user_id", "ts", "event_id")
      },
      Some("""SELECT user_id, event_id, ts, v,
             |  last_value(v IGNORE NULLS) OVER (
             |    PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS UNBOUNDED PRECEDING) AS v_locf,
             |  first_value(v IGNORE NULLS) OVER (
             |    PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_nocb
             |FROM (SELECT user_id, event_id, ts,
             |        CASE WHEN event_type <> 'error' THEN value END AS v
             |      FROM events)
             |ORDER BY user_id, ts, event_id""".stripMargin),
      "forward + backward fill (LOCF/NOCB) via IGNORE NULLS navigation, " +
        "both directions on one user shuffle"),

    // GROUPING SETS beyond rollup/cube: two independent single-column
    // aggregations plus the grand total in one pass (Expand-based), with
    // grouping_id disambiguating aggregation-produced nulls.
    Q(
      "agg_grouping_sets",
      (s, d) => {
        T(s, d, "orders").createOrReplaceTempView("orders_gs")
        s.sql("""SELECT o_orderstatus, o_orderpriority,
                |  CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
                |  COUNT(*) AS n,
                |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
                |FROM orders_gs
                |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
                |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin)
      },
      Some("""SELECT o_orderstatus, o_orderpriority,
             |  CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
             |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin),
      "GROUPING SETS aggregation with grouping_id disambiguation"),

    // Temporal scalar battery: extraction, truncation, interval
    // arithmetic, month-end, epoch seconds. Day-of-week is normalized to
    // 0=Sunday (Spark's dayofweek is 1-based, DuckDB's dow 0-based).
    Q(
      "datetime_battery",
      (s, d) =>
        T(s, d, "orders")
          .select(
            col("o_orderkey"),
            year(col("o_orderdate")).cast(LongType).as("y"),
            month(col("o_orderdate")).cast(LongType).as("m"),
            dayofmonth(col("o_orderdate")).cast(LongType).as("d"),
            quarter(col("o_orderdate")).cast(LongType).as("q"),
            (dayofweek(col("o_orderdate")) - 1).cast(LongType).as("dow"),
            date_trunc("quarter", col("o_orderdate")).as("q_start"),
            (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("plus30"),
            last_day(col("o_orderdate")).as("month_end"),
            unix_timestamp(col("o_orderdate")).as("epoch_s"))
          .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             |  CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS y,
             |  CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS m,
             |  CAST(EXTRACT(day FROM o_orderdate) AS BIGINT) AS d,
             |  CAST(EXTRACT(quarter FROM o_orderdate) AS BIGINT) AS q,
             |  CAST(EXTRACT(dow FROM o_orderdate) AS BIGINT) AS dow,
             |  date_trunc('quarter', o_orderdate) AS q_start,
             |  o_orderdate + INTERVAL 30 DAY AS plus30,
             |  last_day(o_orderdate) AS month_end,
             |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
             |FROM orders ORDER BY o_orderkey""".stripMargin),
      "temporal scalar battery: extract/trunc/interval/last_day/epoch"),

    // Set operations: INTERSECT / EXCEPT (both distinct by SQL semantics),
    // tagged and unioned into one deterministic result.
    Q(
      "setop_battery",
      (s, d) => {
        val building = T(s, d, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey")
        val withOrders = T(s, d, "orders")
          .select(col("o_custkey").as("c_custkey"))
        building.intersect(withOrders)
          .withColumn("which", lit("both"))
          .unionByName(building.except(withOrders)
            .withColumn("which", lit("no_orders")))
          .orderBy("which", "c_custkey")
      },
      Some("""SELECT c_custkey, 'both' AS which FROM (
             |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
             |  INTERSECT
             |  SELECT o_custkey FROM orders)
             |UNION ALL
             |SELECT c_custkey, 'no_orders' AS which FROM (
             |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
             |  EXCEPT
             |  SELECT o_custkey FROM orders)
             |ORDER BY which, c_custkey""".stripMargin),
      "INTERSECT / EXCEPT set operations, tagged union"),

    // Sessionization: gap > 30 min starts a new session; running sum of
    // starts numbers the sessions per user. Two windows over ONE shuffle
    // (same partitioning/ordering), then one aggregate.
    Q(
      "sessionize",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        T(s, d, "events")
          .select("user_id", "ts", "event_id")
          .withColumn("_prev", lag(col("ts"), 1).over(w))
          .withColumn("_new_session",
            when(col("_prev").isNull ||
              unix_micros(col("ts")) - unix_micros(col("_prev")) > GapUs, 1)
              .otherwise(0))
          .withColumn("session_seq",
            sum(col("_new_session")).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "session_seq")
          .agg(
            count(lit(1)).as("n_events"),
            min(col("ts")).as("start_ts"),
            (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
              .as("duration_us"))
          .orderBy("user_id", "session_seq")
      },
      Some(s"""WITH m AS (
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR date_diff('microsecond', lag(ts) OVER w, ts) > $GapUs
             |         THEN 1 ELSE 0 END AS ns
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |s AS (
             |  SELECT user_id, ts,
             |    CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_seq
             |  FROM m)
             |SELECT user_id, session_seq, COUNT(*) AS n_events,
             |  min(ts) AS start_ts,
             |  date_diff('microsecond', min(ts), max(ts)) AS duration_us
             |FROM s GROUP BY user_id, session_seq
             |ORDER BY user_id, session_seq""".stripMargin),
      "30-min-gap sessionization: lag + running sum + per-session rollup"),

    // Spark's NATIVE session_window (the state-store-backed grouping
    // Structured Streaming uses for streaming sessionization) run in
    // batch, oracled against an independent manual reconstruction — the
    // gate proves the built-in and the lag+cumsum formulation agree
    // event-for-event. Semantics pinned by the oracle: windows are
    // half-open [start, last_event + gap), so a gap of EXACTLY 30 min
    // starts a new session (>= in the oracle, vs the manual `sessionize`
    // gate's strict->merge choice).
    Q(
      "sessionize_native",
      (s, d) =>
        T(s, d, "events")
          .groupBy(col("user_id"),
            session_window(col("ts"), "30 minutes").as("sw"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            col("sw.start").as("session_start"),
            col("sw.end").as("session_end"),
            col("n_events"))
          .orderBy("user_id", "session_start"),
      Some(s"""WITH m AS (
             |  SELECT user_id, ts,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR date_diff('microsecond', lag(ts) OVER w, ts) >= $GapUs
             |         THEN 1 ELSE 0 END AS ns
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |s AS (
             |  SELECT user_id, ts,
             |    CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seq
             |  FROM m)
             |SELECT user_id, min(ts) AS session_start,
             |  max(ts) + INTERVAL 30 MINUTE AS session_end,
             |  COUNT(*) AS n_events
             |FROM s GROUP BY user_id, seq
             |ORDER BY user_id, session_start""".stripMargin),
      "native session_window vs independent manual reconstruction: " +
        "the streaming sessionization primitive, batch-oracled"),

    // Pivoted per-user activity counts (fixed value list -> static schema)
    Q(
      "pivot_event_counts",
      (s, d) =>
        T(s, d, "events")
          .groupBy("user_id")
          .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
          .agg(count(lit(1)))
          .na.fill(0)
          .orderBy("user_id"),
      Some("""SELECT user_id,
             |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
             |  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
             |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
             |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
             |  COUNT(*) FILTER (WHERE event_type = 'view') AS view
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
      "pivot on a fixed value list == conditional-count aggregation"),

    // JSON extraction from the props payload (raw-layer shape)
    Q(
      "json_extract_props",
      (s, d) =>
        T(s, d, "events")
          .select(
            col("event_id"),
            get_json_object(col("props"), "$.k").cast(LongType).as("k"))
          .orderBy("event_id"),
      Some("""SELECT event_id,
             |  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             |FROM events ORDER BY event_id""".stripMargin),
      "JSON path extraction + typed cast from a string payload column"),

    // Exact per-group WEIGHTED median ([[graft.ops.StatOps
    // .weightedMedian]]): the volume-weighted midpoint price per return
    // flag — price cents (floored, IEEE-identical) weighted by
    // quantity, the 2·cumw ≥ totw stored-element selection under the
    // (value, id) total order. The oracle replays the running-weight
    // window and the first-qualifying-row pick.
    Q(
      "agg_weighted_median",
      (s, d) =>
        graft.ops.StatOps.weightedMedian(
          T(s, d, "lineitem").select(
            col("l_returnflag"),
            floor(col("l_extendedprice") * 100).cast("long").as("v"),
            col("l_quantity").cast("long").as("w"),
            (col("l_orderkey") * 10 + col("l_linenumber")).as("id")),
          "l_returnflag", "v", "w", "id")
          .orderBy("l_returnflag"),
      Some("""WITH t AS (
             |  SELECT l_returnflag,
             |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS v,
             |    CAST(l_quantity AS BIGINT) AS w,
             |    l_orderkey * 10 + l_linenumber AS id
             |  FROM lineitem WHERE CAST(l_quantity AS BIGINT) > 0),
             |c AS (
             |  SELECT l_returnflag, v, w, id,
             |    SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v, id
             |                 ROWS UNBOUNDED PRECEDING) AS cw,
             |    SUM(w) OVER (PARTITION BY l_returnflag) AS tw
             |  FROM t)
             |SELECT l_returnflag, v AS weighted_median,
             |  CAST(tw AS BIGINT) AS total_weight
             |FROM (SELECT l_returnflag, v, tw,
             |        ROW_NUMBER() OVER (PARTITION BY l_returnflag
             |                           ORDER BY cw, v) AS rn
             |      FROM c WHERE cw * 2 >= tw) q
             |WHERE rn = 1 ORDER BY l_returnflag""".stripMargin),
      "exact weighted lower median: 2-cumw stored-element selection, integer weights"),

    // Exact percentiles (sort-based; values here interpolate onto exact
    // grid points, so the DuckDB quantile_cont oracle matches)
    Q(
      "agg_percentiles",
      (s, d) =>
        T(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            percentile(col("l_quantity"), lit(0.5)).as("median_qty"),
            percentile(col("l_quantity"), lit(0.95)).as("p95_qty"),
            min(col("l_quantity")).as("min_qty"),
            max(col("l_quantity")).as("max_qty"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  quantile_cont(l_quantity, 0.5) AS median_qty,
             |  quantile_cont(l_quantity, 0.95) AS p95_qty,
             |  min(l_quantity) AS min_qty,
             |  max(l_quantity) AS max_qty
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      "exact interpolated percentiles per group"),

    // TPC-H Q3 shape: selective multi-join + revenue rollup + ordered topN
    Q(
      "q3_shipping_priority",
      (s, d) => {
        val cutoff = lit("1995-03-15").cast(TimestampType)
        val price = col("l_extendedprice").cast(DecimalType(12, 4))
        val disc = col("l_discount").cast(DecimalType(8, 6))
        val one = lit(1).cast(DecimalType(8, 6))
        T(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey")
          .join(T(s, d, "orders").filter(col("o_orderdate") < cutoff),
            col("c_custkey") === col("o_custkey"))
          .join(T(s, d, "lineitem").filter(col("l_shipdate") > cutoff),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
          // scale-4 reduction before the DOUBLE cast — see the q1 note on
          // DuckDB's two-step decimal→double rounding at scale 10
          .agg(sum(price * (one - disc)).cast(DecimalType(28, 4))
            .cast(DoubleType).as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderkey"))
          .limit(20)
          .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
      },
      Some("""SELECT o_orderkey,
             |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) *
             |       (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))) AS DECIMAL(28,4)) AS DOUBLE) AS revenue,
             |  o_orderdate, o_orderpriority
             |FROM customer
             |JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON l_orderkey = o_orderkey
             |WHERE c_mktsegment = 'BUILDING'
             |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
             |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
             |GROUP BY o_orderkey, o_orderdate, o_orderpriority
             |ORDER BY revenue DESC, o_orderkey LIMIT 20""".stripMargin),
      "shipping-priority shape: selective joins, decimal revenue, ordered topN"),

    // TPC-H Q5 shape: the six-table star-chain join (region → nation →
    // customer/supplier → orders → lineitem) with the local-supplier
    // constraint (customer and supplier in the SAME nation — the join
    // graph's cycle) + decimal revenue rollup per nation. The optimizer
    // stress gate: dims broadcast, the two fact joins shuffle on their
    // keys, and the cycle closes as an equi-condition on the already-
    // joined nationkeys, never a second pass.
    Q(
      "q5_local_supplier_volume",
      (s, d) => {
        val price = col("l_extendedprice").cast(DecimalType(12, 4))
        val disc = col("l_discount").cast(DecimalType(8, 6))
        val one = lit(1).cast(DecimalType(8, 6))
        val lo = lit("1996-01-01").cast(TimestampType)
        val hi = lit("1997-01-01").cast(TimestampType)
        T(s, d, "region").filter(col("r_name") === "ASIA")
          .join(T(s, d, "nation"), col("n_regionkey") === col("r_regionkey"))
          .join(T(s, d, "customer"), col("c_nationkey") === col("n_nationkey"))
          .join(T(s, d, "orders")
            .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi),
            col("o_custkey") === col("c_custkey"))
          .join(T(s, d, "lineitem"), col("l_orderkey") === col("o_orderkey"))
          .join(T(s, d, "supplier"),
            col("s_suppkey") === col("l_suppkey") &&
              col("s_nationkey") === col("c_nationkey"))
          .groupBy("n_name")
          .agg(sum(price * (one - disc)).cast(DecimalType(28, 4))
            .cast(DoubleType).as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some("""SELECT n_name,
             |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) *
             |       (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6))))
             |    AS DECIMAL(28,4)) AS DOUBLE) AS revenue
             |FROM region
             |JOIN nation ON n_regionkey = r_regionkey
             |JOIN customer ON c_nationkey = n_nationkey
             |JOIN orders ON o_custkey = c_custkey
             |JOIN lineitem ON l_orderkey = o_orderkey
             |JOIN supplier ON s_suppkey = l_suppkey
             |             AND s_nationkey = c_nationkey
             |WHERE r_name = 'ASIA'
             |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
             |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),
      "Q5 shape: six-table join with a cyclic local-supplier constraint, " +
        "decimal revenue per nation"),

    // Scalar string/null battery: regexp extract, case, trim/pad-free
    // deterministic funcs, coalesce/nullif/greatest/least
    Q(
      "scalar_battery",
      (s, d) =>
        T(s, d, "customer")
          .select(
            col("c_custkey"),
            regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits"),
            upper(col("c_mktsegment")).as("seg_upper"),
            substring(col("c_name"), 1, 8).as("name_prefix"),
            coalesce(nullif(col("c_mktsegment"), lit("BUILDING")),
              lit("OTHER")).as("seg_or_other"),
            greatest(col("c_acctbal"), lit(0.0)).as("bal_floor"),
            least(col("c_nationkey"), lit(10)).as("nk_cap"))
          .orderBy("c_custkey"),
      Some("""SELECT c_custkey,
             |  regexp_extract(c_name, '([0-9]+)', 1) AS digits,
             |  upper(c_mktsegment) AS seg_upper,
             |  substring(c_name, 1, 8) AS name_prefix,
             |  coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
             |  greatest(c_acctbal, 0.0) AS bal_floor,
             |  least(c_nationkey, 10) AS nk_cap
             |FROM customer ORDER BY c_custkey""".stripMargin),
      "string/null scalar battery (regexp, case, coalesce/nullif, clamp)"),

    // Time-RANGE window frames: per-user trailing-hour event count and
    // value sum. RANGE (not ROWS) so ties at the boundary enter the frame
    // wholly — order-independent, which is also why the double sum must
    // DECIMAL-accumulate (scale 4 → both engines round once on the final
    // DOUBLE cast; see PERF.md lesson 3). Ordering key is FLOORED epoch
    // seconds: Spark's timestamp→long cast truncates sub-second micros,
    // but DuckDB's double→BIGINT cast ROUNDS, so the oracle must floor
    // explicitly before its cast — integer range arithmetic after that.
    Q(
      "window_range_frame",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts_sec"))
          .rangeBetween(-3600, 0)
        T(s, d, "events")
          .select(col("event_id"), col("user_id"),
            col("ts").cast("long").as("ts_sec"),
            col("value").cast("decimal(18,4)").as("v"))
          .withColumn("n_trailing_hour", count(lit(1)).over(w))
          .withColumn("sum_trailing_hour",
            sum(col("v")).over(w).cast("double"))
          .select("event_id", "user_id", "ts_sec",
            "n_trailing_hour", "sum_trailing_hour")
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
             |  count(*) OVER w AS n_trailing_hour,
             |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
             |    AS sum_trailing_hour
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
             |ORDER BY event_id""".stripMargin),
      "trailing-hour RANGE frame per user: integer range arithmetic, decimal-exact sum"),

    // UNPIVOT/melt: wide measures to long (column, value) rows — the
    // inverse of pivot_event_counts, one narrow Expand projection, no
    // shuffle. The oracle uses the portable UNION ALL formulation.
    Q(
      "unpivot_melt",
      (s, d) =>
        T(s, d, "customer")
          .select(col("c_custkey"),
            col("c_nationkey").cast("double").as("nationkey"),
            col("c_acctbal").cast("double").as("acctbal"))
          .unpivot(Array(col("c_custkey")),
            Array(col("nationkey"), col("acctbal")), "metric", "value")
          .orderBy("c_custkey", "metric"),
      Some("""SELECT c_custkey, 'nationkey' AS metric,
             |  CAST(c_nationkey AS DOUBLE) AS value FROM customer
             |UNION ALL
             |SELECT c_custkey, 'acctbal', c_acctbal FROM customer
             |ORDER BY c_custkey, metric""".stripMargin),
      "UNPIVOT wide measures to long rows: one Expand projection, shuffle-free"),

    // Correlated scalar subquery + correlated EXISTS — Catalyst
    // DECORRELATES both into joins (a left-outer aggregate join and a
    // semi join; no per-row re-execution), which is exactly why the
    // declarative form survives scale. Via spark.sql: subqueries are a
    // SQL-surface feature.
    Q(
      "subquery_correlated",
      (s, d) => {
        T(s, d, "customer").createOrReplaceTempView("graft_sq_cust")
        T(s, d, "orders").createOrReplaceTempView("graft_sq_ord")
        s.sql("""SELECT c_custkey,
                |  (SELECT CAST(max(o_totalprice) AS DOUBLE) FROM graft_sq_ord
                |   WHERE o_custkey = c_custkey) AS max_order,
                |  EXISTS (SELECT 1 FROM graft_sq_ord
                |          WHERE o_custkey = c_custkey
                |            AND o_orderpriority = '1-URGENT') AS has_urgent
                |FROM graft_sq_cust
                |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey,
             |  (SELECT CAST(max(o_totalprice) AS DOUBLE) FROM orders
             |   WHERE o_custkey = c_custkey) AS max_order,
             |  EXISTS (SELECT 1 FROM orders
             |          WHERE o_custkey = c_custkey
             |            AND o_orderpriority = '1-URGENT') AS has_urgent
             |FROM customer
             |ORDER BY c_custkey""".stripMargin),
      "correlated scalar + EXISTS subqueries, decorrelated into joins by the planner"),

    // Per-group least-squares regression + Pearson r of extendedprice on
    // quantity — the statistical-aggregate family (corr / covar / regr_*)
    // made hash-exact. Built-in corr() accumulates doubles in scan order
    // (different across engines AND across Spark runs), and even
    // DECIMAL-summed moments diverge in the final cast (DuckDB's
    // int128/10^scale → double double-rounds vs Spark's correctly-rounded
    // BigDecimal). So the gate quantizes both measures to integers first
    // (floor — the same fixed-point discipline as sim_centroid_per_label):
    // every moment sum is then an exact BIGINT below 2^53 at gate SF, its
    // double cast is exact in both engines, and the closed forms are
    // IDENTICAL IEEE expression trees (incl. correctly-rounded sqrt) →
    // bit-equal. One shuffle (map-side partials), 3 rows out. At 100 TB
    // the only change is widening the sums to DECIMAL(38,0).
    Q(
      "stat_regression_per_key",
      (s, d) =>
        graft.ops.StatOps
          .quantizedRegression(T(s, d, "lineitem"), "l_returnflag",
            "l_quantity", "l_extendedprice", scale = 1.0)
          .orderBy("l_returnflag"),
      Some("""WITH q AS (
             |  SELECT l_returnflag,
             |    CAST(floor(l_quantity) AS BIGINT) AS qi,
             |    CAST(floor(l_extendedprice) AS BIGINT) AS pi
             |  FROM lineitem),
             |a AS (
             |  SELECT l_returnflag, count(*) AS n,
             |    CAST(SUM(qi) AS BIGINT) AS sx, CAST(SUM(pi) AS BIGINT) AS sy,
             |    CAST(SUM(qi * pi) AS BIGINT) AS sxy,
             |    CAST(SUM(qi * qi) AS BIGINT) AS sxx,
             |    CAST(SUM(pi * pi) AS BIGINT) AS syy
             |  FROM q GROUP BY l_returnflag),
             |b AS (
             |  SELECT l_returnflag, n,
             |    CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
             |    CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
             |    CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd
             |  FROM a),
             |c AS (
             |  SELECT l_returnflag, n, nd, sxd, syd,
             |    nd*sxyd - sxd*syd AS cov,
             |    nd*sxxd - sxd*sxd AS var_x,
             |    nd*syyd - syd*syd AS var_y
             |  FROM b)
             |SELECT l_returnflag, n,
             |  cov/var_x AS slope,
             |  (syd - (cov/var_x)*sxd)/nd AS intercept,
             |  cov/sqrt(var_x*var_y) AS r
             |FROM c ORDER BY l_returnflag""".stripMargin),
      "per-group regression slope/intercept + Pearson r from quantized " +
        "integer moment sums — hash-stable corr/regr_* family"),

    // RFM customer segmentation: recency (latest order date), frequency
    // (order count), monetary (DECIMAL-exact cents) per customer, each
    // scored 1–5 POSITIONALLY — score = (rank−1)·5 div n under an
    // explicit total order — the equi-depth discipline (NTILE over a
    // non-total order would tie-break nondeterministically; value-edge
    // quantiles would not hash-gate). One customer rollup + three
    // shared-shuffle-free window scorings + a label concat.
    Q(
      "rfm_segmentation",
      (s, d) => {
        val base = T(s, d, "orders")
          .groupBy("o_custkey")
          .agg(
            max("o_orderdate").as("last_order"),
            count(lit(1)).as("freq"),
            sum(col("o_totalprice").cast("decimal(18,2)")).as("monetary"))
        // Each rank via the scalable global row number (range partition +
        // offsets; [[graft.ops.StatOps.globalRowNumber]]) — a bare
        // `row_number() OVER (ORDER BY …)` would single-partition the
        // customer universe.
        val ranked = Seq(
          ("last_order", "rn_last_order"),
          ("freq", "rn_freq"),
          ("monetary", "rn_monetary"))
          .foldLeft(base) { case (df, (c, out)) =>
            graft.ops.StatOps.globalRowNumber(
              df, Seq(col(c), col("o_custkey")), out)
          }
        // n = max global rank — a distributed aggregate + 1-row
        // broadcast, never a whole-universe single-partition window
        val nRow = ranked.agg(max("rn_monetary").as("n"))
        val scored = ranked
          .join(broadcast(nRow))
          .withColumn("r_score", expr("(rn_last_order - 1) * 5 div n") + 1)
          .withColumn("f_score", expr("(rn_freq - 1) * 5 div n") + 1)
          .withColumn("m_score", expr("(rn_monetary - 1) * 5 div n") + 1)
        scored.select(col("o_custkey"), col("last_order"), col("freq"),
          col("monetary").cast("string").as("monetary"),
          col("r_score"), col("f_score"), col("m_score"),
          concat(col("r_score"), col("f_score"), col("m_score"))
            .as("segment"))
          .orderBy("o_custkey")
      },
      Some("""WITH base AS (
             |  SELECT o_custkey, max(o_orderdate) AS last_order,
             |    count(*) AS freq,
             |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
             |  FROM orders GROUP BY o_custkey),
             |r AS (SELECT *,
             |    row_number() OVER (ORDER BY last_order, o_custkey) AS rn_l,
             |    row_number() OVER (ORDER BY freq, o_custkey) AS rn_f,
             |    row_number() OVER (ORDER BY monetary, o_custkey) AS rn_m,
             |    count(*) OVER () AS n
             |  FROM base)
             |SELECT o_custkey, last_order, freq,
             |  CAST(monetary AS VARCHAR) AS monetary,
             |  CAST((rn_l - 1) * 5 // n + 1 AS BIGINT) AS r_score,
             |  CAST((rn_f - 1) * 5 // n + 1 AS BIGINT) AS f_score,
             |  CAST((rn_m - 1) * 5 // n + 1 AS BIGINT) AS m_score,
             |  CAST((rn_l - 1) * 5 // n + 1 AS VARCHAR) ||
             |  CAST((rn_f - 1) * 5 // n + 1 AS VARCHAR) ||
             |  CAST((rn_m - 1) * 5 // n + 1 AS VARCHAR) AS segment
             |FROM r ORDER BY o_custkey""".stripMargin),
      "RFM 1-5 segmentation: positional quintiles under total orders, DECIMAL-exact monetary"),

    // Month-over-month growth per order priority: monthly DECIMAL-exact
    // revenue, previous month via lag over the month sequence, growth =
    // one double division. The reporting staple; one rollup + one
    // ordered window per priority.
    Q(
      "timeseries_mom_growth",
      (s, d) => {
        val monthly = T(s, d, "orders")
          .groupBy(col("o_orderpriority"),
            date_trunc("month", col("o_orderdate")).as("month"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
        val w = Window.partitionBy("o_orderpriority").orderBy("month")
        monthly
          .withColumn("prev_rev", lag(col("rev"), 1).over(w))
          .select(col("o_orderpriority"), col("month"),
            col("rev").cast("string").as("rev"),
            col("prev_rev").cast("string").as("prev_rev"),
            when(col("prev_rev").isNotNull,
              (col("rev").cast("double") - col("prev_rev").cast("double")) /
                col("prev_rev").cast("double")).as("growth"))
          .orderBy("o_orderpriority", "month")
      },
      Some("""WITH m AS (
             |  SELECT o_orderpriority, date_trunc('month', o_orderdate) AS month,
             |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
             |  FROM orders GROUP BY 1, 2),
             |g AS (SELECT *,
             |    lag(rev) OVER (PARTITION BY o_orderpriority ORDER BY month)
             |      AS prev_rev
             |  FROM m)
             |SELECT o_orderpriority, month,
             |  CAST(rev AS VARCHAR) AS rev,
             |  CAST(prev_rev AS VARCHAR) AS prev_rev,
             |  CASE WHEN prev_rev IS NOT NULL THEN
             |    (CAST(rev AS DOUBLE) - CAST(prev_rev AS DOUBLE)) /
             |    CAST(prev_rev AS DOUBLE) END AS growth
             |FROM g ORDER BY o_orderpriority, month""".stripMargin),
      "month-over-month revenue growth per priority: DECIMAL-exact sums, one lag window"),

    // ABC / Pareto classification: customers ranked by revenue
    // descending, class A until 70% of cumulative revenue, B until 90%,
    // C after. The cumulative sum is [[graft.ops.StatOps.globalRunningSum]]
    // (range partition + prefix offsets — a bare cumulative window would
    // single-partition the customer universe) over exact integer cents;
    // only the share division is floating point.
    Q(
      "orders_abc_classification",
      (s, d) => {
        val base = T(s, d, "orders")
          .groupBy("o_custkey")
          .agg(sum(floor(col("o_totalprice") * 100).cast("long"))
            .as("cents"))
        val cum = graft.ops.StatOps.globalRunningSum(
          base, Seq(col("cents").desc, col("o_custkey").asc),
          "cents", "cum_cents")
        val tot = cum.agg(max("cum_cents").as("total_cents"))
        cum.join(broadcast(tot))
          .withColumn("share",
            col("cum_cents").cast("double") / col("total_cents").cast("double"))
          .withColumn("abc_class",
            when(col("share") <= 0.7, "A")
              .when(col("share") <= 0.9, "B")
              .otherwise("C"))
          .select("o_custkey", "cents", "cum_cents", "share", "abc_class")
          .orderBy("o_custkey")
      },
      Some("""WITH base AS (
             |  SELECT o_custkey,
             |    CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |      AS cents
             |  FROM orders GROUP BY o_custkey),
             |c AS (SELECT o_custkey, cents,
             |    CAST(SUM(cents) OVER (ORDER BY cents DESC, o_custkey ASC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      AS cum_cents,
             |    CAST(SUM(cents) OVER () AS BIGINT) AS total_cents
             |  FROM base)
             |SELECT o_custkey, cents, cum_cents,
             |  CAST(cum_cents AS DOUBLE) / CAST(total_cents AS DOUBLE) AS share,
             |  CASE WHEN CAST(cum_cents AS DOUBLE) / CAST(total_cents AS DOUBLE)
             |         <= 0.7 THEN 'A'
             |       WHEN CAST(cum_cents AS DOUBLE) / CAST(total_cents AS DOUBLE)
             |         <= 0.9 THEN 'B'
             |       ELSE 'C' END AS abc_class
             |FROM c ORDER BY o_custkey""".stripMargin),
      "Pareto/ABC revenue classes: scalable prefix sums over exact cents"),

    // Gini coefficient of order-value inequality — the scalar diversity/
    // concentration metric (a curation pipeline runs the same statistic
    // over per-source token counts). G = 2·Σi·xᵢ/(n·Σx) − (n+1)/n with x
    // ascending: ranks from [[graft.ops.StatOps.globalRowNumber]], both
    // sums exact (the rank-weighted one in DECIMAL(38,0) — n·x·rank can
    // pass 2^63 at SF ≥ 1), three IEEE ops at the end.
    Q(
      "stats_gini_inequality",
      (s, d) => {
        val cents = T(s, d, "orders")
          .select(col("o_orderkey"),
            floor(col("o_totalprice") * 100).cast("long").as("cents"))
        val ranked = graft.ops.StatOps.globalRowNumber(
          cents, Seq(col("cents").asc, col("o_orderkey").asc), "i")
        ranked.agg(
          count(lit(1)).as("n"),
          sum("cents").as("total_cents"),
          sum((col("i") * col("cents")).cast("decimal(38,0)")).as("s1"))
          .select(col("n"), col("total_cents"),
            (lit(2.0) * col("s1").cast("double") /
              (col("n").cast("double") * col("total_cents").cast("double")) -
              (col("n") + 1).cast("double") / col("n").cast("double"))
              .as("gini"))
      },
      Some("""WITH cents AS (
             |  SELECT o_orderkey,
             |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM orders),
             |r AS (SELECT cents,
             |    row_number() OVER (ORDER BY cents ASC, o_orderkey ASC) AS i
             |  FROM cents)
             |SELECT count(*) AS n,
             |  CAST(SUM(cents) AS BIGINT) AS total_cents,
             |  2.0 * CAST(SUM(CAST(i * cents AS HUGEINT)) AS DOUBLE) /
             |    (CAST(count(*) AS DOUBLE) * CAST(SUM(cents) AS DOUBLE)) -
             |  CAST(count(*) + 1 AS DOUBLE) / CAST(count(*) AS DOUBLE) AS gini
             |FROM r""".stripMargin),
      "Gini inequality of order values: exact rank-weighted sums, scalable ranking"),

    // Year-over-year growth by CALENDAR join, not row lag: the
    // comparison month is `month − 12 months` via an equi-join on exact
    // month arithmetic, so a priority with gap months never compares
    // against the wrong row (lag(12) silently would). DECIMAL-exact
    // revenue; one keyed self-join.
    Q(
      "timeseries_yoy_growth",
      (s, d) => {
        val monthly = T(s, d, "orders")
          .groupBy(col("o_orderpriority"),
            date_trunc("month", col("o_orderdate")).as("month"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
        val prev = monthly.select(
          col("o_orderpriority"),
          (col("month") + expr("INTERVAL 12 MONTHS")).as("month"),
          col("rev").as("prev_rev"))
        monthly.join(prev, Seq("o_orderpriority", "month"), "left")
          .select(col("o_orderpriority"), col("month"),
            col("rev").cast("string").as("rev"),
            col("prev_rev").cast("string").as("prev_rev"),
            when(col("prev_rev").isNotNull,
              (col("rev").cast("double") - col("prev_rev").cast("double")) /
                col("prev_rev").cast("double")).as("yoy_growth"))
          .orderBy("o_orderpriority", "month")
      },
      Some("""WITH m AS (
             |  SELECT o_orderpriority, date_trunc('month', o_orderdate) AS month,
             |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
             |  FROM orders GROUP BY 1, 2)
             |SELECT cur.o_orderpriority, cur.month,
             |  CAST(cur.rev AS VARCHAR) AS rev,
             |  CAST(prev.rev AS VARCHAR) AS prev_rev,
             |  CASE WHEN prev.rev IS NOT NULL THEN
             |    (CAST(cur.rev AS DOUBLE) - CAST(prev.rev AS DOUBLE)) /
             |    CAST(prev.rev AS DOUBLE) END AS yoy_growth
             |FROM m cur LEFT JOIN m prev
             |  ON prev.o_orderpriority = cur.o_orderpriority
             | AND prev.month + INTERVAL 12 MONTH = cur.month
             |ORDER BY cur.o_orderpriority, cur.month""".stripMargin),
      "year-over-year growth by calendar join (gap-month-safe), DECIMAL-exact revenue"),

    // Seasonal-naive forecast evaluation: forecast(month) =
    // revenue(month − 12), scored per priority with MAE and MAPE. The
    // error sums are exact (DECIMAL |diff|, and MAPE's per-month ratios
    // are each ONE double division collected through an ordered fold —
    // the chi-square discipline, since unordered double SUM cannot
    // hash-gate). The baseline every fancier forecaster must beat.
    Q(
      "forecast_seasonal_naive",
      (s, d) => {
        val monthly = T(s, d, "orders")
          .groupBy(col("o_orderpriority"),
            date_trunc("month", col("o_orderdate")).as("month"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
        val prev = monthly.select(
          col("o_orderpriority"),
          (col("month") + expr("INTERVAL 12 MONTHS")).as("month"),
          col("rev").as("fc"))
        monthly.join(prev, Seq("o_orderpriority", "month"))
          .withColumn("abs_err",
            abs((col("rev") - col("fc")).cast("decimal(18,2)")))
          .withColumn("ape",
            col("abs_err").cast("double") / col("rev").cast("double"))
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n_months"),
            (sum("abs_err").cast("double") / count(lit(1))).as("mae"),
            (aggregate(
              transform(array_sort(collect_list(struct(col("month"), col("ape")))),
                s0 => s0.getField("ape")),
              lit(0.0), (acc, x) => acc + x) / count(lit(1))).as("mape"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH m AS (
             |  SELECT o_orderpriority, date_trunc('month', o_orderdate) AS month,
             |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
             |  FROM orders GROUP BY 1, 2),
             |j AS (SELECT cur.o_orderpriority, cur.month, cur.rev, prev.rev AS fc,
             |    CAST(abs(CAST(cur.rev - prev.rev AS DECIMAL(18,2)))
             |         AS DECIMAL(18,2)) AS abs_err
             |  FROM m cur JOIN m prev
             |    ON prev.o_orderpriority = cur.o_orderpriority
             |   AND prev.month + INTERVAL 12 MONTH = cur.month)
             |SELECT o_orderpriority, count(*) AS n_months,
             |  CAST(SUM(abs_err) AS DOUBLE) / count(*) AS mae,
             |  list_reduce(
             |    list_prepend(CAST(0.0 AS DOUBLE),
             |      list(CAST(abs_err AS DOUBLE) / CAST(rev AS DOUBLE)
             |           ORDER BY month)),
             |    (acc, x) -> acc + x) / count(*) AS mape
             |FROM j GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      "seasonal-naive forecast scorecard: exact MAE, ordered-fold MAPE per priority"),

    // MASE of the same seasonal-naive forecast
    // ([[graft.ops.StatOps.maseSeasonalNaive]]): the scale-free score —
    // seasonal MAE over one-step-naive MAE, below 1 beats the random
    // walk. Exact DECIMAL error sums, three IEEE ops; lag by JOIN on
    // t−12 / t−1 so a gapped month can't silently misalign periods.
    Q(
      "forecast_mase",
      (s, d) => {
        val monthly = T(s, d, "orders")
          .groupBy(col("o_orderpriority"),
            (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
              .as("t"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
        graft.ops.StatOps.maseSeasonalNaive(monthly, "o_orderpriority",
            "t", "rev", season = 12)
          .orderBy("o_orderpriority")
      },
      Some("""WITH m AS (
             |  SELECT o_orderpriority AS k,
             |    CAST(year(o_orderdate) * 12 + month(o_orderdate)
             |      AS BIGINT) AS t,
             |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
             |  FROM orders GROUP BY 1, 2),
             |fc AS (SELECT a.k, CAST(count(*) AS BIGINT) AS n_forecasts,
             |    sum(abs(a.rev - b.rev)) AS sae
             |  FROM m a JOIN m b ON a.k = b.k AND b.t = a.t - 12
             |  GROUP BY 1),
             |nv AS (SELECT a.k, CAST(count(*) AS BIGINT) AS n_diffs,
             |    sum(abs(a.rev - b.rev)) AS sad
             |  FROM m a JOIN m b ON a.k = b.k AND b.t = a.t - 1
             |  GROUP BY 1)
             |SELECT coalesce(fc.k, nv.k) AS o_orderpriority,
             |  coalesce(n_forecasts, 0) AS n_forecasts,
             |  coalesce(n_diffs, 0) AS n_diffs,
             |  CASE WHEN n_forecasts > 0 AND n_diffs > 0 AND sad > 0 THEN
             |    (CAST(sae AS DOUBLE) / CAST(n_forecasts AS DOUBLE)) /
             |    (CAST(sad AS DOUBLE) / CAST(n_diffs AS DOUBLE))
             |  END AS mase
             |FROM fc FULL OUTER JOIN nv ON nv.k = fc.k
             |ORDER BY o_orderpriority""".stripMargin),
      "MASE: seasonal MAE over one-step-naive MAE, exact DECIMAL error sums"),

    // One-way ANOVA F across order priorities
    // ([[graft.ops.StatOps.anovaF]]): the omnibus "any mean difference
    // at all" test beside the pairwise tier. Exact DECIMAL cent
    // moments; each group's S²/n term is one double division folded in
    // group order; F is a fixed IEEE tree (no p-value — the F CDF is
    // not engine-reproducible; consumers bring their critical value).
    Q(
      "stats_anova_f",
      (s, d) =>
        graft.ops.StatOps.anovaF(T(s, d, "orders"), "o_orderpriority",
          "o_totalprice", scale = 100.0),
      Some("""WITH per AS (SELECT o_orderpriority AS g,
             |    CAST(count(*) AS HUGEINT) AS ng,
             |    sum(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
             |      AS HUGEINT)) AS sg,
             |    sum(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
             |          AS HUGEINT) *
             |        CAST(floor(o_totalprice * 100) AS BIGINT)) AS qg
             |  FROM orders GROUP BY 1),
             |t AS (SELECT g, ng, sg, qg,
             |    CAST(sg * sg AS DOUBLE) / CAST(ng AS DOUBLE) AS tg
             |  FROM per),
             |m AS (SELECT CAST(count(*) AS BIGINT) AS k,
             |    CAST(sum(ng) AS DOUBLE) AS n,
             |    CAST(sum(ng) AS BIGINT) AS nn,
             |    sum(sg) AS s, CAST(sum(qg) AS DOUBLE) AS q,
             |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |        list(tg ORDER BY g)), (a, x) -> a + x) AS tsum
             |  FROM t)
             |SELECT k, nn AS n,
             |  tsum - CAST(s * s AS DOUBLE) / n AS ssb,
             |  q - tsum AS ssw,
             |  CASE WHEN k > 1 AND n > CAST(k AS DOUBLE)
             |      AND q - tsum > 0 THEN
             |    ((tsum - CAST(s * s AS DOUBLE) / n) /
             |      CAST(k - 1 AS DOUBLE)) /
             |    ((q - tsum) / (n - CAST(k AS DOUBLE)))
             |  END AS f
             |FROM m""".stripMargin),
      "one-way ANOVA F: exact DECIMAL moments, group-ordered term folds, no libm"),

    // Brown–Forsythe variance-equality test across the same order
    // priorities ([[graft.ops.StatOps.brownForsythe]]): ANOVA asks "did
    // the mean shift", this asks "did the SPREAD shift" — the F test
    // re-run on |x − group median|, median-centered so heavy tails don't
    // inflate the size. The doubled-median trick keeps every deviation
    // an exact long (odd n: 2·x_mid, even: x_lo + x_hi); the oracle
    // replays the positional medians and the ANOVA moment algebra.
    Q(
      "stats_brown_forsythe",
      (s, d) =>
        graft.ops.StatOps.brownForsythe(T(s, d, "orders"),
          "o_orderpriority", "o_totalprice", "o_orderkey", scale = 100.0),
      Some("""WITH b AS (SELECT o_orderpriority AS g, o_orderkey AS id,
             |    CAST(floor(o_totalprice * 100) AS BIGINT) AS x
             |  FROM orders),
             |p AS (SELECT g, x,
             |    row_number() OVER (PARTITION BY g ORDER BY x, id) AS rn,
             |    count(*) OVER (PARTITION BY g) AS n FROM b),
             |med AS (SELECT g,
             |    SUM(CASE WHEN rn = (n + 1) // 2 THEN x ELSE 0 END) +
             |    SUM(CASE WHEN rn = n // 2 + 1 THEN x ELSE 0 END) AS med2
             |  FROM p GROUP BY g),
             |z AS (SELECT p.g, CAST(abs(2 * p.x - med.med2) AS BIGINT) AS zd
             |  FROM p JOIN med ON med.g = p.g),
             |per AS (SELECT g, CAST(count(*) AS HUGEINT) AS ng,
             |    sum(CAST(zd AS HUGEINT)) AS sg,
             |    sum(CAST(zd AS HUGEINT) * zd) AS qg
             |  FROM z GROUP BY 1),
             |t AS (SELECT g, ng, sg, qg,
             |    CAST(sg * sg AS DOUBLE) / CAST(ng AS DOUBLE) AS tg
             |  FROM per),
             |m AS (SELECT CAST(count(*) AS BIGINT) AS k,
             |    CAST(sum(ng) AS DOUBLE) AS n,
             |    CAST(sum(ng) AS BIGINT) AS nn,
             |    sum(sg) AS s, CAST(sum(qg) AS DOUBLE) AS q,
             |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |        list(tg ORDER BY g)), (a, x) -> a + x) AS tsum
             |  FROM t)
             |SELECT k, nn AS n,
             |  tsum - CAST(s * s AS DOUBLE) / n AS ssb,
             |  q - tsum AS ssw,
             |  CASE WHEN k > 1 AND n > CAST(k AS DOUBLE)
             |      AND q - tsum > 0 THEN
             |    ((tsum - CAST(s * s AS DOUBLE) / n) /
             |      CAST(k - 1 AS DOUBLE)) /
             |    ((q - tsum) / (n - CAST(k AS DOUBLE)))
             |  END AS f
             |FROM m""".stripMargin),
      "Brown-Forsythe: ANOVA F on |x - group median|, doubled-median exact deviations"),

    // Market-basket association: top part pairs by LIFT —
    // P(a,b)/(P(a)P(b)) = c_ab·N/(c_a·c_b), exact integers into one
    // double division — with a support floor (≥ 2 co-orders) so the
    // ranking isn't noise pairs. Baskets are per-order distinct parts;
    // the pair expansion is bounded by basket size (≤ 7 lineitems), the
    // same cap argument as the co-occurrence gate. Deterministic top-20
    // via (lift desc, pair asc) TakeOrdered.
    Q(
      "basket_lift_pairs",
      (s, d) => {
        val (pair, nOrders) = sharedBasketPairs(s, d)
        pair
          .join(broadcast(nOrders))
          .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"),
            ((col("c_ab") * col("n")).cast("double") /
              (col("c_a") * col("c_b")).cast("double")).as("lift"))
          .orderBy(col("lift").desc, col("a").asc, col("b").asc)
          .limit(20)
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
             |            FROM lineitem),
             |n AS (SELECT count(DISTINCT ok) AS n FROM li),
             |item AS (SELECT p, count(*) AS c FROM li GROUP BY p),
             |pair AS (
             |  SELECT x.p AS a, y.p AS b, count(*) AS c_ab
             |  FROM li x JOIN li y ON x.ok = y.ok AND x.p < y.p
             |  GROUP BY 1, 2 HAVING count(*) >= 2)
             |SELECT a, b, c_ab, ia.c AS c_a, ib.c AS c_b,
             |  CAST(c_ab * n.n AS DOUBLE) / CAST(ia.c * ib.c AS DOUBLE) AS lift
             |FROM pair JOIN item ia ON ia.p = a
             |JOIN item ib ON ib.p = b, n
             |ORDER BY lift DESC, a ASC, b ASC
             |LIMIT 20""".stripMargin),
      "market-basket lift: exact-integer association scores, support-floored top-20"),

    // DIRECTIONAL association rules ante→cons: confidence c_ab/c_ante —
    // the deployable form of basket affinity (lift is symmetric
    // diagnosis; a recommender acts on direction). Same one a<b pair
    // join as the lift gate; each surviving pair unfolds into its two
    // rules afterwards. Exact integer counts; confidence and lift are
    // single IEEE divisions; top-20 under a TOTAL order (conf desc,
    // ante, cons) so boundary ties cannot differ between engines.
    Q(
      "basket_rules",
      (s, d) => {
        val (pair, nOrders) = sharedBasketPairs(s, d)
        val dir = pair
          .select(col("a").as("ante"), col("b").as("cons"), col("c_ab"),
            col("c_a").as("c_ante"), col("c_b").as("c_cons"))
          .unionAll(pair.select(col("b").as("ante"), col("a").as("cons"),
            col("c_ab"), col("c_b").as("c_ante"), col("c_a").as("c_cons")))
        dir.join(broadcast(nOrders))
          .select(col("ante"), col("cons"), col("c_ab"), col("c_ante"),
            (col("c_ab").cast("double") / col("c_ante").cast("double"))
              .as("confidence"),
            ((col("c_ab") * col("n")).cast("double") /
              (col("c_ante") * col("c_cons")).cast("double")).as("lift"))
          .orderBy(col("confidence").desc, col("ante").asc, col("cons").asc)
          .limit(20)
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
             |            FROM lineitem),
             |n AS (SELECT count(DISTINCT ok) AS n FROM li),
             |item AS (SELECT p, count(*) AS c FROM li GROUP BY p),
             |pair AS (
             |  SELECT x.p AS a, y.p AS b, count(*) AS c_ab
             |  FROM li x JOIN li y ON x.ok = y.ok AND x.p < y.p
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |pc AS (SELECT a, b, c_ab, ia.c AS c_a, ib.c AS c_b
             |  FROM pair JOIN item ia ON ia.p = a JOIN item ib ON ib.p = b),
             |dir AS (
             |  SELECT a AS ante, b AS cons, c_ab, c_a AS c_ante, c_b AS c_cons
             |  FROM pc
             |  UNION ALL
             |  SELECT b, a, c_ab, c_b, c_a FROM pc)
             |SELECT ante, cons, c_ab, c_ante,
             |  CAST(c_ab AS DOUBLE) / CAST(c_ante AS DOUBLE) AS confidence,
             |  CAST(c_ab * n.n AS DOUBLE) /
             |    CAST(c_ante * c_cons AS DOUBLE) AS lift
             |FROM dir, n
             |ORDER BY confidence DESC, ante ASC, cons ASC
             |LIMIT 20""".stripMargin),
      "directional association rules: confidence-ranked top-20, total tie order")
  )
}
