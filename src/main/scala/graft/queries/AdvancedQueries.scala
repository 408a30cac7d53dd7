package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.{Q, T}
import graft.ops.{AsOfJoin, RangeJoin, SkewOps}

/** Operators beyond the reference's surface that a Spark-native analytics
  * engine owes its users: as-of joins (event/state alignment), skew-safe
  * salted aggregation, distinct-count aggregates. */
object AdvancedQueries {

  val all: Seq[Q] = Seq(
    // As-of join: latest click at-or-before each purchase, per user.
    // Composed as union + one ordered window (single shuffle, no range
    // cross join) — see ops.AsOfJoin. Oracle: DuckDB's native ASOF JOIN.
    // A sentinel key (-999: one purchase in 1990, its only click AFTER
    // the purchase) is unioned into BOTH sides so the no-prior-state
    // boundary — a key whose first left event precedes every right row —
    // is guaranteed in the gate corpus at any SF, not data-dependent.
    Q(
      "asof_join",
      (s, d) => {
        val ev = T(s, d, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
          .unionByName(s.sql(
            """SELECT CAST(-1 AS BIGINT) AS event_id,
              |  CAST(-999 AS BIGINT) AS user_id,
              |  TIMESTAMP'1990-01-01 00:00:00' AS ts""".stripMargin))
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy("user_id", "ts")
          .agg(max("event_id").as("click_id"))
          .withColumnRenamed("ts", "click_ts")
          .unionByName(s.sql(
            """SELECT CAST(-999 AS BIGINT) AS user_id,
              |  TIMESTAMP'1990-06-01 00:00:00' AS click_ts,
              |  CAST(-2 AS BIGINT) AS click_id""".stripMargin))
        AsOfJoin
          .asOf(purchases, clicks, "user_id",
            leftTime = "ts", rightTime = "click_ts",
            payload = Seq("click_id" -> "click_id", "click_ts" -> "click_ts"))
          .orderBy("event_id")
      },
      Some("""WITH p AS (SELECT event_id, user_id, ts FROM events
             |           WHERE event_type = 'purchase'
             |      UNION ALL
             |      SELECT -1, -999, TIMESTAMP '1990-01-01 00:00:00'),
             |c AS (SELECT user_id, ts AS click_ts, max(event_id) AS click_id
             |      FROM events WHERE event_type = 'click' GROUP BY 1, 2
             |      UNION ALL
             |      SELECT -999, TIMESTAMP '1990-06-01 00:00:00', -2)
             |SELECT p.event_id, p.user_id, p.ts, c.click_id, c.click_ts
             |FROM p ASOF LEFT JOIN c
             |  ON p.user_id = c.user_id AND p.ts >= c.click_ts
             |ORDER BY p.event_id""".stripMargin),
      "as-of join via union + ordered window (linear; DuckDB ASOF oracle)"),

    // Forward as-of: the EARLIEST click at-or-after each view per user
    // (time-to-response alignment) — the mirror gate of asof_join, via
    // ops.AsOfJoin.asOfForward's FOLLOWING-frame carry. The sentinel key
    // (-998) has its only click BEFORE its view, guaranteeing the
    // no-following-state boundary (NULL carry) in the corpus at any SF.
    Q(
      "asof_join_forward",
      (s, d) => {
        val ev = T(s, d, "events")
        val views = ev.filter(col("event_type") === "view")
          .select("event_id", "user_id", "ts")
          .unionByName(s.sql(
            """SELECT CAST(-3 AS BIGINT) AS event_id,
              |  CAST(-998 AS BIGINT) AS user_id,
              |  TIMESTAMP'1990-06-01 00:00:00' AS ts""".stripMargin))
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy("user_id", "ts")
          .agg(max("event_id").as("click_id"))
          .withColumnRenamed("ts", "click_ts")
          .unionByName(s.sql(
            """SELECT CAST(-998 AS BIGINT) AS user_id,
              |  TIMESTAMP'1990-01-01 00:00:00' AS click_ts,
              |  CAST(-4 AS BIGINT) AS click_id""".stripMargin))
        AsOfJoin
          .asOfForward(views, clicks, "user_id",
            leftTime = "ts", rightTime = "click_ts",
            payload = Seq("click_id" -> "click_id", "click_ts" -> "click_ts"))
          .orderBy("event_id")
      },
      Some("""WITH v AS (SELECT event_id, user_id, ts FROM events
             |           WHERE event_type = 'view'
             |      UNION ALL
             |      SELECT -3, -998, TIMESTAMP '1990-06-01 00:00:00'),
             |c AS (SELECT user_id, ts AS click_ts, max(event_id) AS click_id
             |      FROM events WHERE event_type = 'click' GROUP BY 1, 2
             |      UNION ALL
             |      SELECT -998, TIMESTAMP '1990-01-01 00:00:00', -4)
             |SELECT v.event_id, v.user_id, v.ts, c.click_id, c.click_ts
             |FROM v ASOF LEFT JOIN c
             |  ON v.user_id = c.user_id AND v.ts <= c.click_ts
             |ORDER BY v.event_id""".stripMargin),
      "forward as-of join: earliest at-or-after state, FOLLOWING-frame " +
        "carry (linear; DuckDB ASOF oracle)"),

    // The interval join, RangeJoin.intervalJoin (attribution: clicks
    // within the 10 minutes AFTER each impression — here: click events
    // within 10 min at-or-before each purchase, per user), with its
    // right_<name> collision renaming. Oracle: the plain inequality
    // join, exact.
    Q(
      "interval_join_batch",
      (s, d) => {
        val ev = T(s, d, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
        RangeJoin
          .intervalJoin(purchases, "ts", clicks, "ts", "user_id",
            toleranceSecs = 600L, bucketSecs = 600L)
          .select("purchase_id", "user_id", "ts", "click_id", "right_ts")
          .orderBy("purchase_id", "click_id")
      },
      Some("""WITH p AS (SELECT event_id AS purchase_id, user_id, ts
             |           FROM events WHERE event_type = 'purchase'),
             |c AS (SELECT event_id AS click_id, user_id, ts
             |      FROM events WHERE event_type = 'click')
             |SELECT p.purchase_id, p.user_id, p.ts, c.click_id,
             |  c.ts AS right_ts
             |FROM p JOIN c ON p.user_id = c.user_id
             |  AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts <= p.ts
             |ORDER BY purchase_id, click_id""".stripMargin),
      "batch interval join == streaming tolerance semantics (bucketed, linear)"),

    // Salted two-phase aggregation: bit-identical to the direct groupBy
    // (counts and DECIMAL sums re-associate exactly) while a hot key's
    // rows spread over 16 reducers in phase one.
    Q(
      "skew_salted_agg",
      (s, d) =>
        SkewOps
          .saltedCountSum(T(s, d, "orders"), "o_custkey", "o_totalprice", 16)
          .orderBy("o_custkey"),
      Some("""SELECT o_custkey, COUNT(*) AS n_rows,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_value
             |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),
      "skew-safe salted aggregation == direct groupBy (exact re-association)"),

    // Salted join: replicate the small side over 16 salt buckets so a hot
    // FK value's rows land on 16 reducers instead of one. Inner-join
    // semantics are preserved exactly (each big row carries one salt, the
    // small side covers all salts), asserted against the plain-join oracle.
    Q(
      "skew_salted_join",
      (s, d) => {
        val big = T(s, d, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        val dim = T(s, d, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
        SkewOps.saltedJoin(big, dim, "o_custkey", 16)
          .groupBy("c_mktsegment")
          .agg(
            count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast(DecimalType(18, 4)))
              .cast(DoubleType).as("total_value"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_value
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
      "skew-safe salted join == plain join (small side replicated per salt)"),

    // Bucketed range join: clicks inside the 1-hour window before each
    // purchase, same user. The bucket equi-join is linear (each point has
    // ONE bucket; each interval replicates to the <=2 buckets it spans) —
    // never the BroadcastNestedLoopJoin cartesian a raw inequality join
    // plans. Oracle: the plain inequality join, exact.
    Q(
      "range_join_bucketed",
      (s, d) => {
        val ev = T(s, d, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            (col("ts") - expr("INTERVAL 1 HOUR")).as("w_start"),
            col("ts").as("w_end"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"))
        RangeJoin
          .pointInInterval(clicks, purchases, "ts", "w_start", "w_end",
            bucketSecs = 3600L, extraKey = Some("user_id"))
          .groupBy("purchase_id")
          .agg(
            count(lit(1)).as("n_clicks"),
            min(col("ts")).as("first_click"),
            max(col("ts")).as("last_click"))
          .orderBy("purchase_id")
      },
      Some("""WITH p AS (SELECT event_id AS purchase_id, user_id,
             |            ts - INTERVAL 1 HOUR AS w_start, ts AS w_end
             |            FROM events WHERE event_type = 'purchase'),
             |c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
             |SELECT purchase_id, COUNT(*) AS n_clicks,
             |  MIN(c.ts) AS first_click, MAX(c.ts) AS last_click
             |FROM c JOIN p ON c.user_id = p.user_id
             |  AND c.ts >= p.w_start AND c.ts <= p.w_end
             |GROUP BY purchase_id ORDER BY purchase_id""".stripMargin),
      "bucketed range join: linear bucket equi-join + exact BETWEEN filter"),

    // Distinct-count aggregate (Expand-based distinct path)
    Q(
      "agg_distinct_count",
      (s, d) =>
        T(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            countDistinct(col("l_partkey")).as("n_parts"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
             |  COUNT(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      "distinct-count aggregate per group"),

    // Recursive CTE (Spark 4's WITH RECURSIVE) — ancestor-chain closure
    // over a synthetic customer hierarchy (parent = id div 10): every
    // customer walks to its single-digit root, carrying the depth. The
    // SQL-surface twin of the DataFrame-loop iteration the graph tier
    // does by hand; recursion depth is log₁₀(keyspace), and each
    // recursion step is one self-join — the engine executes it as an
    // iterative union, no driver loop. Only the integer-division
    // spelling differs between engines (DIV vs //).
    Q(
      "sql_recursive_hierarchy",
      (s, d) => {
        T(s, d, "customer").createOrReplaceTempView("customer_rh")
        s.sql("""WITH RECURSIVE h(id, node, depth) AS (
                |  SELECT c_custkey, c_custkey, 0 FROM customer_rh
                |  UNION ALL
                |  SELECT id, node DIV 10, depth + 1 FROM h WHERE node >= 10)
                |SELECT id, node AS root, CAST(depth AS BIGINT) AS depth
                |FROM h WHERE node < 10
                |ORDER BY id""".stripMargin)
      },
      Some("""WITH RECURSIVE h(id, node, depth) AS (
             |  SELECT c_custkey, c_custkey, 0 FROM customer
             |  UNION ALL
             |  SELECT id, node // 10, depth + 1 FROM h WHERE node >= 10)
             |SELECT id, node AS root, CAST(depth AS BIGINT) AS depth
             |FROM h WHERE node < 10
             |ORDER BY id""".stripMargin),
      "WITH RECURSIVE ancestor closure: per-customer root + depth, iterative-union execution"),

    // Correlated LATERAL subquery with ORDER BY + LIMIT — "top-2 orders
    // per customer" in the SQL spelling analysts actually write. Spark
    // decorrelates the lateral into a ranked join (same plan family as
    // the window top-n gate), so per-row re-execution never happens.
    Q(
      "sql_lateral_topn",
      (s, d) => {
        T(s, d, "customer").createOrReplaceTempView("customer_lt")
        T(s, d, "orders").createOrReplaceTempView("orders_lt")
        s.sql("""SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
                |FROM customer_lt c,
                |LATERAL (SELECT o_orderkey, o_totalprice FROM orders_lt
                |         WHERE o_custkey = c.c_custkey
                |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
                |ORDER BY c.c_custkey, l.o_orderkey""".stripMargin)
      },
      Some("""SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
             |FROM customer c,
             |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
             |         WHERE o_custkey = c.c_custkey
             |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
             |ORDER BY c.c_custkey, l.o_orderkey""".stripMargin),
      "correlated LATERAL top-n per key: decorrelated to a ranked join, never per-row")
  )
}
