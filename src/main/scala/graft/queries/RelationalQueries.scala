package graft.queries

import graft.functions.Money
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operators beyond the reference's surface (SURVEY.md §2.4-§2.8
  * list them all as absent there): joins, grouped aggregation, windows, set
  * ops, rollup, top-k. These are the queries that matter at 100 TB, so each
  * is written the way it should be planned at scale: dimension tables are
  * `broadcast()` (no shuffle of the fact table for the join), money
  * aggregates are exact and associative so partial/merge order can't change
  * the answer — scaled longs ([[graft.functions.Money]], ~2x faster) on the
  * headline queries, DECIMAL(18,2) on the rest to keep both exact paths
  * exercised — and top-k is `orderBy().limit()` which Spark plans as
  * TakeOrderedAndProject (no global sort).
  */
object RelationalQueries {

  private def dec(c: String) = col(c).cast("decimal(18,2)")

  def defs: Seq[QueryDef] = Seq(

    // TPC-H Q1-style pricing summary: the canonical partial-agg + merge
    // shape. Money math on scaled longs (exact, associative, ~2x faster
    // than decimal — see graft.functions.Money).
    QueryDef.headline("q1_agg",
      (s, dir) => Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          Money.sumDollars(Money.cents(col("l_quantity"))).as("sum_qty"),
          Money.sumDollars(Money.cents(col("l_extendedprice"))).as("sum_base_price"),
          Money.sumDollars4(Money.cents(col("l_extendedprice")) *
            (lit(100L) - Money.pct(col("l_discount")))).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
             |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
             |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS sum_disc_price,
             |  count(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // Star join: broadcast dim (customer) x fact (orders) x fact (lineitem).
    // Join order matters at every scale: orders is semi-reduced through the
    // broadcast customer filter FIRST (~1/5 survives BUILDING), so the
    // fact-fact join moves the reduced orders, not all of it. That join is
    // hinted shuffle-hash with the build on the reduced side: the shape
    // stays a partitioned fact-fact join at any scale (never a forced
    // broadcast of fact data), and per-partition hash build on the smaller
    // side beats sort-merge here. Measured at sf0.1: ~0.6s vs ~0.8s for the
    // stats-picked plan (which broadcast-hashed all 600k lineitem rows) and
    // ~1.4s for the unordered original. The groupBy key equals the join
    // key, so the aggregation reuses the join's partitioning (no third
    // shuffle).
    QueryDef.headline("q3_join",
      (s, dir) => {
        val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
        val ord = Tables.orders(s, dir)
        val li = Tables.lineitem(s, dir)
        val ordReduced = ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        li.join(ordReduced.hint("shuffle_hash"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderkey")
          .agg(Money.sumDollars4(Money.cents(col("l_extendedprice")) *
            (lit(100L) - Money.pct(col("l_discount")))).as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderkey"))
          .limit(10)
      },
      Some("""SELECT o_orderkey,
             |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING'
             |GROUP BY o_orderkey
             |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin)),

    // 5-way join through two broadcast dims + supplier co-nation condition.
    // The one fact-fact join (lineitem x orders) is hinted shuffle-hash —
    // without it, sf0.1 stats broadcast the orders FACT, a plan that dies at
    // 100 TB; the partitioned-hash shape holds at any scale and the dims
    // stay explicit broadcasts.
    QueryDef.headline("q5_join_agg",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val ord = Tables.orders(s, dir)
        val cust = Tables.customer(s, dir)
        val supp = Tables.supplier(s, dir)
        val nat = Tables.nation(s, dir)
        li.join(ord.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(cust),
            col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(Money.sumDollars4(Money.cents(col("l_extendedprice")) *
            (lit(100L) - Money.pct(col("l_discount")))).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("n_name")
      },
      Some("""SELECT n_name,
             |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue,
             |  count(*) AS n_items
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // Returned-items report (TPC-H Q10 shape): filtered fact x fact join,
    // two broadcast dims, multi-column grouping, top-20 by revenue.
    QueryDef("q10_returns",
      (s, dir) => {
        val li = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
        val ord = Tables.orders(s, dir)
        val cust = Tables.customer(s, dir)
        val nat = Tables.nation(s, dir)
        li.join(ord.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
          .groupBy("c_custkey", "c_name", "n_name")
          .agg(Money.sumDollars4(Money.cents(col("l_extendedprice")) *
            (lit(100L) - Money.pct(col("l_discount")))).as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name, n_name,
             |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |WHERE l_returnflag = 'R'
             |GROUP BY c_custkey, c_name, n_name
             |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    // Promo-share report (TPC-H Q14 shape): conditional aggregation ratio.
    // Both sums are exact scaled longs; the single final division is the
    // only floating-point op, so the ratio is bit-identical across engines.
    QueryDef("q14_promo_ratio",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val part = Tables.part(s, dir)
        val cents = Money.cents(col("l_extendedprice")) *
          (lit(100L) - Money.pct(col("l_discount")))
        li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
          .agg(
            sum(when(col("p_type") === "ECONOMY", cents).otherwise(lit(0L)))
              .as("_promo"),
            sum(cents).as("_total"))
          .select(
            (col("_promo").cast("double") / 10000.0).as("promo_revenue"),
            (col("_total").cast("double") / 10000.0).as("total_revenue"),
            (col("_promo").cast("double") / col("_total")).as("promo_share"))
      },
      Some("""WITH t AS (
             |  SELECT
             |    sum(CASE WHEN p_type = 'ECONOMY'
             |        THEN CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))
             |        ELSE 0 END) AS promo,
             |    sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS total
             |  FROM lineitem JOIN part ON l_partkey = p_partkey)
             |SELECT CAST(promo AS DOUBLE) / 10000.0 AS promo_revenue,
             |       CAST(total AS DOUBLE) / 10000.0 AS total_revenue,
             |       CAST(promo AS DOUBLE) / total AS promo_share
             |FROM t""".stripMargin)),

    // Exact rank-based percentiles per group: the value at sorted position
    // floor((n-1)*p)+1 — deterministic and engine-identical, unlike
    // interpolating percentile functions whose formulas differ per engine.
    // The window partitions by group (parallel); a 100 TB heavy group would
    // swap in approx sketches — this is the exact form with its oracle.
    QueryDef("percentiles",
      (s, dir) => {
        val w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
        val wc = Window.partitionBy("l_returnflag")
        Tables.lineitem(s, dir)
          .select(col("l_returnflag"), col("l_extendedprice"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(wc))
          .groupBy("l_returnflag")
          .agg(
            max(when(col("rn") === floor((col("n") - 1) * 0.5) + 1,
              col("l_extendedprice"))).as("p50"),
            max(when(col("rn") === floor((col("n") - 1) * 0.95) + 1,
              col("l_extendedprice"))).as("p95"),
            max(col("n")).as("n"))
          .orderBy("l_returnflag")
      },
      Some("""WITH r AS (
             |  SELECT l_returnflag, l_extendedprice,
             |         row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
             |         count(*) OVER (PARTITION BY l_returnflag) AS n
             |  FROM lineitem)
             |SELECT l_returnflag,
             |       max(CASE WHEN rn = CAST(floor((n-1) * 0.5) AS BIGINT) + 1 THEN l_extendedprice END) AS p50,
             |       max(CASE WHEN rn = CAST(floor((n-1) * 0.95) AS BIGINT) + 1 THEN l_extendedprice END) AS p95,
             |       max(n) AS n
             |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Fixed-width value histogram: explicit floor bucketing, one shuffle of
    // (bucket, count) partials.
    QueryDef("value_histogram",
      (s, dir) => Tables.lineitem(s, dir)
        .groupBy(floor(col("l_extendedprice") / 5000).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket"),
      Some("""SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bucket, count(*) AS n
             |FROM lineitem GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // Ordered 3-stage funnel (click -> view -> purchase): stage k's
    // timestamp is the earliest matching event strictly after stage k-1 —
    // three per-user aggregations, each one shuffle keyed by user.
    QueryDef.headline("events_anomalous_days",
      // ingest-volume anomaly flags: days > 2 population-sigma from their
      // event type's mean daily count — the z-score test rearranged into
      // integer cross-multiplied form ((x*n - S)^2 > k^2*(n*Q - S^2)), so
      // no float mean/variance/sqrt exists and both engines flag the same
      // days exactly
      (s, dir) => graft.functions.Stats.anomalousDays(
          Tables.events(s, dir), "ts", "event_type", k = 2)
        .orderBy("day", "event_type"),
      Some("""WITH d AS (
             |  SELECT CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) AS VARCHAR) AS day,
             |         event_type, count(*) AS x
             |  FROM events GROUP BY day, event_type),
             |t AS (SELECT event_type, count(*) AS n, sum(x) AS s,
             |        sum(x * x) AS q
             |      FROM d GROUP BY event_type)
             |SELECT day, d.event_type, CAST(x AS BIGINT) AS n_events,
             |  CAST((x * n - s) * (x * n - s) > 4 * (n * q - s * s) AS INT) AS is_anomaly
             |FROM d JOIN t ON d.event_type = t.event_type
             |ORDER BY day, d.event_type""".stripMargin)),

    QueryDef.headline("events_decayed_counts",
      // exponentially time-decayed event counts per type (tau = 7 days at
      // the corpus horizon): per-event weights micronat-quantized right
      // after the exp, so totals are associative long sums; the oracle
      // re-derives the horizon and every weight
      (s, dir) => graft.functions.Stats.decayedCounts(
          Tables.events(s, dir), "ts", "event_type",
          tauSeconds = 604800L)
        .orderBy("event_type"),
      Some("""WITH e AS (SELECT event_type,
             |         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS s
             |       FROM events),
             |t AS (SELECT max(s) AS tm FROM e)
             |SELECT event_type, count(*) AS n_events,
             |  CAST(sum(CAST(floor(exp((s - tm) / 604800.0) * 1000000 + 0.5)
             |    AS BIGINT)) AS BIGINT) AS decayed_micro
             |FROM e CROSS JOIN t GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    QueryDef.headline("events_psi_drift",
      // population stability index: value distribution of the first half-
      // month vs the second, 10 fixed-width bins with edge clamping and
      // add-one smoothing; per-bin (p−q)·ln(p/q) quantized to micronats
      // right after the ln — the drift monitor is engine-exact, the column
      // sum is the PSI
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .withColumn("_d", to_date(col("ts")))
        graft.functions.Stats.psi(
          ev.filter(col("_d") < lit("2024-01-16")),
          ev.filter(col("_d") >= lit("2024-01-16")),
          "value", lo = 0.0, hi = 500.0, bins = 10)
          .orderBy("bucket")
      },
      Some("""WITH e AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, value
             |  FROM events),
             |ca AS (SELECT CAST(least(greatest(floor((value - 0.0) / 50.0), 0), 9) AS INT) AS bucket,
             |        count(*) AS n_a FROM e WHERE d < DATE '2024-01-16' GROUP BY bucket),
             |cb AS (SELECT CAST(least(greatest(floor((value - 0.0) / 50.0), 0), 9) AS INT) AS bucket,
             |        count(*) AS n_b FROM e WHERE d >= DATE '2024-01-16' GROUP BY bucket),
             |ta AS (SELECT count(*) AS c FROM e WHERE d < DATE '2024-01-16'),
             |tb AS (SELECT count(*) AS c FROM e WHERE d >= DATE '2024-01-16'),
             |bins AS (SELECT unnest(generate_series(0, 9)) AS bucket),
             |j AS (SELECT bucket, COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
             |      FROM bins LEFT JOIN ca USING (bucket) LEFT JOIN cb USING (bucket))
             |SELECT CAST(bucket AS INT) AS bucket, n_a, n_b,
             |  CAST(floor(
             |    (CAST(n_a + 1 AS DOUBLE) / (SELECT c + 10 FROM ta)
             |     - CAST(n_b + 1 AS DOUBLE) / (SELECT c + 10 FROM tb))
             |    * ln((CAST(n_a + 1 AS DOUBLE) / (SELECT c + 10 FROM ta))
             |       / (CAST(n_b + 1 AS DOUBLE) / (SELECT c + 10 FROM tb)))
             |    * 1e6 + 0.5) AS BIGINT) AS psi_micronat
             |FROM j ORDER BY bucket""".stripMargin)),

    QueryDef.headline("event_retention",
      // weekly retention triangle: cohort = a user's first active epoch
      // week, one row per (cohort, week offset) with distinct active
      // users — all integer arithmetic (epoch-second div 604800), so the
      // cohorting is engine-exact
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("user_id"),
          unix_millis(col("ts")).as("ts_ms"))
          .withColumn("wk", expr("(ts_ms div 1000) div 604800"))
        val cohort = ev.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
        ev.join(cohort, "user_id")
          .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy("cohort_wk", "week_offset")
      },
      Some("""WITH e AS (SELECT user_id,
             |            CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 1000 // 604800 AS wk
             |          FROM events),
             |c AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY user_id)
             |SELECT cohort_wk, e.wk - cohort_wk AS week_offset,
             |       count(DISTINCT e.user_id) AS n_users
             |FROM e JOIN c USING (user_id)
             |GROUP BY 1, 2 ORDER BY cohort_wk, week_offset""".stripMargin)),

    QueryDef("event_funnel",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("user_id"),
          col("event_type"), unix_millis(col("ts")).as("ts_ms"))
        val s1 = ev.groupBy("user_id")
          .agg(min(when(col("event_type") === "click", col("ts_ms"))).as("t1"))
        val s2 = ev.join(s1, "user_id").groupBy("user_id")
          .agg(first(col("t1")).as("t1"),
            min(when(col("event_type") === "view" && col("ts_ms") > col("t1"),
              col("ts_ms"))).as("t2"))
        val s3 = ev.join(s2, "user_id").groupBy("user_id")
          .agg(first(col("t1")).as("t1"), first(col("t2")).as("t2"),
            min(when(col("event_type") === "purchase" && col("ts_ms") > col("t2"),
              col("ts_ms"))).as("t3"))
        s3.agg(
          count(when(col("t1").isNotNull, 1)).as("n_click"),
          count(when(col("t2").isNotNull, 1)).as("n_click_view"),
          count(when(col("t3").isNotNull, 1)).as("n_full_funnel"))
      },
      Some("""WITH e AS (SELECT user_id, event_type,
             |            CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_ms FROM events),
             |s1 AS (SELECT user_id,
             |         min(CASE WHEN event_type = 'click' THEN ts_ms END) AS t1
             |       FROM e GROUP BY user_id),
             |s2 AS (SELECT e.user_id, any_value(t1) AS t1,
             |         min(CASE WHEN event_type = 'view' AND ts_ms > t1 THEN ts_ms END) AS t2
             |       FROM e JOIN s1 USING (user_id) GROUP BY e.user_id),
             |s3 AS (SELECT e.user_id, any_value(t1) AS t1, any_value(t2) AS t2,
             |         min(CASE WHEN event_type = 'purchase' AND ts_ms > t2 THEN ts_ms END) AS t3
             |       FROM e JOIN s2 USING (user_id) GROUP BY e.user_id)
             |SELECT count(CASE WHEN t1 IS NOT NULL THEN 1 END) AS n_click,
             |       count(CASE WHEN t2 IS NOT NULL THEN 1 END) AS n_click_view,
             |       count(CASE WHEN t3 IS NOT NULL THEN 1 END) AS n_full_funnel
             |FROM s3""".stripMargin)),

    // Semi/anti join surface.
    QueryDef("join_semi",
      (s, dir) => Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |ORDER BY c_custkey""".stripMargin)),

    QueryDef("join_anti",
      (s, dir) => Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |ORDER BY c_custkey""".stripMargin)),

    QueryDef("join_outer",
      (s, dir) => Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir)),
          col("n_regionkey") === col("r_regionkey"), "left_outer")
        .select(col("n_nationkey"), col("n_name"),
          coalesce(col("r_name"), lit("(none)")).as("r_name"))
        .orderBy("n_nationkey"),
      Some("""SELECT n_nationkey, n_name, coalesce(r_name, '(none)') AS r_name
             |FROM nation LEFT OUTER JOIN region ON n_regionkey = r_regionkey
             |ORDER BY n_nationkey""".stripMargin)),

    // Window functions: rank-per-group (top-3 orders per customer).
    QueryDef.headline("window_rank",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, dir)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) WHERE rn <= 3
             |ORDER BY o_custkey, rn""".stripMargin)),

    // Same result as window_rank, via the custom TopKPerKey operator
    // (LogicalPlan + Strategy + heap-based SparkPlan — no per-group sort).
    QueryDef.headline("topk_per_key",
      (s, dir) => graft.plans.TopKPerKey.perKey(
          Tables.orders(s, dir),
          keyNames = Seq("o_custkey"),
          orderSpec = Seq(("o_totalprice", false), ("o_orderkey", true)),
          k = 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn"),
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) WHERE rn <= 3
             |ORDER BY o_custkey, rn""".stripMargin)),

    // Running (cumulative) sum per user over event order — exact via decimal.
    QueryDef("window_running_sum",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, dir)
          .withColumn("running_value",
            sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
          .select("user_id", "event_id", "running_value")
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id,
             |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
             |    PARTITION BY user_id ORDER BY event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
             |FROM events ORDER BY user_id, event_id""".stripMargin)),

    QueryDef("window_lag_lead",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("event_id")
        Tables.events(s, dir)
          .select(col("user_id"), col("event_id"),
            coalesce(lag("event_type", 1).over(w), lit("(none)")).as("prev_type"),
            coalesce(lead("event_type", 1).over(w), lit("(none)")).as("next_type"))
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id,
             |  coalesce(lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY event_id), '(none)') AS prev_type,
             |  coalesce(lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY event_id), '(none)') AS next_type
             |FROM events ORDER BY user_id, event_id""".stripMargin)),

    QueryDef.headline("event_transitions",
      // first-order Markov transition census over each user's event
      // stream (session-flow analysis): lag over (user, event_id), then
      // one (from, to)-keyed aggregate — partial-aggregable, one shuffle
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("event_id")
        Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("event_type"))
          .withColumn("prev_type", lag("event_type", 1).over(w))
          .filter(col("prev_type").isNotNull)
          .groupBy(col("prev_type").as("from_type"),
            col("event_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy("from_type", "to_type")
      },
      Some("""WITH t AS (SELECT event_type,
             |  lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_type
             |FROM events)
             |SELECT prev_type AS from_type, event_type AS to_type,
             |       CAST(count(*) AS BIGINT) AS n
             |FROM t WHERE prev_type IS NOT NULL
             |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin)),

    QueryDef.headline("window_moving_avg",
      // bounded sliding-frame aggregate (ROWS BETWEEN 4 PRECEDING AND
      // CURRENT): per-user 5-event moving totals in integer cents — the
      // frame is row-bounded so state per key is O(frame), never the
      // whole partition
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("event_id")
          .rowsBetween(-4, 0)
        Tables.events(s, dir)
          .select(col("user_id"), col("event_id"),
            Money.cents(col("value")).as("cents"))
          .select(col("user_id"), col("event_id"), col("cents"),
            sum(col("cents")).over(w).as("mov_sum_cents"),
            count(lit(1)).over(w).as("n_win"))
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id,
             |  CAST(round(value * 100) AS BIGINT) AS cents,
             |  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER
             |    (PARTITION BY user_id ORDER BY event_id
             |     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS mov_sum_cents,
             |  CAST(count(*) OVER
             |    (PARTITION BY user_id ORDER BY event_id
             |     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_win
             |FROM events ORDER BY user_id, event_id""".stripMargin)),

    QueryDef("window_ntile_pct",
      // the remaining rank-family windows: ntile / percent_rank /
      // cume_dist over a TOTAL order ((value, event_id) — ties broken by
      // the unique id, so every rank is distinct and the double divisions
      // are the same integer ratios in both engines
      (s, dir) => {
        val w = Window.partitionBy("event_type")
          .orderBy(col("value"), col("event_id"))
        Tables.events(s, dir)
          .select(col("event_type"), col("event_id"),
            ntile(4).over(w).as("quartile"),
            percent_rank().over(w).as("pr"),
            cume_dist().over(w).as("cd"))
          .orderBy("event_type", "event_id")
      },
      Some("""SELECT event_type, event_id,
             |  CAST(ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS INT) AS quartile,
             |  percent_rank() OVER (PARTITION BY event_type ORDER BY value, event_id) AS pr,
             |  cume_dist() OVER (PARTITION BY event_type ORDER BY value, event_id) AS cd
             |FROM events ORDER BY event_type, event_id""".stripMargin)),

    QueryDef("unpivot_long",
      // wide -> long reshape (the inverse of pivot_agg): per-type metric
      // columns melted to (event_type, metric, value) rows via the native
      // unpivot operator; integer cents keep every value exact
      (s, dir) => Tables.events(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(Money.cents(col("value"))).as("sum_cents"),
          max(Money.cents(col("value"))).as("max_cents"))
        .unpivot(Array(col("event_type")),
          Array(col("n_events"), col("sum_cents"), col("max_cents")),
          "metric", "value")
        .orderBy("event_type", "metric"),
      Some("""WITH w AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
             |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
             |  CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS max_cents
             |FROM events GROUP BY event_type)
             |SELECT event_type, metric, value FROM (
             |  SELECT event_type, 'n_events' AS metric, n_events AS value FROM w
             |  UNION ALL SELECT event_type, 'sum_cents', sum_cents FROM w
             |  UNION ALL SELECT event_type, 'max_cents', max_cents FROM w)
             |ORDER BY event_type, metric""".stripMargin)),

    // Set operations.
    QueryDef("set_union",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
          .union(c.filter(col("c_acctbal") > 9000).select("c_custkey"))
          .distinct().orderBy("c_custkey")
      },
      Some("""SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
             |UNION
             |SELECT c_custkey FROM customer WHERE c_acctbal > 9000
             |ORDER BY c_custkey""".stripMargin)),

    QueryDef("set_intersect",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        o.filter(col("o_orderstatus") === "O").select("o_custkey")
          .intersect(o.filter(col("o_orderstatus") === "F").select("o_custkey"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
             |INTERSECT
             |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
             |ORDER BY o_custkey""".stripMargin)),

    QueryDef("set_except",
      (s, dir) => Tables.customer(s, dir).select("c_custkey")
        .except(Tables.orders(s, dir).select(col("o_custkey").as("c_custkey")))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey FROM customer
             |EXCEPT
             |SELECT o_custkey FROM orders
             |ORDER BY c_custkey""".stripMargin)),

    // GROUPING SETS (the general form rollup/cube specialize).
    QueryDef("grouping_sets",
      (s, dir) => {
        Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_gs")
        s.sql("""
          SELECT coalesce(l_returnflag, 'ALL') AS rf,
                 coalesce(l_linestatus, 'ALL') AS ls,
                 count(*) AS n
          FROM lineitem_gs
          GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
          ORDER BY rf, ls""")
      },
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS rf,
             |       coalesce(l_linestatus, 'ALL') AS ls,
             |       count(*) AS n
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
             |ORDER BY rf, ls""".stripMargin)),

    // Bag semantics: EXCEPT ALL / INTERSECT ALL (multiplicity-preserving).
    QueryDef("set_except_all",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        li.select("l_suppkey")
          .exceptAll(li.filter(col("l_returnflag") === "R").select("l_suppkey"))
          .groupBy("l_suppkey").agg(count(lit(1)).as("n"))
          .orderBy("l_suppkey")
      },
      Some("""SELECT l_suppkey, count(*) AS n FROM (
             |  SELECT l_suppkey FROM lineitem
             |  EXCEPT ALL
             |  SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R')
             |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin)),

    QueryDef("set_intersect_all",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        o.filter(col("o_orderstatus") === "O").select("o_custkey")
          .intersectAll(o.filter(col("o_totalprice") > 100000).select("o_custkey"))
          .groupBy("o_custkey").agg(count(lit(1)).as("n"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey, count(*) AS n FROM (
             |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
             |  INTERSECT ALL
             |  SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
             |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // min_by / max_by (argmin/argmax) — tie-free because the ordering value
    // is the unique o_orderkey.
    QueryDef("min_max_by",
      (s, dir) => Tables.orders(s, dir)
        .groupBy("o_custkey")
        .agg(max_by(col("o_orderstatus"), col("o_orderkey")).as("latest_status"),
          min_by(col("o_orderstatus"), col("o_orderkey")).as("first_status"),
          max(col("o_orderkey")).as("last_key"))
        .orderBy("o_custkey"),
      Some("""SELECT o_custkey,
             |       arg_max(o_orderstatus, o_orderkey) AS latest_status,
             |       arg_min(o_orderstatus, o_orderkey) AS first_status,
             |       max(o_orderkey) AS last_key
             |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // Distinct aggregation.
    QueryDef.headline("distinct_agg",
      (s, dir) => Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
             |       count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Rollup with grouping flags (null group keys coalesced for stable order).
    QueryDef("rollup_agg",
      (s, dir) => Tables.lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(dec("l_quantity")).cast("double").as("sum_qty"),
          grouping("l_returnflag").cast("int").as("g_rf"),
          grouping("l_linestatus").cast("int").as("g_ls"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"), col("g_rf"), col("g_ls"))
        .orderBy("rf", "ls"),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
             |       count(*) AS n,
             |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |       CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
             |       CAST(GROUPING(l_linestatus) AS INT) AS g_ls
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY rf, ls""".stripMargin)),

    QueryDef("cube_agg",
      (s, dir) => Tables.orders(s, dir)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(dec("o_totalprice")).cast("double").as("sum_price"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
          col("n"), col("sum_price"))
        .orderBy("st", "pri"),
      Some("""SELECT coalesce(o_orderstatus, 'ALL') AS st, coalesce(o_orderpriority, 'ALL') AS pri,
             |       count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
             |ORDER BY st, pri""".stripMargin)),

    // TPC-H Q2-style: row matching a correlated MIN (cheapest order per
    // customer) — exact value equality, no arithmetic, engine-stable.
    QueryDef("q2_min_subquery",
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("orders_v")
        Tables.customer(s, dir).createOrReplaceTempView("customer_v")
        s.sql("""
          SELECT c_custkey, o_orderkey, o_totalprice
          FROM customer_v JOIN orders_v ON o_custkey = c_custkey
          WHERE o_totalprice = (SELECT min(o2.o_totalprice)
                                FROM orders_v o2
                                WHERE o2.o_custkey = c_custkey)
          ORDER BY c_custkey, o_orderkey""")
      },
      Some("""SELECT c_custkey, o_orderkey, o_totalprice
             |FROM customer JOIN orders ON o_custkey = c_custkey
             |WHERE o_totalprice = (SELECT min(o2.o_totalprice)
             |                      FROM orders o2
             |                      WHERE o2.o_custkey = c_custkey)
             |ORDER BY c_custkey, o_orderkey""".stripMargin)),

    // TPC-H Q11 (important stock): per-part value from ONE nation's
    // suppliers, kept only when it exceeds a fraction of the nation's
    // total — the global-threshold HAVING pattern. Adapted to this
    // corpus (no partsupp table): value = Σ cents(extendedprice)·qty
    // over lineitem⨝supplier⨝nation. Exact integer money; the threshold
    // compare is cross-multiplied (value·1000 > total) in DECIMAL, and
    // the total rides a scalar subquery (no cross join in the plan).
    QueryDef.headline("q11_important_stock",
      (s, dir) => {
        Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
        Tables.supplier(s, dir).createOrReplaceTempView("supplier_v")
        Tables.nation(s, dir).createOrReplaceTempView("nation_v")
        s.sql("""
          WITH v AS (
            SELECT l_partkey,
              CAST(round(l_extendedprice * 100) AS BIGINT)
                * CAST(l_quantity AS BIGINT) AS val
            FROM lineitem_v
            JOIN supplier_v ON s_suppkey = l_suppkey
            JOIN nation_v ON n_nationkey = s_nationkey
            WHERE n_name = 'NATION_3'),
          g AS (SELECT l_partkey, sum(val) AS value_cents
                FROM v GROUP BY l_partkey)
          SELECT l_partkey, value_cents FROM g
          WHERE CAST(value_cents AS DECIMAL(38,0)) * 1000 >
            (SELECT CAST(sum(val) AS DECIMAL(38,0)) FROM v)
          ORDER BY value_cents DESC, l_partkey""")
      },
      Some("""WITH v AS (
             |  SELECT l_partkey,
             |    CAST(round(l_extendedprice * 100) AS BIGINT)
             |      * CAST(l_quantity AS BIGINT) AS val
             |  FROM lineitem
             |  JOIN supplier ON s_suppkey = l_suppkey
             |  JOIN nation ON n_nationkey = s_nationkey
             |  WHERE n_name = 'NATION_3'),
             |g AS (SELECT l_partkey, CAST(sum(val) AS BIGINT) AS value_cents
             |      FROM v GROUP BY l_partkey)
             |SELECT l_partkey, value_cents FROM g
             |WHERE CAST(value_cents AS HUGEINT) * 1000 >
             |  (SELECT CAST(sum(val) AS HUGEINT) FROM v)
             |ORDER BY value_cents DESC, l_partkey""".stripMargin)),

    // TPC-H Q17-style correlated scalar subquery, through the SQL front end
    // (spark.sql over temp views) — Catalyst decorrelates the per-partkey
    // average into a join; the oracle runs the identical SQL.
    QueryDef("q17_correlated",
      (s, dir) => {
        Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
        Tables.part(s, dir).createOrReplaceTempView("part_v")
        s.sql("""
          SELECT CAST(count(*) AS BIGINT) AS n_small,
                 CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
          FROM lineitem_v JOIN part_v ON p_partkey = l_partkey
          WHERE p_brand = 'Brand#1'
            AND l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                              FROM lineitem_v l2
                              WHERE l2.l_partkey = l_partkey)""")
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_small,
             |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
             |FROM lineitem JOIN part ON p_partkey = l_partkey
             |WHERE p_brand = 'Brand#1'
             |  AND l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
             |                    FROM lineitem l2
             |                    WHERE l2.l_partkey = l_partkey)""".stripMargin)),

    // TPC-H Q4-shaped: priority census of orders with at least one
    // late-shipped line — EXISTS decorrelated to a semi-join keyed by
    // orderkey; the count runs on the reduced order set
    QueryDef.headline("q4_order_priority",
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1997-01-01"))
        val late = Tables.lineitem(s, dir)
          .select(col("l_orderkey").as("o_orderkey"), col("l_shipdate"))
        o.join(late.hint("shuffle_hash"),
            o("o_orderkey") === late("o_orderkey") &&
              late("l_shipdate") > o("o_orderdate"), "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS order_count
             |FROM orders o
             |WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
             |  AND EXISTS (SELECT 1 FROM lineitem l
             |              WHERE l.l_orderkey = o.o_orderkey
             |                AND l.l_shipdate > o.o_orderdate)
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // TPC-H Q21-flavoured: EXISTS and NOT EXISTS against the same table —
    // customers with open orders but no finished ones.
    QueryDef("q21_semi_anti",
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("orders_v21")
        Tables.customer(s, dir).createOrReplaceTempView("customer_v21")
        s.sql("""
          SELECT c_custkey, c_name
          FROM customer_v21
          WHERE EXISTS (SELECT 1 FROM orders_v21 o1
                        WHERE o1.o_custkey = c_custkey AND o1.o_orderstatus = 'O')
            AND NOT EXISTS (SELECT 1 FROM orders_v21 o2
                            WHERE o2.o_custkey = c_custkey AND o2.o_orderstatus = 'F')
          ORDER BY c_custkey""")
      },
      Some("""SELECT c_custkey, c_name
             |FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders o1
             |              WHERE o1.o_custkey = c_custkey AND o1.o_orderstatus = 'O')
             |  AND NOT EXISTS (SELECT 1 FROM orders o2
             |                  WHERE o2.o_custkey = c_custkey AND o2.o_orderstatus = 'F')
             |ORDER BY c_custkey""".stripMargin)),

    // TPC-H Q7-shaped volume-shipping: nation-pair trade flows by ship
    // year. One fact-fact shuffle (lineitem x orders on orderkey); every
    // dimension — supplier, customer, both nation aliases — broadcasts, so
    // the nation-pair label attaches without re-shuffling the fact rows.
    QueryDef.headline("q7_nation_flows",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val ord = Tables.orders(s, dir)
        val n1 = Tables.nation(s, dir)
          .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
        val n2 = Tables.nation(s, dir)
          .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
        li.join(ord.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.supplier(s, dir)),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables.customer(s, dir)),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
          .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
          .filter(col("supp_nation") =!= col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          .agg(Money.sumDollars4(Money.cents(col("l_extendedprice")) *
            (lit(100L) - Money.pct(col("l_discount")))).as("revenue"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             |  CAST(year(l_shipdate) AS INT) AS l_year,
             |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation n1 ON s_nationkey = n1.n_nationkey
             |JOIN nation n2 ON c_nationkey = n2.n_nationkey
             |WHERE n1.n_name <> n2.n_name
             |GROUP BY supp_nation, cust_nation, l_year
             |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),

    // TPC-H Q8-shaped market share: NATION_0 suppliers' revenue share of
    // ECONOMY-part sales by order year. Both sums are exact scaled longs;
    // the one division per row is IEEE-identical across engines (the Q14
    // discipline). The part filter broadcasts and prunes the fact join.
    QueryDef("q8_market_share",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val ord = Tables.orders(s, dir)
        val eco = Tables.part(s, dir).filter(col("p_type") === "ECONOMY")
          .select("p_partkey")
        val vol = Money.cents(col("l_extendedprice")) *
          (lit(100L) - Money.pct(col("l_discount")))
        li.join(broadcast(eco), col("p_partkey") === col("l_partkey"))
          .join(ord.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.supplier(s, dir)),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables.nation(s, dir)),
            col("s_nationkey") === col("n_nationkey"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg((sum(when(col("n_name") === "NATION_0", vol).otherwise(0L))
              .cast("double") /
            sum(vol).cast("double")).as("mkt_share"))
          .orderBy("o_year")
      },
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             |  CAST(sum(CASE WHEN n_name = 'NATION_0' THEN CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT)) ELSE 0 END) AS DOUBLE)
             |  / CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) AS mkt_share
             |FROM lineitem JOIN part ON p_partkey = l_partkey
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation ON s_nationkey = n_nationkey
             |WHERE p_type = 'ECONOMY'
             |GROUP BY o_year ORDER BY o_year""".stripMargin)),

    // TPC-H Q9-shaped product profit: revenue on widget parts by supplier
    // nation and order year (no partsupp table in this corpus, so profit is
    // gross revenue rather than revenue minus supplycost — same plan shape:
    // selective part filter broadcast into the fact, one fact-fact shuffle).
    QueryDef.headline("q9_product_profit",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val widget = Tables.part(s, dir)
          .filter(col("p_name").contains("widget")).select("p_partkey")
        li.join(broadcast(widget), col("p_partkey") === col("l_partkey"))
          .join(Tables.orders(s, dir).hint("shuffle_hash"),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.supplier(s, dir)),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables.nation(s, dir)),
            col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name").as("supp_nation"),
            year(col("o_orderdate")).as("o_year"))
          .agg(Money.sumDollars4(Money.cents(col("l_extendedprice")) *
            (lit(100L) - Money.pct(col("l_discount")))).as("sum_profit"))
          .orderBy(col("supp_nation"), col("o_year").desc)
      },
      Some("""SELECT n_name AS supp_nation, CAST(year(o_orderdate) AS INT) AS o_year,
             |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS sum_profit
             |FROM lineitem JOIN part ON p_partkey = l_partkey
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation ON s_nationkey = n_nationkey
             |WHERE p_name LIKE '%widget%'
             |GROUP BY supp_nation, o_year ORDER BY supp_nation, o_year DESC""".stripMargin)),

    // TPC-H Q12-shaped shipping census: high- vs low-priority line counts
    // per linestatus over one ship year (this corpus has no l_shipmode, so
    // linestatus is the category). Conditional integer sums — associative,
    // partial-agg safe.
    QueryDef("q12_priority_by_status",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        Tables.orders(s, dir)
          .join(li.hint("shuffle_hash"), col("o_orderkey") === col("l_orderkey"))
          .groupBy("l_linestatus")
          .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
            sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
          .orderBy("l_linestatus")
      },
      Some("""SELECT l_linestatus,
             |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
             |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    // TPC-H Q13-shaped customer distribution: orders-per-customer histogram
    // through a LEFT OUTER join (zero-order customers must appear), then a
    // second tiny aggregation over the counts.
    QueryDef.headline("q13_custdist",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir)
          .filter(col("o_orderpriority") =!= "1-URGENT")
        c.join(o.hint("shuffle_hash"),
            col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy("c_count")
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""SELECT c_count, count(*) AS custdist FROM (
             |  SELECT c_custkey, count(o_orderkey) AS c_count
             |  FROM customer LEFT JOIN orders
             |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
             |  GROUP BY c_custkey)
             |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // TPC-H Q15-shaped top supplier: per-supplier revenue over one quarter,
    // keep the max-revenue supplier(s). The max is selected on the EXACT
    // long sum (division to dollars happens after), so ties and equality
    // are integer-exact; the single-row max broadcasts back onto the
    // metadata-sized revenue aggregate.
    QueryDef("q15_top_supplier",
      (s, dir) => {
        val rev = Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
          .groupBy(col("l_suppkey").as("s_suppkey"))
          .agg(sum(Money.cents(col("l_extendedprice")) *
            (lit(100L) - Money.pct(col("l_discount")))).as("rev4"))
        val top = rev.agg(max(col("rev4")).as("rev4max"))
        rev.join(broadcast(top), col("rev4") === col("rev4max"))
          .join(broadcast(Tables.supplier(s, dir)), Seq("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"),
            (col("rev4").cast("double") / 10000.0).as("total_revenue"))
          .orderBy("s_suppkey")
      },
      Some("""WITH rev AS (
             |  SELECT l_suppkey AS s_suppkey,
             |    sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS r
             |  FROM lineitem
             |  WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-04-01'
             |  GROUP BY l_suppkey)
             |SELECT rev.s_suppkey, s_name, CAST(r AS DOUBLE) / 10000.0 AS total_revenue
             |FROM rev JOIN supplier ON supplier.s_suppkey = rev.s_suppkey
             |WHERE r = (SELECT max(r) FROM rev)
             |ORDER BY rev.s_suppkey""".stripMargin)),

    // TPC-H Q16-shaped supplier census: distinct suppliers per (brand,
    // size) for small non-Brand#3 parts, excluding bad-standing suppliers
    // via an anti-join (NOT IN with non-nullable keys). Part filter and
    // exclusion list both broadcast; the countDistinct shuffles once keyed
    // by (brand, size).
    QueryDef.headline("q16_supplier_census",
      (s, dir) => {
        val bad = Tables.supplier(s, dir)
          .filter(col("s_acctbal") < 0).select("s_suppkey")
        val parts = Tables.part(s, dir)
          .filter(col("p_brand") =!= "Brand#3" && col("p_size") <= 25)
          .select("p_partkey", "p_brand", "p_size")
        Tables.lineitem(s, dir)
          .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
          .join(broadcast(parts), col("p_partkey") === col("l_partkey"))
          .groupBy("p_brand", "p_size")
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
      },
      Some("""SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
             |FROM lineitem JOIN part ON p_partkey = l_partkey
             |WHERE p_brand <> 'Brand#3' AND p_size <= 25
             |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
             |GROUP BY p_brand, p_size
             |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin)),

    // TPC-H Q19-shaped disjunctive predicate: three OR'd brand/size/
    // quantity windows collapse to one scan + one broadcast join — the
    // filter stays a single codegen'd predicate, no union of three scans.
    QueryDef.headline("q19_disjunctive",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val p = Tables.part(s, dir)
        def win(brand: String, szHi: Int, qLo: Int, qHi: Int) =
          col("p_brand") === brand && col("p_size").between(1, szHi) &&
            col("l_quantity").between(qLo, qHi)
        li.join(broadcast(p), col("p_partkey") === col("l_partkey"))
          .filter(win("Brand#1", 15, 1, 20) || win("Brand#2", 20, 10, 30) ||
            win("Brand#3", 25, 20, 40))
          .agg(count(lit(1)).as("n_lines"),
            Money.sumDollars4(Money.cents(col("l_extendedprice")) *
              (lit(100L) - Money.pct(col("l_discount")))).as("revenue"))
      },
      Some("""SELECT count(*) AS n_lines,
             |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
             |FROM lineitem JOIN part ON p_partkey = l_partkey
             |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
             |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 30)
             |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 20 AND 40)""".stripMargin)),

    // TPC-H Q20-shaped qualified suppliers: suppliers who moved > 60 units
    // of any red part in 1997 — a grouped HAVING reduced to a tiny key set,
    // then a semi-join into the (already tiny) supplier dim. Quantities are
    // integral doubles, so the sums and the > 60 cut are exact.
    QueryDef("q20_qualified_suppliers",
      (s, dir) => {
        val red = Tables.part(s, dir)
          .filter(col("p_name").startsWith("red")).select("p_partkey")
        val qualified = Tables.lineitem(s, dir)
          .filter(year(col("l_shipdate")) === 1997)
          .join(broadcast(red), col("p_partkey") === col("l_partkey"))
          .groupBy("l_suppkey", "l_partkey")
          .agg(sum(col("l_quantity")).as("q"))
          .filter(col("q") > 60)
          .select(col("l_suppkey").as("s_suppkey")).distinct()
        Tables.supplier(s, dir)
          .join(broadcast(qualified), Seq("s_suppkey"), "left_semi")
          .select("s_suppkey", "s_name")
          .orderBy("s_suppkey")
      },
      Some("""SELECT s_suppkey, s_name FROM supplier
             |WHERE s_suppkey IN (
             |  SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
             |  WHERE p_name LIKE 'red%' AND year(l_shipdate) = 1997
             |  GROUP BY l_suppkey, l_partkey HAVING sum(l_quantity) > 60)
             |ORDER BY s_suppkey""".stripMargin)),

    // TPC-H Q22-shaped dormant rich accounts: customers above the positive-
    // balance average with no urgent orders, grouped by segment. The
    // average-balance threshold is compared in INTEGER cents cross-
    // multiplied by the count (cents*n > total), so the cut is exact in
    // both engines — no float average crosses an equality. The two scalars
    // are a driver-side single-row aggregate (metadata, not data).
    QueryDef("q22_dormant_accounts",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val row = c.filter(col("c_acctbal") > 0)
          .agg(sum(Money.cents(col("c_acctbal"))).as("t"), count(lit(1)).as("n"))
          .head()
        val (t, n) = (row.getLong(0), row.getLong(1))
        val urgent = Tables.orders(s, dir)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey").as("c_custkey"))
        c.filter(Money.cents(col("c_acctbal")) * lit(n) > lit(t))
          .join(urgent.hint("shuffle_hash"), Seq("c_custkey"), "left_anti")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("numcust"),
            Money.sumDollars(Money.cents(col("c_acctbal"))).as("totacctbal"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*) AS numcust,
             |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS totacctbal
             |FROM customer c
             |WHERE CAST(round(c_acctbal * 100) AS BIGINT)
             |      * (SELECT count(*) FROM customer WHERE c_acctbal > 0)
             |    > (SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT))
             |       FROM customer WHERE c_acctbal > 0)
             |  AND NOT EXISTS (SELECT 1 FROM orders o
             |                  WHERE o.o_custkey = c.c_custkey
             |                    AND o.o_orderpriority = '1-URGENT')
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // Pivot: status x priority counts as columns (explicit value list so the
    // output schema is static and oracle-comparable).
    QueryDef("pivot_agg",
      (s, dir) => Tables.orders(s, dir)
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .withColumnsRenamed(Map(
          "1-URGENT" -> "p1", "2-HIGH" -> "p2", "3-MEDIUM" -> "p3",
          "4-NOT SPECIFIED" -> "p4", "5-LOW" -> "p5"))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus,
             |  count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS p1,
             |  count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS p2,
             |  count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS p3,
             |  count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS p4,
             |  count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS p5
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // §2.9 scalar-function surface: the string ops the reference uses
    // (upper/lower/trim/replace/split/concat — rdsdatabase.py:93-102 etc).
    QueryDef("string_funcs",
      (s, dir) => Tables.customer(s, dir)
        .select(col("c_custkey"),
          upper(col("c_name")).as("up"),
          lower(col("c_mktsegment")).as("lo"),
          trim(concat(lit("  "), col("c_name"), lit(" "))).as("trimmed"),
          regexp_replace(col("c_name"), "[0-9]", "#").as("masked"),
          substring(col("c_name"), 1, 8).as("prefix"),
          length(col("c_name")).as("len"),
          concat_ws("|", col("c_mktsegment"), col("c_name")).as("joined"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, upper(c_name) AS up, lower(c_mktsegment) AS lo,
             |  trim('  ' || c_name || ' ') AS trimmed,
             |  regexp_replace(c_name, '[0-9]', '#', 'g') AS masked,
             |  substring(c_name, 1, 8) AS prefix,
             |  CAST(length(c_name) AS INT) AS len,
             |  c_mktsegment || '|' || c_name AS joined
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    // §2.9 conditional/null surface: CASE, nullif, coalesce, greatest/least.
    QueryDef("conditional_funcs",
      (s, dir) => Tables.events(s, dir)
        .select(col("event_id"),
          when(col("value") > 100, "high").when(col("value") > 50, "mid")
            .otherwise("low").as("band"),
          coalesce(nullif(col("event_type"), lit("error")), lit("(err)")).as("type_fixed"),
          greatest(col("value"), col("user_id").cast("double")).as("gv"),
          least(col("value"), lit(50.0)).as("lv"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
             |  CASE WHEN value > 100 THEN 'high' WHEN value > 50 THEN 'mid' ELSE 'low' END AS band,
             |  coalesce(nullif(event_type, 'error'), '(err)') AS type_fixed,
             |  greatest(value, CAST(user_id AS DOUBLE)) AS gv,
             |  least(value, 50.0) AS lv
             |FROM events ORDER BY event_id""".stripMargin)),

    // solr field-grouping syntax through the scan filter path
    QueryDef("filter_solr_group",
      (s, dir) => graft.operators.Filters.solr(Tables.events(s, dir),
          "event_type:(click view purchase) AND value:[50 TO *]")
        .select("event_id", "event_type", "value").orderBy("event_id"),
      Some("""SELECT event_id, event_type, value FROM events
             |WHERE event_type IN ('click', 'view', 'purchase') AND value >= 50
             |ORDER BY event_id""".stripMargin)),

    // §2.9 date/time surface: extract parts, truncation, day arithmetic —
    // engine conventions differ (Spark dayofweek is 1=Sunday, DuckDB 0=Sunday)
    // so the mapping is explicit.
    QueryDef("datetime_funcs",
      (s, dir) => Tables.events(s, dir)
        .select(col("event_id"),
          year(col("ts")).as("y"), month(col("ts")).as("m"),
          dayofmonth(col("ts")).as("d"), hour(col("ts")).as("h"),
          (dayofweek(col("ts")) - 1).as("dow"),
          unix_millis(date_trunc("MONTH", col("ts"))).as("month_start_ms"),
          datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("days_since"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
             |  CAST(year(CAST(ts AS TIMESTAMP)) AS INT) AS y,
             |  CAST(month(CAST(ts AS TIMESTAMP)) AS INT) AS m,
             |  CAST(day(CAST(ts AS TIMESTAMP)) AS INT) AS d,
             |  CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS h,
             |  CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS INT) AS dow,
             |  CAST(epoch_ms(date_trunc('month', CAST(ts AS TIMESTAMP))) AS BIGINT) AS month_start_ms,
             |  CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS days_since
             |FROM events ORDER BY event_id""".stripMargin)),

    // Generator surface: posexplode with ordinality (UNNEST WITH ORDINALITY).
    QueryDef("explode_ordinal",
      (s, dir) => Tables.documents(s, dir).orderBy("doc_id").limit(50)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
        .orderBy("doc_id", "pos"),
      Some("""SELECT doc_id, CAST(i - 1 AS INT) AS pos, (string_split(text, ' '))[i] AS word
             |FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 50),
             |     unnest(generate_series(1, len(string_split(text, ' ')))) AS u(i)
             |ORDER BY doc_id, pos""".stripMargin)),

    // Top-k: planned as TakeOrderedAndProject (no global sort at scale).
    QueryDef.headline("topk",
      (s, dir) => Tables.orders(s, dir)
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(15),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""".stripMargin)),

    // TPC-H Q6-style: pure filter + single aggregate (pushdown showcase).
    QueryDef("q6_filter_agg",
      (s, dir) => Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.02, 0.09) && col("l_quantity") < 24)
        .agg(Money.sumDollars4(Money.cents(col("l_extendedprice")) *
          Money.pct(col("l_discount"))).as("revenue"), count(lit(1)).as("n"))
        .select("revenue", "n"),
      Some("""SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
             |       count(*) AS n
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
             |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
             |  AND l_discount BETWEEN 0.02 AND 0.09 AND l_quantity < 24""".stripMargin)),

    // TPC-H Q18-style: HAVING over a grouped join (large-order customers).
    QueryDef("q18_having",
      (s, dir) => Tables.orders(s, dir)
        .groupBy("o_custkey")
        .agg(sum(dec("o_totalprice")).cast("double").as("total_spend"),
          count(lit(1)).as("n_orders"))
        .filter(col("total_spend") > 1000000.0)
        .orderBy(col("total_spend").desc, col("o_custkey")),
      Some("""SELECT o_custkey,
             |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
             |       count(*) AS n_orders
             |FROM orders GROUP BY o_custkey
             |HAVING CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) > 1000000.0
             |ORDER BY total_spend DESC, o_custkey""".stripMargin)),

    // Tumbling-window aggregation (the batch seat of the streaming
    // windowedCounts pipeline) — epoch-aligned hourly buckets.
    QueryDef("window_tumbling",
      (s, dir) => Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .select(unix_millis(col("w.start")).as("window_start_ms"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("window_start_ms", "event_type"),
      Some("""SELECT CAST(epoch_ms(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP))) AS BIGINT) AS window_start_ms,
             |       event_type, count(*) AS n,
             |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Hopping (sliding) windows: 2-hour windows every hour — each event
    // lands in exactly two windows; the oracle materializes both window
    // starts per event with integer epoch arithmetic.
    QueryDef.headline("window_hopping",
      (s, dir) => Tables.events(s, dir)
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_millis(col("w.start")).as("window_start_ms"),
          col("event_type"), col("n"))
        .orderBy("window_start_ms", "event_type"),
      Some("""WITH e AS (SELECT event_type,
             |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms
             |  FROM events),
             |w AS (SELECT event_type,
             |    unnest([(ms // 3600000) * 3600000,
             |            (ms // 3600000) * 3600000 - 3600000]) AS window_start_ms
             |  FROM e)
             |SELECT window_start_ms, event_type, count(*) AS n
             |FROM w GROUP BY window_start_ms, event_type
             |ORDER BY window_start_ms, event_type""".stripMargin)),

    // Session windows (30-minute inactivity gap) per user — the stateful
    // streaming primitive, verifiable in batch via gaps-and-islands.
    QueryDef("window_session",
      (s, dir) => Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), unix_millis(col("w.start")).as("session_start_ms"),
          col("n_events"))
        .orderBy("user_id", "session_start_ms"),
      Some("""WITH marked AS (
             |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             |         CASE WHEN CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP))
             |                OVER (PARTITION BY user_id ORDER BY ts)
             |              >= INTERVAL 30 MINUTE THEN 1
             |              WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1
             |              ELSE 0 END AS new_session
             |  FROM events),
             |sessions AS (
             |  SELECT user_id, ts,
             |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM marked)
             |SELECT user_id, CAST(epoch_ms(min(ts)) AS BIGINT) AS session_start_ms,
             |       count(*) AS n_events
             |FROM sessions GROUP BY user_id, sid
             |ORDER BY user_id, session_start_ms""".stripMargin)),

    // Approximate distinct (HLL). Sketch internals are engine-specific, so
    // the gate checks the verifiable contract instead: the exact count (full
    // oracle parity) plus a within-rsd-bound flag on the HLL estimate — the
    // estimate is deterministic for fixed data, so the flag is stable, and
    // the oracle asserts it is 1 for every group. Raw estimate values are
    // additionally pinned in ScalaTest.
    QueryDef("approx_distinct",
      (s, dir) => Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), rsd = 0.05).as("_approx"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          when(abs(col("_approx") - col("exact_parts"))
            .cast("double") / col("exact_parts") <= 0.15, lit(1L))
            .otherwise(lit(0L)).as("within_bound"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
             |       CAST(1 AS BIGINT) AS within_bound
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // As-of join (time-series): latest prior click per purchase, per user —
    // one sort-based pass (Joins.asofJoin) vs DuckDB's native ASOF JOIN.
    QueryDef("asof_join",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
        graft.operators.Joins.asofJoin(purchases, clicks, "user_id", "ts", "ts")
          .select(col("event_id"), unix_millis(col("ts")).as("p_ts_ms"),
            // unmatched -> -1 sentinel: NULL handling in the external
            // compare is out of our control, the semantics are unchanged
            coalesce(col("asof_click_id"), lit(-1L)).as("click_id"),
            coalesce(unix_millis(col("asof_ts")), lit(-1L)).as("click_ts_ms"))
          .orderBy("event_id")
      },
      Some("""WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id AS click_id
             |           FROM events WHERE event_type = 'click'),
             |     p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
             |           FROM events WHERE event_type = 'purchase')
             |SELECT p.event_id, CAST(epoch_ms(p.ts) AS BIGINT) AS p_ts_ms,
             |       coalesce(c.click_id, -1) AS click_id,
             |       coalesce(CAST(epoch_ms(c.ts) AS BIGINT), -1) AS click_ts_ms
             |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
             |ORDER BY p.event_id""".stripMargin)),

    // Range join (all purchases within 1h after each click, per user) via
    // bin-overlap: equi-join on (key, bin) + exact filter — never the
    // BroadcastNestedLoop Spark plans for a raw inequality join (PlanSpec
    // pins the plan shape).
    QueryDef("range_join",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            unix_millis(col("ts")).as("c_ts_ms"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            unix_millis(col("ts")).as("p_ts_ms"))
        graft.operators.Joins.rangeJoin(clicks, purchases, "user_id",
            "c_ts_ms", "p_ts_ms", windowMillis = 3600000L)
          .select("click_id", "purchase_id", "c_ts_ms", "p_ts_ms")
          .orderBy("click_id", "purchase_id")
      },
      Some("""WITH c AS (SELECT user_id, event_id AS click_id,
             |             CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS c_ts_ms
             |           FROM events WHERE event_type = 'click'),
             |     p AS (SELECT user_id, event_id AS purchase_id,
             |             CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS p_ts_ms
             |           FROM events WHERE event_type = 'purchase')
             |SELECT click_id, purchase_id, c_ts_ms, p_ts_ms
             |FROM c JOIN p ON c.user_id = p.user_id
             |  AND p.p_ts_ms >= c.c_ts_ms AND p.p_ts_ms < c.c_ts_ms + 3600000
             |ORDER BY click_id, purchase_id""".stripMargin)),

    // Skew-mitigated join: salted result must equal the plain join.
    QueryDef("salted_join",
      (s, dir) => graft.operators.Joins.saltedJoin(
          Tables.orders(s, dir),
          Tables.customer(s, dir)
            .withColumnRenamed("c_custkey", "o_custkey")
            .select("o_custkey", "c_name", "c_mktsegment"),
          key = "o_custkey", saltFactor = 8)
        .select("o_orderkey", "c_name", "c_mktsegment")
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, c_name, c_mktsegment
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |ORDER BY o_orderkey""".stripMargin)),

    // Bloom semi-join reduction: the fact side is prefiltered by a sketch
    // of the reduced dim keys before the join — row-identical to the plain
    // join (the equi-join verifies every probabilistic hit exactly).
    QueryDef.headline("join_bloom_reduce",
      (s, dir) => graft.operators.Joins.bloomReducedJoin(
          Tables.lineitem(s, dir).select("l_orderkey", "l_extendedprice",
            "l_discount"),
          Tables.orders(s, dir)
            .filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus")),
          key = "l_orderkey")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_lines"),
          Money.sumDollars4(Money.cents(col("l_extendedprice")) *
            (lit(100L) - Money.pct(col("l_discount")))).as("revenue"))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus, count(*) AS n_lines,
             |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_orderpriority = '1-URGENT'
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // CUBE over (lang, source): all four grouping sets in ONE pass —
    // Catalyst plans cube as an Expand (each input row replicated once per
    // grouping set, 4x here) into a single partial-aggregable hash
    // aggregate, which at 100 TB beats four separate scans by the scan
    // cost x3. grouping_id disambiguates rolled-up NULLs from data NULLs;
    // keys are coalesced to '(all)' so the output is join/sort-stable.
    QueryDef.headline("agg_cube_lang_source",
      (s, dir) => Tables.documents(s, dir)
        .cube(col("lang"), col("source"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .select(coalesce(col("lang"), lit("(all)")).as("lang"),
          coalesce(col("source"), lit("(all)")).as("source"),
          col("gid"), col("n_docs"), col("sum_chars"))
        .orderBy("gid", "lang", "source"),
      Some("""SELECT coalesce(lang, '(all)') AS lang,
             |  coalesce(source, '(all)') AS source,
             |  CAST(GROUPING(lang, source) AS BIGINT) AS gid,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents GROUP BY CUBE (lang, source)
             |ORDER BY gid, lang, source""".stripMargin)),

    // PIVOT day x event_type -> one count column per type. The value list
    // is EXPLICIT (the implicit form runs a collect-distinct job and makes
    // the schema data-dependent — wrong at any scale); absent combinations
    // land as NULL from the pivot and are coalesced to 0. One
    // partial-aggregable shuffle on day; the pivot itself is just a
    // CASE-WHEN fan-out inside the aggregate, exactly how the oracle
    // spells it.
    QueryDef.headline("events_pivot_daily",
      (s, dir) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val p = Tables.events(s, dir)
          .groupBy(to_date(col("ts")).cast("string").as("day"))
          .pivot("event_type", types)
          .agg(count(lit(1)))
        p.select(col("day") +:
            types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
          .orderBy("day")
      },
      Some("""SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             |  CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
             |  CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
             |  CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
             |  CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
             |  CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
             |FROM events GROUP BY 1 ORDER BY day""".stripMargin)),

    // UNPIVOT (melt) three lineitem measures into (metric, val) rows, then
    // profile each metric — the wide-to-long reshape every profiling /
    // feature-store export needs. Unpivot is an Expand (3x row replication,
    // no shuffle); the profile is one metric-keyed aggregate whose key
    // cardinality equals the measure count. Exactness: values pass through
    // unchanged; the sum goes through DECIMAL(18,2) like every
    // double-sum gate.
    QueryDef.headline("unpivot_metrics",
      (s, dir) => Tables.lineitem(s, dir)
        .unpivot(
          Array(col("l_orderkey")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "val")
        .groupBy("metric")
        .agg(count(lit(1)).as("n"),
          min(col("val")).as("min_val"), max(col("val")).as("max_val"),
          sum(col("val").cast("decimal(18,2)")).cast("double").as("sum_val"))
        .orderBy("metric"),
      Some("""WITH u AS (
             |  SELECT 'l_quantity' AS metric, l_quantity AS val FROM lineitem
             |  UNION ALL
             |  SELECT 'l_extendedprice', l_extendedprice FROM lineitem
             |  UNION ALL
             |  SELECT 'l_discount', l_discount FROM lineitem)
             |SELECT metric, CAST(count(*) AS BIGINT) AS n,
             |  min(val) AS min_val, max(val) AS max_val,
             |  CAST(sum(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
             |FROM u GROUP BY metric ORDER BY metric""".stripMargin)),

    // Event-time RANGE frame: per user, the trailing-30-minute spend and
    // event count at every event — the true interval frame (peers join by
    // TIME distance, not row distance), which no ROWS frame can express
    // over irregular arrivals. Spark orders the frame on exact micros with
    // the interval spelled in micros; one user-keyed shuffle, the frame
    // scan is linear per partition (sliding sum over a sorted run). Money
    // in cents so the sliding sum is exact under any evaluation order.
    QueryDef.headline("events_range_frame_sum",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("_us"))
          .rangeBetween(-1800L * 1000000L, 0L)
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("_us"),
            Money.cents(col("value")).as("_cents"))
          .select(col("event_id"), col("user_id"),
            sum("_cents").over(w).as("trail_cents"),
            count(lit(1)).over(w).as("n_trail"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             |  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
             |    PARTITION BY user_id ORDER BY ts
             |    RANGE BETWEEN INTERVAL 30 MINUTES PRECEDING
             |      AND CURRENT ROW) AS BIGINT) AS trail_cents,
             |  CAST(count(*) OVER (
             |    PARTITION BY user_id ORDER BY ts
             |    RANGE BETWEEN INTERVAL 30 MINUTES PRECEDING
             |      AND CURRENT ROW) AS BIGINT) AS n_trail
             |FROM events ORDER BY event_id""".stripMargin)),

    // Distribution window functions — ntile / percent_rank / cume_dist
    // per event_type, the quantile-assignment trio the window family had
    // not yet pinned. The ORDER BY carries event_id as a tiebreak so
    // every rank is unique and both engines assign identical buckets;
    // percent_rank/cume_dist are then the same exact integer ratios
    // ((rank-1)/(n-1), n_leq/n) evaluated in IEEE doubles — bit-equal.
    // One user-partition-keyed shuffle; frames are whole-partition.
    QueryDef.headline("window_distribution_funcs",
      (s, dir) => {
        val w = Window.partitionBy("event_type")
          .orderBy(col("cents"), col("event_id"))
        Tables.events(s, dir)
          .select(col("event_id"), col("event_type"),
            Money.cents(col("value")).as("cents"))
          .select(col("event_id"), col("event_type"), col("cents"),
            ntile(4).over(w).cast("long").as("quartile"),
            percent_rank().over(w).as("pr"),
            cume_dist().over(w).as("cd"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, event_type,
             |  CAST(round(value * 100) AS BIGINT) AS cents,
             |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             |  percent_rank() OVER w AS pr,
             |  cume_dist() OVER w AS cd
             |FROM events
             |WINDOW w AS (PARTITION BY event_type
             |  ORDER BY CAST(round(value * 100) AS BIGINT), event_id)
             |ORDER BY event_id""".stripMargin)),

    // Grouped min/max/avg with exact arithmetic.
    QueryDef("agg_stats",
      (s, dir) => Tables.lineitem(s, dir)
        .groupBy("l_linestatus")
        .agg(min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"),
          (sum(dec("l_extendedprice")).cast("double") / count(lit(1))).as("avg_price"),
          count(lit(1)).as("n"))
        .orderBy("l_linestatus"),
      Some("""SELECT l_linestatus, min(l_extendedprice) AS min_price,
             |       max(l_extendedprice) AS max_price,
             |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
             |       count(*) AS n
             |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)))
}
