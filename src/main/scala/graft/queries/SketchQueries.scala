package graft.queries

import graft.functions.{Dedup, Sketches, TextAnalysis}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import OracleSql._

/** Sketches and event analytics: HLL, KMV and log-histogram quantile
  * sketches with their merge laws, rolling and decayed event features,
  * funnels, sessions, change-point and outlier detection, and robust
  * statistics. */
object SketchQueries {

  def defs: Seq[QueryDef] = Seq(

    QueryDef.headline("grouped_percentiles_scalable",
      // EXACT per-language p50/p90/p99 of n_chars WITHOUT a per-group sort
      // or window: two bounded-histogram passes + metadata collects
      // (Stats.groupedExactPercentiles — the scale path where ntile would
      // funnel each language through one task). Oracle: the textbook
      // order-statistic (min value whose cumulative count reaches
      // ceil(n*p)) per group, recomputed with a window over DISTINCT
      // values — fine at gate scale, the very plan the engine avoids
      (s, dir) => graft.functions.Stats.groupedExactPercentiles(
        Tables.documents(s, dir), "lang", "n_chars",
        Seq(0.5, 0.9, 0.99), bucketWidth = 100L),
      Some("""WITH n AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
             |cv AS (SELECT lang, n_chars AS v, count(*) AS c
             |       FROM documents GROUP BY 1, 2),
             |r AS (SELECT lang, v,
             |        sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum
             |      FROM cv),
             |f AS (SELECT unnest([CAST('0.5' AS DOUBLE), CAST('0.9' AS DOUBLE),
             |                     CAST('0.99' AS DOUBLE)]) AS p)
             |SELECT n.lang AS lang, f.p AS p, min(r.v) AS cutoff
             |FROM n CROSS JOIN f
             |JOIN r ON r.lang = n.lang AND r.cum >= ceil(n.n * f.p)
             |GROUP BY n.lang, f.p ORDER BY 1, 2""".stripMargin)),

    QueryDef.headline("winsorize_by_group",
      // robust outlier capping: clip each event's value to its TYPE's
      // exact [p05, p95] order statistics — cutoffs from the bounded-
      // histogram percentile pass (no per-group sort), clip as a broadcast
      // join + narrow map. Integer cents end-to-end
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("event_id"),
          col("event_type"), graft.functions.Money.cents(col("value")).as("cents"))
        val cuts = graft.functions.Stats.groupedExactPercentiles(
          ev, "event_type", "cents", Seq(0.05, 0.95), bucketWidth = 100L)
        val wide = cuts.groupBy(col("event_type")).agg(
          min(when(col("p") === 0.05, col("cutoff"))).as("_lo"),
          min(when(col("p") === 0.95, col("cutoff"))).as("_hi"))
        ev.join(broadcast(wide), Seq("event_type"))
          .select(col("event_id"), col("event_type"), col("cents"),
            greatest(col("_lo"), least(col("_hi"), col("cents")))
              .as("winsorized_cents"))
          .orderBy("event_id")
      },
      Some("""WITH ev AS (SELECT event_id, event_type,
             |              CAST(round(value * 100) AS BIGINT) AS cents FROM events),
             |n AS (SELECT event_type, count(*) AS n FROM ev GROUP BY 1),
             |cv AS (SELECT event_type, cents AS v, count(*) AS c FROM ev GROUP BY 1, 2),
             |r AS (SELECT event_type, v,
             |        sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cum
             |      FROM cv),
             |f AS (SELECT unnest([CAST('0.05' AS DOUBLE), CAST('0.95' AS DOUBLE)]) AS p),
             |cuts AS (SELECT n.event_type, f.p, min(r.v) AS cutoff
             |         FROM n CROSS JOIN f
             |         JOIN r ON r.event_type = n.event_type AND r.cum >= ceil(n.n * f.p)
             |         GROUP BY n.event_type, f.p),
             |wide AS (SELECT event_type,
             |           min(CASE WHEN p = 0.05 THEN cutoff END) AS lo,
             |           min(CASE WHEN p = 0.95 THEN cutoff END) AS hi
             |         FROM cuts GROUP BY 1)
             |SELECT ev.event_id, ev.event_type, ev.cents,
             |       greatest(wide.lo, least(wide.hi, ev.cents)) AS winsorized_cents
             |FROM ev JOIN wide USING (event_type)
             |ORDER BY event_id""".stripMargin)),

    QueryDef.headline("score_quantile_normalize",
      // cross-source score calibration: replace each doc's quality score
      // with its within-source quantile rank (permille), so a threshold
      // means the same thing in every source regardless of the sources'
      // raw score distributions — the standard fix when one crawl's
      // scorer runs hot. Integer everything: scores quantized to nanos
      // (the established discipline), rank over the (score, id) total
      // order, permille = 1000*(rank-1) div (n-1). Window is SOURCE-keyed
      // (like window_rank's type key), never global
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("q_nano", "doc_id")
        val n = org.apache.spark.sql.expressions.Window.partitionBy("source")
        TextAnalysis.qualityMetrics(Tables.documents(s, dir))
          .withColumn("q_nano",
            floor(TextAnalysis.qualityScore() * lit(1e9) + lit(0.5)).cast("long"))
          .select(col("doc_id"), col("source"), col("q_nano"))
          .withColumn("_rk", row_number().over(w))
          .withColumn("_n", count(lit(1)).over(n))
          .withColumn("pr_permille",
            when(col("_n") === 1, lit(0L))
              .otherwise(expr("(1000 * (_rk - 1)) div (_n - 1)")))
          .select("doc_id", "source", "q_nano", "pr_permille")
          .orderBy("doc_id")
      },
      Some {
        val en = TextAnalysis.Langs.head._2.map("'" + _ + "'").mkString(",")
        s"""WITH m AS (SELECT doc_id, source,
             |  len(string_split(text,' ')) AS nt,
             |  len(list_distinct(string_split(text,' '))) AS nu,
             |  len(list_intersect(string_split(text,' '), [$en])) AS ns,
             |  length(text) AS nc FROM documents),
             |q AS (SELECT doc_id, source,
             |  CAST(floor(((CAST(nu AS DOUBLE) / nt) * 0.5
             |    + (CAST(ns AS DOUBLE) / nu) * 0.2
             |    + least((CAST(nc - (nt - 1) AS DOUBLE) / nt) / 10.0, 1.0) * 0.3)
             |    * 1000000000 + 0.5) AS BIGINT) AS q_nano FROM m),
             |r AS (SELECT doc_id, source, q_nano,
             |  CAST(row_number() OVER (PARTITION BY source ORDER BY q_nano, doc_id) AS BIGINT) AS rk,
             |  count(*) OVER (PARTITION BY source) AS n FROM q)
             |SELECT doc_id, source, q_nano,
             |  CAST(CASE WHEN n = 1 THEN 0
             |       ELSE (1000 * (rk - 1)) // (n - 1) END AS BIGINT) AS pr_permille
             |FROM r ORDER BY doc_id""".stripMargin
      }),

    QueryDef.headline("table_profile",
      // ANALYZE-style column profile of the landed table: row/null/distinct
      // counts and min/max per column in ONE aggregation pass (multi-
      // distinct via expand) — the stats collection a catalog runs after
      // every load
      (s, dir) => graft.functions.Stats.profile(
          Tables.documents(s, dir),
          Seq("doc_id", "text", "lang", "source", "n_chars"))
        .orderBy("column_name"),
      Some {
        val per = Seq("doc_id", "text", "lang", "source", "n_chars").map { c =>
          s"""SELECT '$c' AS column_name, count(*) AS n_rows,
             |  count(*) - count($c) AS n_nulls,
             |  count(DISTINCT $c) AS n_distinct,
             |  CAST(min($c) AS VARCHAR) AS min_val,
             |  CAST(max($c) AS VARCHAR) AS max_val FROM documents""".stripMargin
        }.mkString("\n UNION ALL\n")
        s"SELECT * FROM (\n$per\n) ORDER BY column_name"
      }),

    QueryDef.headline("heavy_hitters",
      // sketch-then-verify exact heavy hitters over the token stream: a
      // Count-Min sketch (never underestimates) keeps candidate keys, the
      // exact pass counts only those — a trillion-key column with a few
      // thousand heavy keys never shuffles its full key set; output is
      // EXACT, so the oracle is a plain HAVING
      (s, dir) => graft.functions.Stats.heavyHitters(
          Tables.documents(s, dir)
            .select(explode(split(col("text"), " ")).as("word")),
          "word", minCount = 80L)
        .orderBy("word"),
      Some("""WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
             |          FROM documents)
             |SELECT word, count(*) AS n FROM w
             |GROUP BY word HAVING count(*) >= 80 ORDER BY word""".stripMargin)),

    QueryDef.headline("bootstrap_stats",
      // Poisson bootstrap (Chamandy et al. 2012): every replicate is a
      // weighted aggregate over ONE scan — deterministic hash-drawn
      // Poisson(1) weights via long inverse-CDF thresholds; the oracle
      // re-derives every draw and both weighted sums
      (s, dir) => graft.functions.Sampling.bootstrapStats(
          Tables.documents(s, dir).select(col("doc_id"),
            size(split(col("text"), " ")).as("n_tokens")),
          "doc_id", "n_tokens", replicates = 16)
        .orderBy("replicate"),
      Some {
        val th = graft.functions.Sampling.PoissonThresholds
        val h = md5SliceSql("CAST(doc_id AS VARCHAR) || '#boot' || CAST(r AS VARCHAR)")
        val w = th.zipWithIndex.reverse.foldLeft("CAST(7 AS BIGINT)") {
          case (acc, (t, k)) => s"CASE WHEN h < $t THEN CAST($k AS BIGINT) ELSE $acc END"
        }
        s"""WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS nt
           |           FROM documents),
           |x AS (SELECT doc_id, nt, unnest(generate_series(1, 16)) AS r
           |      FROM d),
           |hw AS (SELECT r, nt, $h AS h FROM x),
           |wt AS (SELECT r, nt, $w AS w FROM hw)
           |SELECT CAST(r AS INT) AS replicate,
           |  CAST(sum(w) AS BIGINT) AS boot_docs,
           |  CAST(sum(w * nt) AS BIGINT) AS boot_tokens
           |FROM wt GROUP BY r ORDER BY replicate""".stripMargin
      }),


    QueryDef.headline("approx_distinct_hll",
      // HyperLogLog distinct-users-per-event-type: the 100 TB cardinality
      // dashboard — at most m=4096 (bucket, max_rho) longs per group cross
      // the shuffle (partial-max map-side) instead of every distinct key.
      // Deterministic md5-u64 hashing + exact-integer denominator + an
      // IEEE-pinned final division make the ESTIMATE itself hash-exact
      // against the oracle's from-scratch replay (see functions/Sketches).
      (s, dir) => Sketches.hllDistinct(Tables.events(s, dir),
          Seq("event_type"), col("user_id"))
        .orderBy("event_type"),
      Some(Sketches.hllOracleSql("events", "event_type",
        "CAST(user_id AS VARCHAR)"))),

    QueryDef.headline("hll_merge_parity",
      // The merge law under the gate: per-source sketches built from TWO
      // disjoint corpus halves (doc_id parity), merged by bucket-wise max,
      // must equal the single-pass sketch — which is exactly what the
      // oracle computes (it never sees the split). This is the property
      // that lets 100 TB deployments sketch per ingest-batch and fold
      // nightly without re-reading data.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val subs = Seq(0, 1).map(r =>
          Sketches.hllSketch(docs.filter(col("doc_id") % 2 === r),
            Seq("source"), col("text")))
        Sketches.hllEstimate(Sketches.hllMerge(subs, Seq("source")),
            Seq("source"))
          .orderBy("source")
      },
      Some(Sketches.hllOracleSql("documents", "source", "text"))),

    QueryDef.headline("events_ewma_decay",
      // bounded-lag exact-integer EWMA per user (alpha=1/2, 20 lags): the
      // streaming-feature shape (one window per key, no self-join), with
      // power-of-two weights so the smoothed value is order-independent
      // BIGINT math the oracle replays bit-for-bit
      (s, dir) => graft.functions.Stats.ewmaDecay(Tables.events(s, dir),
          "user_id", "ts", "event_id", "value")
        .select("event_id", "user_id", "ewma_scaled")
        .orderBy("event_id"),
      Some {
        val terms = (0 to 20).map { k =>
          s"COALESCE(lag(xq, $k) OVER w, 0) * ${1L << (20 - k)}"
        }.mkString("\n         + ")
        s"""WITH q AS (SELECT event_id, user_id, ts,
           |    CAST(round(value * 100) AS BIGINT) AS xq FROM events)
           |SELECT event_id, user_id,
           |  CAST($terms AS BIGINT) AS ewma_scaled
           |FROM q
           |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
           |ORDER BY event_id""".stripMargin
      }),

    QueryDef.headline("kmv_distinct_grams",
      // bottom-k (KMV) sketch of each source's distinct-3-gram vocabulary:
      // the k smallest 52-bit md5 slices per source (two-stage top-k — the
      // shuffle moves k×partitions rows per source, never the gram
      // census), with the (k-1)·2^52/h_(k) estimator and the exact
      // small-set rule. The oracle rebuilds the sketch hash-for-hash.
      (s, dir) => {
        val grams = Tables.documents(s, dir)
          .select(col("source"), explode(Dedup.shingles(col("text"), 3)).as("gram"))
        Sketches.kmvEstimate(
            Sketches.kmvSketch(grams, Seq("source"), col("gram")),
            Seq("source"))
          .orderBy("source")
      },
      Some {
        val rel = s"SELECT source AS g, gram AS v FROM (SELECT source, unnest($ShinglesSql) AS gram FROM documents)"
        s"""WITH ${Sketches.kmvSketchSql(rel)}
           |SELECT g AS source, CAST(count(*) AS BIGINT) AS n_sketch,
           |  max(h) AS sketch_max,
           |  CASE WHEN count(*) < ${Sketches.KmvK} THEN CAST(count(*) AS DOUBLE)
           |       ELSE CAST(${Sketches.KmvK - 1} AS DOUBLE)
           |            * CAST(${Sketches.KmvSpace} AS DOUBLE)
           |            / CAST(max(h) AS DOUBLE) END AS est_distinct
           |FROM sk GROUP BY g ORDER BY source""".stripMargin
      }),

    QueryDef.headline("kmv_source_setops",
      // the KMV payoff HLL cannot deliver: pairwise |A ∩ B| and Jaccard
      // between sources' gram vocabularies, computed ENTIRELY from the
      // k-row sketches (bottom-k of the sketch union + membership flags)
      // — cross-source vocabulary overlap at 100 TB from KB-sized state
      (s, dir) => {
        val grams = Tables.documents(s, dir)
          .select(col("source"), explode(Dedup.shingles(col("text"), 3)).as("gram"))
        Sketches.kmvPairEstimates(
            Sketches.kmvSketch(grams, Seq("source"), col("gram"))
              .select("source", "h"),
            "source")
          .orderBy("g_a", "g_b")
      },
      Some {
        val rel = s"SELECT source AS g, gram AS v FROM (SELECT source, unnest($ShinglesSql) AS gram FROM documents)"
        s"""WITH ${Sketches.kmvSketchSql(rel)},
           |gs AS (SELECT DISTINCT g FROM sk),
           |pairs AS (SELECT a.g AS g_a, b.g AS g_b FROM gs a JOIN gs b ON a.g < b.g),
           |u AS (SELECT DISTINCT p.g_a, p.g_b, s.h
           |      FROM pairs p JOIN sk s ON s.g = p.g_a OR s.g = p.g_b),
           |x AS (SELECT g_a, g_b, h,
           |        row_number() OVER (PARTITION BY g_a, g_b ORDER BY h) AS rn
           |      FROM u),
           |xk AS (SELECT g_a, g_b, h FROM x WHERE rn <= ${Sketches.KmvK}),
           |j AS (SELECT xk.g_a, xk.g_b, xk.h,
           |        CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL
           |             THEN 1 ELSE 0 END AS c
           |      FROM xk
           |      LEFT JOIN sk sa ON sa.g = xk.g_a AND sa.h = xk.h
           |      LEFT JOIN sk sb ON sb.g = xk.g_b AND sb.h = xk.h),
           |agg AS (SELECT g_a, g_b, count(*) AS n_x, max(h) AS x_max,
           |          CAST(sum(c) AS BIGINT) AS n_common
           |        FROM j GROUP BY g_a, g_b),
           |est AS (SELECT g_a, g_b, n_common,
           |          CAST(n_common AS DOUBLE) / CAST(n_x AS DOUBLE) AS jaccard_est,
           |          CASE WHEN n_x < ${Sketches.KmvK} THEN CAST(n_x AS DOUBLE)
           |               ELSE CAST(${Sketches.KmvK - 1} AS DOUBLE)
           |                    * CAST(${Sketches.KmvSpace} AS DOUBLE)
           |                    / CAST(x_max AS DOUBLE) END AS union_est
           |        FROM agg)
           |SELECT g_a, g_b, n_common, jaccard_est, union_est,
           |  jaccard_est * union_est AS inter_est
           |FROM est ORDER BY g_a, g_b""".stripMargin
      }),

    QueryDef.headline("events_funnel_steps",
      // ordered-sequence funnel (view -> click -> purchase, each step
      // strictly after the previous and within 30 days of it): k chained
      // (filter -> join -> min) stages shuffling one timestamp per
      // surviving user — the ClickHouse-windowFunnel operator as a
      // Catalyst join chain, no per-user event lists, no session state
      (s, dir) => graft.functions.Funnel.funnelSteps(Tables.events(s, dir),
          "user_id", "event_type", "ts", Seq("view", "click", "purchase"),
          window = Some("30 DAYS"))
        .orderBy("step"),
      Some("""WITH g1 AS (
             |  SELECT user_id, min(ts) AS t FROM events
             |  WHERE event_type = 'view' GROUP BY user_id),
             |g2 AS (
             |  SELECT e.user_id, min(e.ts) AS t FROM events e
             |  JOIN g1 ON e.user_id = g1.user_id
             |  WHERE e.event_type = 'click' AND e.ts > g1.t
             |    AND e.ts <= g1.t + INTERVAL 30 DAY
             |  GROUP BY e.user_id),
             |g3 AS (
             |  SELECT e.user_id, min(e.ts) AS t FROM events e
             |  JOIN g2 ON e.user_id = g2.user_id
             |  WHERE e.event_type = 'purchase' AND e.ts > g2.t
             |    AND e.ts <= g2.t + INTERVAL 30 DAY
             |  GROUP BY e.user_id),
             |c AS (
             |  SELECT 1 AS step, 'view' AS event_type,
             |         CAST(count(*) AS BIGINT) AS n_users FROM g1
             |  UNION ALL SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM g2
             |  UNION ALL SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM g3)
             |SELECT step, event_type, n_users,
             |  CASE WHEN step = 1 THEN CAST(1 AS DOUBLE)
             |       ELSE CAST(n_users AS DOUBLE)
             |            / CAST(lag(n_users, 1) OVER (ORDER BY step) AS DOUBLE)
             |  END AS conv_from_prev
             |FROM c ORDER BY step""".stripMargin)),

    QueryDef.headline("hll_rollup_range",
      // incremental view maintenance for DISTINCT counts: day-partitioned
      // HLL sub-sketches land once (offline, like the additive rollup);
      // a two-week distinct-users-per-type estimate then merges the
      // touched days' sketches (partition-pruned, <= days x 4096 longs
      // per group) — the oracle sketches the raw range directly, so the
      // gate hash-proves the merge law over the layout
      (s, dir) => graft.sources.Layout.readHllRangeEstimate(s,
          Artifacts.hllRollupPath(s, dir), "2024-01-08", "2024-01-21")
        .orderBy("event_type"),
      Some(Sketches.hllOracleSql(
        """(SELECT event_type, user_id FROM events
          |   WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE)
          |         BETWEEN DATE '2024-01-08' AND DATE '2024-01-21')""".stripMargin,
        "event_type", "CAST(user_id AS VARCHAR)"))),

    QueryDef.headline("skew_salting_advisor",
      // pre-flight skew check for a 100 TB join/groupBy: heavy keys via
      // CMS sketch-then-verify (raw rows never shuffle on the key), exact
      // counts, permille share, and the ceil(n/target) salt factor an
      // explicit salted repartition needs — all integer arithmetic
      (s, dir) => graft.functions.Stats.skewAdvisor(Tables.events(s, dir),
          "event_type", minCount = 1000L, targetPerTask = 500L)
        .orderBy("event_type"),
      Some("""WITH t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM events),
             |h AS (SELECT CAST(event_type AS VARCHAR) AS event_type,
             |        CAST(count(*) AS BIGINT) AS n
             |      FROM events GROUP BY 1 HAVING count(*) >= 1000)
             |SELECT h.event_type, h.n,
             |  CAST(h.n * 1000 // t.total AS BIGINT) AS share_permille,
             |  CAST((h.n + 499) // 500 AS BIGINT) AS salt_factor
             |FROM h CROSS JOIN t ORDER BY event_type""".stripMargin)),

    QueryDef.headline("join_size_sketch",
      // AQE-style join-cardinality estimate WITHOUT running the join:
      // m-bucket key histograms per side (mergeable integer counts), then
      // sum of per-bucket products — how a 100 TB pipeline decides
      // broadcast-vs-shuffle or pre-checks a key explosion before paying
      // for it. Accuracy vs the true join size is pinned by ScalaTest.
      (s, dir) => graft.functions.Sketches.joinSizeSketch(
        Tables.orders(s, dir), col("o_orderkey"),
        Tables.lineitem(s, dir), col("l_orderkey")),
      Some(graft.functions.Sketches.joinSizeOracleSql(
        "orders", "CAST(o_orderkey AS VARCHAR)",
        "lineitem", "CAST(l_orderkey AS VARCHAR)"))),

    QueryDef.headline("quantile_sketch_prices",
      // tail latencies/prices at 100 TB without a sort: the DDSketch-style
      // log-histogram — ONE partial-aggregable pass, <= ~1 KB of bucket
      // counts per group across the shuffle, every quantile read off the
      // same sketch with < 1/16 relative error. Exact integer bucketing
      // (bin-length log2, shifts, integer division) makes the estimate
      // bit-reproducible: the oracle replays bucket assignment, the
      // cumulative walk, and the ceil-rank convention
      (s, dir) => graft.functions.Sketches.logHistDistribution(
          Tables.lineitem(s, dir).select(col("l_returnflag"),
            graft.functions.Money.cents(col("l_extendedprice")).as("cents")),
          Seq("l_returnflag"), col("cents"), Seq(500, 900, 990, 999))
        .orderBy("l_returnflag", "q_permille"),
      Some(graft.functions.Sketches.logHistOracleSql(
        """SELECT l_returnflag AS g,
          |  CAST(round(l_extendedprice * 100) AS BIGINT) AS v
          |FROM lineitem""".stripMargin,
        Seq(500, 900, 990, 999), "l_returnflag"))),

    QueryDef.headline("quantile_sketch_merge_parity",
      // the incremental seat of the quantile sketch: per-DAY sub-sketches
      // (the shape a 100 TB pipeline lands once per ingest slice) merged
      // by bucket-wise SUM, then quantiled — the oracle sketches the raw
      // stream directly, so the gate hash-proves the additive merge law
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("event_type"),
          to_date(col("ts")).as("day"),
          graft.functions.Money.cents(col("value")).as("cents"))
        val daily = graft.functions.Sketches.logHistSketch(
          ev, Seq("event_type", "day"), col("cents"))
        graft.functions.Sketches.logHistQuantiles(
            graft.functions.Sketches.logHistMerge(Seq(daily), Seq("event_type")),
            Seq("event_type"), Seq(250, 500, 750, 950))
          .orderBy("event_type", "q_permille")
      },
      Some(graft.functions.Sketches.logHistOracleSql(
        """SELECT event_type AS g,
          |  CAST(round(value * 100) AS BIGINT) AS v
          |FROM events""".stripMargin,
        Seq(250, 500, 750, 950), "event_type"))),

    QueryDef.headline("quantile_rollup_range",
      // incremental view maintenance for DISTRIBUTIONS: day-partitioned
      // log-histogram sub-sketches land once (offline layout, like the
      // HLL rollup); a two-week per-type p50/p95/p99 then merges the
      // touched days' bucket counts (partition-pruned, <= days x ~1K
      // longs per group) — the oracle sketches the raw range directly,
      // so the gate hash-proves the additive merge law over the layout
      (s, dir) => graft.sources.Layout.readLogHistRangeQuantiles(s,
          Artifacts.logHistRollupPath(s, dir), "2024-01-08", "2024-01-21",
          Seq(500, 950, 990))
        .orderBy("event_type", "q_permille"),
      Some(graft.functions.Sketches.logHistOracleSql(
        """SELECT event_type AS g,
          |  CAST(round(value * 100) AS BIGINT) AS v
          |FROM events
          |WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE)
          |      BETWEEN DATE '2024-01-08' AND DATE '2024-01-21'""".stripMargin,
        Seq(500, 950, 990), "event_type"))),

    QueryDef.headline("quantile_rank_sketch",
      // per-ROW within-group score normalization, the 100 TB path: where
      // score_quantile_normalize windows over the (source, score) total
      // order (a per-group global sort), this runs ONE sketch pass, then
      // broadcasts the model-sized cumulative bucket table and assigns
      // each row its strictly-below permille in a narrow map — the corpus
      // never sorts and never shuffles on the value. The oracle replays
      // buckets, the cumulative walk, and every row's join
      (s, dir) => graft.functions.Sketches.logHistRankPermille(
          Tables.events(s, dir).select(col("event_id"), col("event_type"),
            graft.functions.Money.cents(col("value")).as("cents")),
          Seq("event_type"), col("cents"))
        .select("event_id", "event_type", "cents", "rank_permille")
        .orderBy("event_id"),
      Some(s"""WITH v0 AS (SELECT event_id, event_type,
             |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
             |b AS (SELECT event_id, event_type, cents,
             |    CASE WHEN cents >= 1 THEN length(bin(cents)) - 1
             |         ELSE -1 END AS e,
             |    CASE WHEN cents >= 1 THEN
             |      ((cents - (CAST(1 AS BIGINT) << (length(bin(cents)) - 1)))
             |        * ${Sketches.QsSub})
             |        // (CAST(1 AS BIGINT) << (length(bin(cents)) - 1))
             |    ELSE 0 END AS sub
             |  FROM v0),
             |sk AS (SELECT event_type, e, sub, count(*) AS cnt
             |       FROM b GROUP BY 1, 2, 3),
             |c AS (SELECT event_type, e, sub,
             |    sum(cnt) OVER (PARTITION BY event_type ORDER BY e, sub)
             |      - cnt AS below,
             |    sum(cnt) OVER (PARTITION BY event_type) AS n
             |  FROM sk)
             |SELECT b.event_id, b.event_type, b.cents,
             |  CAST((c.below * 1000) // c.n AS BIGINT) AS rank_permille
             |FROM b JOIN c ON b.event_type = c.event_type
             |  AND b.e = c.e AND b.sub = c.sub
             |ORDER BY b.event_id""".stripMargin)),

    QueryDef.headline("range_partition_advisor",
      // balanced range-partitioning boundaries WITHOUT sampling: B-1
      // split points read off the log-histogram sketch (what Spark's
      // RangePartitioner samples for, but deterministic and rollup-
      // mergeable); the boundary list is model-sized so the assignment
      // is a narrow CASE map, and the output census is the balance
      // evidence. Oracle re-derives the boundaries and every assignment
      (s, dir) => graft.functions.Sketches.rangePartitionAdvisor(
          Tables.events(s, dir),
          graft.functions.Money.cents(col("value")), numRanges = 8)
        .orderBy("range_id"),
      Some {
        val qlist = (1 until 8).map(i => i * 1000 / 8).mkString(", ")
        s"""WITH v0 AS (SELECT event_id,
           |    CAST(round(value * 100) AS BIGINT) AS v FROM events),
           |b AS (SELECT v,
           |    CASE WHEN v >= 1 THEN length(bin(v)) - 1 ELSE -1 END AS e,
           |    CASE WHEN v >= 1 THEN
           |      ((v - (CAST(1 AS BIGINT) << (length(bin(v)) - 1)))
           |        * ${Sketches.QsSub})
           |        // (CAST(1 AS BIGINT) << (length(bin(v)) - 1))
           |    ELSE 0 END AS sub
           |  FROM v0),
           |sk AS (SELECT e, sub, count(*) AS cnt FROM b GROUP BY 1, 2),
           |c AS (SELECT e, sub, cnt,
           |    sum(cnt) OVER (ORDER BY e, sub) AS cum,
           |    CASE WHEN e >= 0 THEN
           |      ((${Sketches.QsSub} + sub) * (CAST(1 AS BIGINT) << e))
           |        // ${Sketches.QsSub}
           |    ELSE 0 END AS lb
           |  FROM sk),
           |n AS (SELECT sum(cnt) AS n_rows FROM sk),
           |t AS (SELECT q.q_permille,
           |    (n.n_rows * q.q_permille + 999) // 1000 AS r
           |  FROM n CROSS JOIN (SELECT unnest([$qlist]) AS q_permille) q),
           |bounds AS (SELECT t.q_permille, min(c.lb) AS bnd
           |  FROM t JOIN c ON c.cum >= t.r GROUP BY 1),
           |bn AS (SELECT bnd,
           |    row_number() OVER (ORDER BY q_permille) AS i FROM bounds),
           |asg AS (SELECT v0.event_id,
           |    COALESCE(sum(CASE WHEN bn.bnd <= v0.v THEN 1 ELSE 0 END), 0)
           |      AS range_id
           |  FROM v0 CROSS JOIN bn GROUP BY 1),
           |cen AS (SELECT range_id, count(*) AS n_rows FROM asg GROUP BY 1),
           |lo AS (SELECT 0 AS range_id, CAST(0 AS BIGINT) AS lo_cents
           |       UNION ALL SELECT CAST(i AS INT), bnd FROM bn)
           |SELECT CAST(cen.range_id AS INT) AS range_id, lo.lo_cents,
           |  CAST(cen.n_rows AS BIGINT) AS n_rows
           |FROM cen JOIN lo USING (range_id) ORDER BY range_id""".stripMargin
      }),

    QueryDef.headline("events_rolling_distinct",
      // exact 7-day rolling active users per day: the corpus collapses to
      // the deduped (day, user) frame in ONE shuffle; only that frame is
      // replicated (<= 7x, against the broadcast day list) into the
      // per-window re-distinct. The sketch twin below removes even that
      // replication at 100 TB; this exact form is the oracle-grade
      // reference for it
      (s, dir) => graft.functions.Stats.rollingDistinct(
          Tables.events(s, dir), "ts", "user_id", windowDays = 7)
        .orderBy("day"),
      Some("""WITH du AS (
             |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
             |days AS (SELECT DISTINCT day FROM du)
             |SELECT CAST(days.day AS VARCHAR) AS day,
             |  CAST(count(DISTINCT du.user_id) AS BIGINT) AS n_active
             |FROM days JOIN du ON du.day BETWEEN days.day - 6 AND days.day
             |GROUP BY days.day ORDER BY day""".stripMargin)),

    QueryDef.headline("events_rolling_distinct_hll",
      // the 100 TB path for the same dashboard: rolling distinct is not
      // additive, but HLL sub-sketches merge by idempotent bucket-max —
      // one per-day sketch pass over the corpus, then every day's window
      // is a max over <= 7 KB-sized day-sketches (metadata joined against
      // the broadcast day list; the raw events never move twice). The
      // oracle rebuilds sketches and the range merge hash-for-hash
      (s, dir) => graft.functions.Sketches.hllRollingDistinct(
          Tables.events(s, dir), "ts", col("user_id"), windowDays = 7)
        .orderBy("day"),
      Some(Sketches.hllRollingOracleSql("events", "ts",
        "CAST(user_id AS VARCHAR)", windowDays = 7))),

    QueryDef.headline("events_cusum_changepoint",
      // CUSUM level-shift detection per event type (Page 1954): the
      // sustained-drift monitor a per-day z-test misses. One partial-
      // aggregable shuffle to daily counts, then a day-count-sized
      // sequential fold per group (aggregate HOF over the sorted series)
      // in cross-multiplied integer units, with the threshold squared
      // into exact DECIMAL arithmetic. The oracle replays the recurrence
      // via a recursive CTE and the same integer decision rule
      (s, dir) => graft.functions.Stats.cusumChangepoint(
          Tables.events(s, dir), "ts", "event_type", h = 4)
        .orderBy("event_type"),
      Some("""WITH RECURSIVE daily AS (
             |  SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             |    CAST(count(*) AS BIGINT) AS x
             |  FROM events GROUP BY 1, 2),
             |m AS (
             |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             |    CAST(sum(x) AS BIGINT) AS s,
             |    CAST(sum(x * x) AS BIGINT) AS q
             |  FROM daily GROUP BY 1),
             |idx AS (
             |  SELECT d.event_type, d.day, d.x, m.n_days, m.s,
             |    row_number() OVER (PARTITION BY d.event_type
             |                       ORDER BY d.day) AS i
             |  FROM daily d JOIN m USING (event_type)),
             |walk AS (
             |  SELECT event_type, i, day,
             |    GREATEST(CAST(0 AS BIGINT), x * n_days - s) AS srun
             |  FROM idx WHERE i = 1
             |  UNION ALL
             |  SELECT idx.event_type, idx.i, idx.day,
             |    GREATEST(CAST(0 AS BIGINT),
             |             walk.srun + (idx.x * idx.n_days - idx.s))
             |  FROM walk JOIN idx ON idx.event_type = walk.event_type
             |    AND idx.i = walk.i + 1),
             |peaks AS (
             |  SELECT event_type, max(srun) AS cusum_peak
             |  FROM walk GROUP BY 1),
             |pick AS (
             |  SELECT w.event_type, p.cusum_peak, min(w.day) AS peak_day
             |  FROM walk w JOIN peaks p ON p.event_type = w.event_type
             |    AND w.srun = p.cusum_peak
             |  GROUP BY 1, 2)
             |SELECT m.event_type, m.n_days,
             |  CAST(p.cusum_peak AS BIGINT) AS cusum_peak, p.peak_day,
             |  CAST(CASE WHEN CAST(p.cusum_peak AS HUGEINT) * p.cusum_peak
             |    > 16 * (CAST(m.n_days AS HUGEINT) * m.q
             |            - CAST(m.s AS HUGEINT) * m.s)
             |  THEN 1 ELSE 0 END AS INT) AS is_change
             |FROM m JOIN pick p USING (event_type)
             |ORDER BY m.event_type""".stripMargin)),

    QueryDef.headline("session_paths",
      // which opening sequences actually happen: sessionize by 30-min
      // inactivity gap, take each session's first 3 event types, census
      // sessions per path — the discovery companion to the funnel's
      // known-sequence count. Two per-user windows, no self-join; the
      // path space is |event types|^3 metadata
      (s, dir) => graft.functions.Funnel.sessionPaths(
          Tables.events(s, dir), "user_id", "ts", "event_id", "event_type",
          gapMinutes = 30, prefixLen = 3)
        .orderBy("path"),
      Some("""WITH marked AS (
             |  SELECT user_id, event_id, event_type,
             |    CAST(ts AS TIMESTAMP) AS ts,
             |    CASE WHEN CAST(ts AS TIMESTAMP)
             |        - lag(CAST(ts AS TIMESTAMP)) OVER
             |          (PARTITION BY user_id ORDER BY ts, event_id)
             |        >= INTERVAL 30 MINUTE THEN 1
             |      WHEN lag(ts) OVER
             |          (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             |        THEN 1
             |      ELSE 0 END AS new_session
             |  FROM events),
             |s AS (
             |  SELECT user_id, event_id, event_type, ts,
             |    sum(new_session) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM marked),
             |r AS (
             |  SELECT user_id, sid, event_type,
             |    row_number() OVER (PARTITION BY user_id, sid
             |      ORDER BY ts, event_id) AS rn
             |  FROM s),
             |p AS (
             |  SELECT user_id, sid,
             |    string_agg(event_type, '>' ORDER BY rn) AS path
             |  FROM r WHERE rn <= 3 GROUP BY user_id, sid)
             |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
             |FROM p GROUP BY path ORDER BY path""".stripMargin)),

    QueryDef.headline("mad_outliers",
      // robust outlier census per event type: |x - median| > 3*MAD in
      // exact integer cents — the heavy-tail-safe cousin of the z-test
      // (order statistics don't get dragged by the outliers they hunt).
      // Median and MAD from the two-pass bounded-histogram walk (driver
      // state is (group x bucket) counts); the oracle replays both rank
      // walks and every flag
      (s, dir) => graft.functions.Stats.madOutliers(
          Tables.events(s, dir).select(col("event_type"),
            graft.functions.Money.cents(col("value")).as("cents")),
          "event_type", "cents", k = 3, bucketWidth = 100L)
        .orderBy("event_type"),
      Some("""WITH ev AS (SELECT event_type,
             |              CAST(round(value * 100) AS BIGINT) AS v FROM events),
             |n AS (SELECT event_type, count(*) AS n FROM ev GROUP BY 1),
             |cv AS (SELECT event_type, v, count(*) AS c FROM ev GROUP BY 1, 2),
             |r AS (SELECT event_type, v,
             |        sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cum
             |      FROM cv),
             |med AS (SELECT n.event_type, min(r.v) AS med
             |        FROM n JOIN r ON r.event_type = n.event_type
             |          AND r.cum >= ceil(n.n * 0.5)
             |        GROUP BY 1),
             |dev AS (SELECT ev.event_type, ev.v, abs(ev.v - med.med) AS d,
             |          med.med
             |        FROM ev JOIN med USING (event_type)),
             |dc AS (SELECT event_type, d, count(*) AS c FROM dev GROUP BY 1, 2),
             |dr AS (SELECT event_type, d,
             |         sum(c) OVER (PARTITION BY event_type ORDER BY d) AS cum
             |       FROM dc),
             |mad AS (SELECT n.event_type, min(dr.d) AS mad
             |        FROM n JOIN dr ON dr.event_type = n.event_type
             |          AND dr.cum >= ceil(n.n * 0.5)
             |        GROUP BY 1)
             |SELECT dev.event_type, min(dev.med) AS median,
             |  min(mad.mad) AS mad, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(CASE WHEN dev.d > 3 * mad.mad THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_outliers
             |FROM dev JOIN mad USING (event_type)
             |GROUP BY dev.event_type ORDER BY dev.event_type""".stripMargin)),

    QueryDef.headline("corr_value_hour",
      // profiling: does the value metric move with hour of day, per event
      // type? One partial-aggregable cross-moment pass; r^2 in ppm via
      // the cross-multiplied integer identity (no float sum, no sqrt),
      // sign separate, zero-variance groups flagged undefined. The
      // oracle recomputes every moment and the integer division
      (s, dir) => graft.functions.Stats.groupedCorr(
          Tables.events(s, dir).select(col("event_type"), col("value"),
            col("ts")),
          "event_type", graft.functions.Money.cents(col("value")),
          hour(col("ts")))
        .orderBy("event_type"),
      Some("""WITH ev AS (SELECT event_type,
             |    CAST(round(value * 100) AS BIGINT) AS x,
             |    CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS y
             |  FROM events),
             |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
             |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             |    CAST(sum(x * y) AS HUGEINT) AS sxy,
             |    CAST(sum(x * x) AS HUGEINT) AS sxx,
             |    CAST(sum(y * y) AS HUGEINT) AS syy
             |  FROM ev GROUP BY 1),
             |d AS (SELECT event_type, n_rows,
             |    n_rows * sxy - sx * sy AS num,
             |    n_rows * sxx - sx * sx AS dx,
             |    n_rows * syy - sy * sy AS dy
             |  FROM m)
             |SELECT event_type, n_rows,
             |  CAST(sign(num) AS INT) AS r_sign,
             |  CAST(CASE WHEN dx = 0 OR dy = 0 THEN 0
             |       ELSE (num * num * 1000000) // (dx * dy) END AS BIGINT)
             |    AS r2_ppm,
             |  CAST(CASE WHEN dx <> 0 AND dy <> 0 THEN 1 ELSE 0 END AS INT)
             |    AS defined
             |FROM d ORDER BY event_type""".stripMargin)),

    QueryDef.headline("hll_rollup_rolling",
      // the rolling-distinct dashboard served ENTIRELY from the landed
      // rollup layout: per (event_type, day), the 7-day distinct-user
      // estimate from a bucket-max merge over the day-partitioned
      // sub-sketches — raw events were sketched once at land time and
      // are never re-read. The oracle sketches every raw window directly,
      // so the gate hash-proves the layout + merge law end-to-end
      (s, dir) => graft.sources.Layout.readHllRollingCurve(
          s, Artifacts.hllRollupPath(s, dir), windowDays = 7)
        .orderBy("event_type", "day"),
      Some(Sketches.hllRollingOracleSql("events", "ts",
        "CAST(user_id AS VARCHAR)", windowDays = 7,
        groupCol = Some("event_type")))),

    QueryDef.headline("hll_rolling_sparse",
      // sparse-coverage pin for the rolling merge's WINDOW-HORIZON
      // (global day list) semantics: 'click' events are removed on even
      // days of month, so a (click, even-day) curve row exists ONLY
      // because the global day list supplies the day while the 7-day
      // window still holds click sketches — exactly the case a per-group
      // day list would silently drop (the round-8 oracle bug class).
      // Both sides apply the identical sparsifying filter
      (s, dir) => graft.functions.Sketches.hllRollingDistinct(
          Tables.events(s, dir).filter(
            !(col("event_type") === "click" &&
              dayofmonth(col("ts")) % 2 === 0)),
          "ts", col("user_id"), windowDays = 7,
          groupCols = Seq("event_type"))
        .orderBy("event_type", "day"),
      Some(Sketches.hllRollingOracleSql(
        "(SELECT * FROM events WHERE NOT (event_type = 'click' " +
          "AND day(CAST(ts AS DATE)) % 2 = 0))",
        "ts", "CAST(user_id AS VARCHAR)", windowDays = 7,
        groupCol = Some("event_type")))),

    QueryDef.headline("events_daily_trend",
      // secular drift per type: exact LS slope of daily counts over the
      // epoch-day index in micro-units (events/day/day x 1e6) — the
      // capacity-planning number completing the drift family (z-flags /
      // CUSUM / seasonal / burstiness). Daily counts + group moments,
      // both partial-aggregable
      (s, dir) => graft.functions.Stats.dailyTrend(
          Tables.events(s, dir), "ts", "event_type")
        .orderBy("event_type"),
      Some("""WITH daily AS (
             |  SELECT event_type,
             |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
             |      AS d,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2),
             |m AS (
             |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             |    CAST(sum(n) AS BIGINT) AS n_events,
             |    CAST(sum(d) AS HUGEINT) AS sx,
             |    CAST(sum(n) AS HUGEINT) AS sy,
             |    CAST(sum(d * n) AS HUGEINT) AS sxy,
             |    CAST(sum(d * d) AS HUGEINT) AS sxx
             |  FROM daily GROUP BY 1)
             |SELECT event_type, n_days, n_events,
             |  CAST(CASE WHEN n_days * sxx - sx * sx = 0 THEN 0
             |    ELSE ((n_days * sxy - sx * sy) * 1000000)
             |         // (n_days * sxx - sx * sx) END AS BIGINT)
             |    AS slope_micro
             |FROM m ORDER BY event_type""".stripMargin)),

    QueryDef.headline("event_next_markov_accuracy",
      // temporal-split eval of the event_transitions model: train the
      // per-from argmax on the first 21 epoch-days, score top-1 accuracy
      // on the rest — per-user lag windows, the |types|² model broadcast
      // onto the test transitions, integer ppm accuracy
      (s, dir) => graft.functions.Funnel.markovAccuracy(
          Tables.events(s, dir), "user_id", "event_id", "event_type",
          "ts", trainDays = 21)
        .orderBy("from_type"),
      Some("""WITH d AS (
             |  SELECT user_id, event_id, event_type,
             |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
             |      AS day
             |  FROM events),
             |mn AS (SELECT min(day) AS mn FROM d),
             |t AS (SELECT event_type AS to_type, day,
             |    lag(event_type) OVER (PARTITION BY user_id
             |                          ORDER BY event_id) AS from_type
             |  FROM d),
             |tr AS (SELECT from_type, to_type, day FROM t
             |       WHERE from_type IS NOT NULL),
             |train AS (SELECT from_type, to_type,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM tr, mn WHERE day < mn + 21 GROUP BY 1, 2),
             |model AS (SELECT from_type, to_type AS predicted FROM (
             |    SELECT from_type, to_type, row_number() OVER
             |      (PARTITION BY from_type ORDER BY n DESC, to_type)
             |      AS rn
             |    FROM train) WHERE rn = 1),
             |test AS (SELECT tr.from_type, tr.to_type FROM tr, mn
             |         WHERE tr.day >= mn.mn + 21)
             |SELECT te.from_type, CAST(count(*) AS BIGINT) AS n_test,
             |  CAST(sum(CASE WHEN te.to_type = m.predicted
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
             |  CAST(CAST(sum(CASE WHEN te.to_type = m.predicted
             |    THEN 1 ELSE 0 END) AS HUGEINT) * 1000000
             |    // count(*) AS BIGINT) AS acc_ppm
             |FROM test te LEFT JOIN model m USING (from_type)
             |GROUP BY te.from_type ORDER BY from_type""".stripMargin)),

    QueryDef.headline("events_freshness",
      // ingest freshness runbook page: per type, last event millis and
      // whole-second staleness behind the table's newest event — two max
      // passes, the 1-row global max broadcast back (bounded pattern)
      (s, dir) => graft.functions.Stats.freshness(
          Tables.events(s, dir), "ts", "event_type")
        .orderBy("event_type"),
      Some("""WITH g AS (
             |  SELECT event_type,
             |    CAST(max(epoch_us(ts)) AS BIGINT) AS last_us
             |  FROM events GROUP BY 1),
             |t AS (SELECT CAST(max(epoch_us(ts)) AS BIGINT) AS global_us
             |      FROM events)
             |SELECT event_type,
             |  CAST(last_us // 1000 AS BIGINT) AS last_event_millis,
             |  CAST((global_us - last_us) // 1000000 AS BIGINT)
             |    AS staleness_seconds
             |FROM g, t ORDER BY event_type""".stripMargin)),

    QueryDef.headline("attribution_last_touch",
      // last-touch conversion attribution: per purchase, the user's most
      // recent non-purchase event within 7 days gets the credit (else
      // "(direct)"). One per-user window — the event log never self-joins
      (s, dir) => graft.functions.Funnel.attributionLastTouch(
          Tables.events(s, dir), "user_id", "ts", "event_id",
          "event_type", "purchase")
        .orderBy("attributed"),
      Some("""WITH t AS (
             |  SELECT event_type, ts,
             |    last_value(CASE WHEN event_type <> 'purchase'
             |        THEN event_type END IGNORE NULLS)
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id
             |            ROWS BETWEEN UNBOUNDED PRECEDING
             |            AND 1 PRECEDING) AS touch_t,
             |    last_value(CASE WHEN event_type <> 'purchase'
             |        THEN ts END IGNORE NULLS)
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id
             |            ROWS BETWEEN UNBOUNDED PRECEDING
             |            AND 1 PRECEDING) AS touch_ts
             |  FROM events)
             |SELECT CASE WHEN touch_ts IS NOT NULL
             |    AND epoch_us(ts) - epoch_us(touch_ts) <= 604800000000
             |    THEN touch_t ELSE '(direct)' END AS attributed,
             |  CAST(count(*) AS BIGINT) AS n_conversions
             |FROM t WHERE event_type = 'purchase'
             |GROUP BY 1 ORDER BY attributed""".stripMargin)),

    QueryDef.headline("events_dow_seasonal",
      // weekly-seasonality residuals: each (type, day) count vs the
      // type's mean for that WEEKDAY SLOT (epoch-day mod 7 — calendar-
      // free integer), exact cross-multiplied ppm, anomalies beyond ±50%.
      // Catches the drift the global z-test hides under weekend cycles
      (s, dir) => graft.functions.Stats.dowSeasonal(
          Tables.events(s, dir), "ts", "event_type")
        .orderBy("event_type", "day"),
      Some("""WITH daily AS (
             |  SELECT event_type, CAST(ts AS DATE) AS d,
             |    CAST(count(*) AS BIGINT) AS n_events
             |  FROM events GROUP BY 1, 2),
             |dd AS (
             |  SELECT event_type, d, n_events,
             |    CAST(CAST(d - DATE '1970-01-01' AS BIGINT) % 7 AS INT)
             |      AS dow_slot
             |  FROM daily),
             |slots AS (
             |  SELECT event_type, dow_slot,
             |    CAST(count(*) AS BIGINT) AS n_slot_days,
             |    CAST(sum(n_events) AS BIGINT) AS slot_sum
             |  FROM dd GROUP BY 1, 2)
             |SELECT dd.event_type, CAST(dd.d AS VARCHAR) AS day,
             |  dd.dow_slot, dd.n_events, s.n_slot_days, s.slot_sum,
             |  CAST(CAST(dd.n_events AS HUGEINT) * s.n_slot_days * 1000000
             |    // s.slot_sum - 1000000 AS BIGINT) AS resid_ppm,
             |  CAST(CASE WHEN abs(CAST(dd.n_events AS HUGEINT)
             |      * s.n_slot_days * 1000000 // s.slot_sum - 1000000)
             |      > 500000 THEN 1 ELSE 0 END AS INT) AS seasonal_anomaly
             |FROM dd JOIN slots s ON s.event_type = dd.event_type
             |  AND s.dow_slot = dd.dow_slot
             |ORDER BY dd.event_type, day""".stripMargin)),

    QueryDef.headline("funnel_conversion_latency",
      // p50/p90/p99 time-to-convert for view -> click -> purchase
      // completers: the funnel join chain (one timestamp per survivor)
      // feeds ONE log-histogram sketch pass — no sort, KB of bucket
      // counts; the oracle replays funnel stages AND the bucket walk
      (s, dir) => graft.functions.Funnel.conversionLatency(
          Tables.events(s, dir), "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"), window = Some("30 DAYS"))
        .orderBy("q_permille"),
      Some {
        val rel = """SELECT 'all' AS g,
          |    CAST((epoch_us(g3.t) - epoch_us(g3.t0)) // 1000000 AS BIGINT) AS v
          |  FROM (
          |    WITH g1 AS (
          |      SELECT user_id, min(ts) AS t FROM events
          |      WHERE event_type = 'view' GROUP BY user_id),
          |    g2 AS (
          |      SELECT e.user_id, g1.t AS t0, min(e.ts) AS t FROM events e
          |      JOIN g1 ON e.user_id = g1.user_id
          |      WHERE e.event_type = 'click' AND e.ts > g1.t
          |        AND e.ts <= g1.t + INTERVAL 30 DAY
          |      GROUP BY e.user_id, g1.t)
          |    SELECT e.user_id, g2.t0, min(e.ts) AS t FROM events e
          |    JOIN g2 ON e.user_id = g2.user_id
          |    WHERE e.event_type = 'purchase' AND e.ts > g2.t
          |      AND e.ts <= g2.t + INTERVAL 30 DAY
          |    GROUP BY e.user_id, g2.t0) g3""".stripMargin
        Sketches.logHistOracleSql(rel, Seq(500, 900, 990), "g")
      }),

    QueryDef.headline("basket_pair_affinity",
      // market-basket 2-itemset mining over orders: part pairs bought
      // together at least twice, with integer-ppm lift. Pairs from a
      // basket-keyed self-join (work ~ sum of basket_size^2, never
      // |items|^2); item counts broadcast back as metadata
      (s, dir) => graft.functions.Stats.basketPairAffinity(
          Tables.lineitem(s, dir), "l_orderkey", "l_partkey",
          minSupport = 2L)
        .orderBy("item_a", "item_b"),
      Some("""WITH it AS (
             |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
             |ic AS (SELECT i, count(*) AS c_item FROM it GROUP BY 1),
             |nb AS (SELECT count(DISTINCT b) AS n_baskets FROM it),
             |p AS (
             |  SELECT a.i AS item_a, b.i AS item_b, count(*) AS c_pair
             |  FROM it a JOIN it b ON a.b = b.b AND a.i < b.i
             |  GROUP BY 1, 2 HAVING count(*) >= 2)
             |SELECT p.item_a, p.item_b, CAST(p.c_pair AS BIGINT) AS c_pair,
             |  CAST((CAST(p.c_pair AS HUGEINT) * nb.n_baskets * 1000000)
             |       // (CAST(ca.c_item AS HUGEINT) * cb.c_item) AS BIGINT)
             |    AS lift_ppm
             |FROM p
             |JOIN ic ca ON ca.i = p.item_a
             |JOIN ic cb ON cb.i = p.item_b
             |CROSS JOIN nb
             |ORDER BY item_a, item_b""".stripMargin)),

    QueryDef.headline("basket_rules",
      // directed association rules over the qualifying pairs:
      // confidence(a -> b) = c(ab)/c(a) in integer ppm, both directions,
      // pruned at 10% — the actionable form a recommender consumes
      (s, dir) => graft.functions.Stats.basketRules(
          Tables.lineitem(s, dir), "l_orderkey", "l_partkey",
          minSupport = 2L, minConfPpm = 100000L)
        .orderBy("antecedent", "consequent"),
      Some("""WITH it AS (
             |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
             |ic AS (SELECT i, count(*) AS c_item FROM it GROUP BY 1),
             |p AS (
             |  SELECT a.i AS ia, b.i AS ib, count(*) AS c_pair
             |  FROM it a JOIN it b ON a.b = b.b AND a.i < b.i
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |d AS (
             |  SELECT ia AS antecedent, ib AS consequent, c_pair FROM p
             |  UNION ALL
             |  SELECT ib, ia, c_pair FROM p)
             |SELECT d.antecedent, d.consequent,
             |  CAST(d.c_pair AS BIGINT) AS c_pair,
             |  CAST((CAST(d.c_pair AS HUGEINT) * 1000000) // ic.c_item
             |    AS BIGINT) AS conf_ppm
             |FROM d JOIN ic ON ic.i = d.antecedent
             |WHERE (CAST(d.c_pair AS HUGEINT) * 1000000) // ic.c_item
             |  >= 100000
             |ORDER BY antecedent, consequent""".stripMargin)),

    QueryDef.headline("events_burstiness",
      // per-type arrival-regime summary: variance-to-mean ratio of daily
      // volume in integer ppm — Poisson ~ 1e6, bursty ingest >> 1e6,
      // throttled feeds << 1e6. One daily-count shuffle + a moments
      // aggregate; complements the per-day z-flags and CUSUM level shifts
      (s, dir) => graft.functions.Stats.burstiness(
          Tables.events(s, dir), "ts", "event_type")
        .orderBy("event_type"),
      Some("""WITH daily AS (
             |  SELECT event_type, CAST(ts AS DATE) AS day,
             |    CAST(count(*) AS BIGINT) AS x
             |  FROM events GROUP BY 1, 2),
             |m AS (
             |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             |    CAST(sum(x) AS BIGINT) AS s,
             |    CAST(sum(x * x) AS HUGEINT) AS q
             |  FROM daily GROUP BY 1)
             |SELECT event_type, n_days, s AS n_events,
             |  CAST(((CAST(n_days AS HUGEINT) * q
             |         - CAST(s AS HUGEINT) * s) * 1000000)
             |    // (CAST(n_days AS HUGEINT) * s) AS BIGINT) AS vmr_ppm
             |FROM m ORDER BY event_type""".stripMargin)),

    QueryDef.headline("events_interarrival_quantiles",
      // arrival-process profile: p50/p90/p99 of per-user gaps between
      // successive events of each type, in whole seconds off the
      // log-histogram sketch — the timescale companion to burstiness.
      // One per-user lag window + the one-pass sketch; the gap multiset
      // is order-independent under ts ties (sorting by the value itself)
      (s, dir) => graft.functions.Stats.interarrivalQuantiles(
          Tables.events(s, dir), "ts", "user_id", "event_type")
        .orderBy("event_type", "q_permille"),
      Some {
        val rel = """SELECT event_type AS g,
          |    (epoch_us(CAST(ts AS TIMESTAMP))
          |     - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
          |       (PARTITION BY user_id, event_type
          |        ORDER BY epoch_us(CAST(ts AS TIMESTAMP)))) // 1000000
          |      AS v
          |  FROM events
          |  QUALIFY v IS NOT NULL""".stripMargin
        Sketches.logHistOracleSql(rel, Seq(500, 900, 990), "event_type")
      }),

    QueryDef.headline("quantile_sketch_error_report",
      // the sketch family's measured-accuracy evidence (lshRecallReport
      // mold): exact p50/p95 order statistics vs the sketch lower bound,
      // relative error in ppm, and the < 1/16 bound flag — on the actual
      // event cents, not a unit fixture. Oracle replays BOTH rank walks
      // and the division
      (s, dir) => graft.functions.Stats.quantileSketchErrorReport(
          Tables.events(s, dir).select(col("event_type"),
            graft.functions.Money.cents(col("value")).as("cents")),
          "event_type", "cents", permilles = Seq(500, 950))
        .orderBy("event_type", "q_permille"),
      Some(s"""WITH ev AS (SELECT event_type,
             |    CAST(round(value * 100) AS BIGINT) AS v FROM events),
             |n AS (SELECT event_type, count(*) AS n FROM ev GROUP BY 1),
             |cv AS (SELECT event_type, v, count(*) AS c FROM ev GROUP BY 1, 2),
             |r AS (SELECT event_type, v,
             |        sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cum
             |      FROM cv),
             |f AS (SELECT unnest([500, 950]) AS q_permille),
             |ex AS (SELECT n.event_type, f.q_permille, min(r.v) AS exact_value
             |       FROM n CROSS JOIN f
             |       JOIN r ON r.event_type = n.event_type
             |         AND r.cum >= ceil(n.n * (f.q_permille / 1000.0))
             |       GROUP BY 1, 2),
             |b AS (SELECT event_type, v,
             |    CASE WHEN v >= 1 THEN length(bin(v)) - 1 ELSE -1 END AS e,
             |    CASE WHEN v >= 1 THEN
             |      ((v - (CAST(1 AS BIGINT) << (length(bin(v)) - 1)))
             |        * ${Sketches.QsSub})
             |        // (CAST(1 AS BIGINT) << (length(bin(v)) - 1))
             |    ELSE 0 END AS sub
             |  FROM ev),
             |sk AS (SELECT event_type, e, sub, count(*) AS cnt
             |       FROM b GROUP BY 1, 2, 3),
             |c AS (SELECT event_type, e, sub, cnt,
             |    sum(cnt) OVER (PARTITION BY event_type ORDER BY e, sub)
             |      AS cum,
             |    CASE WHEN e >= 0 THEN
             |      ((${Sketches.QsSub} + sub) * (CAST(1 AS BIGINT) << e))
             |        // ${Sketches.QsSub}
             |    ELSE 0 END AS lb
             |  FROM sk),
             |t AS (SELECT n.event_type, f.q_permille,
             |    (n.n * f.q_permille + 999) // 1000 AS rnk
             |  FROM n CROSS JOIN f),
             |skq AS (SELECT t.event_type, t.q_permille,
             |    min(c.lb) AS sketch_lb
             |  FROM t JOIN c ON c.event_type = t.event_type
             |    AND c.cum >= t.rnk
             |  GROUP BY 1, 2)
             |SELECT ex.event_type, CAST(ex.q_permille AS INT) AS q_permille,
             |  ex.exact_value, skq.sketch_lb,
             |  CAST(CASE WHEN ex.exact_value = 0 THEN 0
             |    ELSE ((ex.exact_value - skq.sketch_lb) * 1000000)
             |         // ex.exact_value END AS BIGINT) AS rel_err_ppm,
             |  CAST(CASE WHEN (CASE WHEN ex.exact_value = 0 THEN 0
             |    ELSE ((ex.exact_value - skq.sketch_lb) * 1000000)
             |         // ex.exact_value END) < 62500 THEN 1 ELSE 0 END
             |    AS INT) AS within_bound
             |FROM ex JOIN skq ON skq.event_type = ex.event_type
             |  AND skq.q_permille = ex.q_permille
             |ORDER BY ex.event_type, q_permille""".stripMargin)))
}
