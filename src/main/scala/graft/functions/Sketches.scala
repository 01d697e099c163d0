package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable cardinality sketches (HyperLogLog, Flajolet et al. 2007)
  * built to be BIT-REPRODUCIBLE by any SQL engine, so the correctness
  * gate can hash-compare estimates, not just shapes.
  *
  * Reference scope: the reference engine has no sketching at all — at its
  * scale (per-table row loops, `wadlabs/hub/migration/datacrawler.py`) exact
  * distinct counts are affordable. At 100 TB they are not: an exact
  * per-source `COUNT(DISTINCT user)` shuffles every distinct key. The HLL
  * sketch shuffles AT MOST m=4096 (bucket, max-rho) longs per group —
  * partial-aggregated map-side — and sub-sketches computed on disjoint
  * slices (days, partitions, ingest batches) MERGE by bucket-wise max
  * without re-reading the data, which is the whole point for incremental
  * 100 TB dashboards.
  *
  * Three determinism decisions make the estimate engine-portable:
  *
  *  1. The hash is the md5-u64 slice (first 16 hex chars of md5), the
  *     repo-wide portable hash family (see [[Dedup.simhashRelational]]):
  *     md5 is computable by any SQL engine, xxhash64 is not.
  *  2. rho (leading-zero rank of the 52 post-bucket bits) is CAPPED at 40,
  *     so a bucket's contribution 2^(40-rho) is an exact BIGINT and the
  *     per-group denominator S = sum(2^(40-rho)) + V*2^40 is an exact,
  *     merge-order-independent integer (max 4096 * 2^40 = 2^52 < 2^63).
  *     P(rho > 40) = 2^-40 — the cap is statistically invisible.
  *  3. The only floating-point step is the final alpha*m^2*2^40 / S with
  *     the operand order pinned; IEEE-754 basic ops are exactly specified,
  *     so Spark and DuckDB produce the identical double. (No ln/pow of
  *     non-2 bases anywhere — libm transcendentals are NOT portable.)
  *
  * The classic small-range LinearCounting correction (m*ln(m/V)) is
  * deliberately NOT applied inside the engine — ln is libm-dependent. The
  * sketch emits V (empty-bucket count) alongside the raw estimate so a
  * consumer that wants the correction can apply it; the raw estimate's
  * error at m=4096 is ~1.6% (1.04/sqrt(m)).
  */
object Sketches {

  /** Bucket-count exponent: m = 2^12 = 4096 buckets = the first 3 md5 hex
    * chars. ~1.6% standard error, 4096 longs max per group sketch. */
  val HllP = 12
  val HllM = 4096
  /** rho cap keeping 2^(RhoCap-rho) an exact integer; P(hit) = 2^-40. */
  val RhoCap = 40

  /** (bucket, rho) for one hashed value. Bucket = first 3 hex chars (12
    * bits); rho = 1 + leading-zero count of the NEXT 40 bits (10 hex
    * chars), capped at [[RhoCap]]. The nibble-level leading-zero walk uses
    * only string ops every engine agrees on. */
  private def bucketAndRho(value: Column): (Column, Column) = {
    val hx = md5(value.cast("string"))
    val bucket = conv(substring(hx, 1, 3), 16, 10).cast("int")
    val tail = substring(hx, 4, 10)
    val z = length(regexp_extract(tail, "^0*", 0))
    // first non-zero hex char (empty string when all 10 are '0')
    val fc = tail.substr(z + lit(1), lit(1))
    val nibbleLz = when(fc.isin("8", "9", "a", "b", "c", "d", "e", "f"), 0)
      .when(fc.isin("4", "5", "6", "7"), 1)
      .when(fc.isin("2", "3"), 2)
      .when(fc === "1", 3)
      .otherwise(0) // z == 10: 4*10 + 0 + 1 = 41, capped below
    val rho = least(z * lit(4) + nibbleLz + lit(1), lit(RhoCap))
    (bucket, rho)
  }

  /** Per-group HLL sketch: (groupCols*, bucket, max_rho). This is the
    * MERGEABLE state — sketches of disjoint slices union and re-max to the
    * sketch of the whole (max is associative/commutative/idempotent).
    * One group-keyed shuffle of <= m rows per group, partial max map-side. */
  def hllSketch(df: DataFrame, groupCols: Seq[String], value: Column): DataFrame = {
    val (bucket, rho) = bucketAndRho(value)
    df.select(groupCols.map(col) :+ bucket.as("bucket") :+ rho.as("rho"): _*)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max("rho").as("max_rho"))
  }

  /** Merge sub-sketches (same schema as [[hllSketch]] output): bucket-wise
    * max. The 100 TB path: per-day sketches land as tiny tables; the
    * all-time distinct dashboard merges them without touching raw data. */
  def hllMerge(sketches: Seq[DataFrame], groupCols: Seq[String]): DataFrame =
    sketches.reduce(_ unionByName _)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max("max_rho").as("max_rho"))

  /** Raw HLL estimate per group from a sketch frame.
    * Output: (groupCols*, v_empty, s_scaled, hll_est) where
    * s_scaled = sum(2^(40-max_rho)) + v_empty * 2^40 (exact BIGINT) and
    * hll_est = alpha_m * m^2 * 2^40 / s_scaled (IEEE-pinned double). */
  def hllEstimate(sketch: DataFrame, groupCols: Seq[String]): DataFrame = {
    val twoP40 = 1L << RhoCap
    sketch
      .groupBy(groupCols.map(col): _*)
      .agg(
        (lit(HllM.toLong) - count(lit(1))).as("v_empty"),
        (sum(expr(s"shiftleft(CAST(1 AS BIGINT), $RhoCap - max_rho)"))
          + (lit(HllM.toLong) - count(lit(1))) * lit(twoP40)).as("s_scaled"))
      .withColumn("hll_est",
        // operand order pinned — must match the oracle SQL text exactly;
        // every constant CAST from a string so neither engine parses a
        // DECIMAL literal (decimal division semantics are NOT portable)
        expr(s"(CAST('0.7213' AS DOUBLE) / (CAST(1 AS DOUBLE) " +
          s"+ CAST('1.079' AS DOUBLE) / CAST($HllM AS DOUBLE))) " +
          s"* CAST($HllM AS DOUBLE) * CAST($HllM AS DOUBLE) " +
          s"* CAST($twoP40 AS DOUBLE) / CAST(s_scaled AS DOUBLE)"))
  }

  /** One-call convenience: sketch + estimate. */
  def hllDistinct(df: DataFrame, groupCols: Seq[String], value: Column): DataFrame =
    hllEstimate(hllSketch(df, groupCols, value), groupCols)

  /** Rolling `windowDays`-day distinct-count dashboard from per-day HLL
    * sub-sketches: the classic "7-day active users per day" metric, which
    * is NOT additive (a user active on two days must count once), so the
    * naive exact form re-distincts a 7-day slice of the corpus for every
    * day. The sketch form touches raw data once — one per-day sketch pass
    * — then every day's window is a bucket-wise max over the <= 7
    * day-sketches that overlap it: the day×window merge runs over frames
    * of at most days × m rows (KB-sized METADATA), broadcast-joined
    * against the day list, while the corpus never moves again. At 100 TB
    * this composes with the [[graft.sources.Layout.writeDailyHllSketch]]
    * rollup: yesterday's landed sub-sketches answer today's rolling curve
    * without any raw read. Max is idempotent, so overlapping windows need
    * no inclusion-exclusion. Output: (day STRING, v_empty, s_scaled,
    * hll_est) per day, hash-exact against a from-scratch oracle replay. */
  def hllRollingDistinct(events: DataFrame, tsCol: String, value: Column,
      windowDays: Int = 7, groupCols: Seq[String] = Nil): DataFrame = {
    require(windowDays >= 1, "windowDays must be positive")
    val withDay = events.select(
      (to_date(col(tsCol)).as("day") +: value.as("_v") +:
        groupCols.map(col)): _*)
    // persisted: the day-sketch frame feeds BOTH the derived day list and
    // the window merge — without this the corpus sketch pass runs twice
    val sk = Caches.operatorPersist(
      hllSketch(withDay, "day" +: groupCols, col("_v")))
    // the day list is GLOBAL (window-horizon semantics): a group inactive
    // on day d but active within [d-w+1, d] still gets a curve row for d
    // — that is what a rolling-active dashboard means. The grouped oracle
    // (hllRollingOracleSql) derives the same global list.
    val days = sk.select(col("day").as("w_day")).distinct()
    val merged = sk.join(broadcast(days),
        col("day") >= date_sub(col("w_day"), windowDays - 1) &&
          col("day") <= col("w_day"))
      .groupBy((col("w_day") +: col("bucket") +: groupCols.map(col)): _*)
      .agg(max("max_rho").as("max_rho"))
      .withColumnRenamed("w_day", "day")
    hllEstimate(merged, groupCols :+ "day")
      .withColumn("day", col("day").cast("string"))
  }

  /** DuckDB replay of [[hllRollingDistinct]] (and, with `groupCol`, of the
    * rollup-layout rolling curve): the same bucket/rho chain as
    * [[hllOracleSql]] keyed by (group?, day), then the day-range
    * bucket-max merge and the identical IEEE-pinned estimate. The day
    * list is GLOBAL (all days in the sketch frame, not per group) —
    * window-horizon semantics matching the implementation: a group gets
    * a curve row for any global day its window overlaps, even if the
    * group itself was inactive on that day (the round-8 oracle derived
    * per-group day lists, which silently agreed only on dense fixtures —
    * the `hll_rolling_sparse` gate row now pins the sparse case).
    * `table` may be a parenthesized subquery for filtered replays. */
  def hllRollingOracleSql(table: String, tsCol: String, valueExpr: String,
      windowDays: Int, groupCol: Option[String] = None): String = {
    val twoP40 = 1L << RhoCap
    val g = groupCol.map(_ + ", ").getOrElse("")
    val gs = groupCol.map(c => s"s.$c, ").getOrElse("")
    s"""WITH h AS (
       |  SELECT ${g}CAST($tsCol AS DATE) AS day,
       |    substr(md5($valueExpr), 1, 13) AS hx FROM $table),
       |b AS (
       |  SELECT ${g}day,
       |    CAST(list_reduce(list_transform(
       |      regexp_extract_all(substr(hx, 1, 3), '.'),
       |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
       |      (a, b) -> a * 16 + b) AS INT) AS bucket,
       |    substr(hx, 4, 10) AS tail
       |  FROM h),
       |r AS (
       |  SELECT ${g}day, bucket,
       |    length(regexp_extract(tail, '^0*')) AS z,
       |    substr(tail, length(regexp_extract(tail, '^0*')) + 1, 1) AS fc
       |  FROM b),
       |rho AS (
       |  SELECT ${g}day, bucket,
       |    LEAST(z * 4 + (CASE
       |      WHEN fc IN ('8','9','a','b','c','d','e','f') THEN 0
       |      WHEN fc IN ('4','5','6','7') THEN 1
       |      WHEN fc IN ('2','3') THEN 2
       |      WHEN fc = '1' THEN 3 ELSE 0 END) + 1, $RhoCap) AS rho
       |  FROM r),
       |sk AS (
       |  SELECT ${g}day, bucket, max(rho) AS max_rho
       |  FROM rho GROUP BY ${g}day, bucket),
       |days AS (SELECT DISTINCT day FROM sk),
       |m AS (
       |  SELECT ${gs}d.day, s.bucket, max(s.max_rho) AS max_rho
       |  FROM days d JOIN sk s
       |    ON s.day BETWEEN d.day - ${windowDays - 1} AND d.day
       |  GROUP BY ${gs}d.day, s.bucket),
       |est AS (
       |  SELECT ${g}day,
       |    CAST($HllM - count(*) AS BIGINT) AS v_empty,
       |    CAST(sum(CAST(1 AS BIGINT) << ($RhoCap - max_rho))
       |         + ($HllM - count(*)) * $twoP40 AS BIGINT) AS s_scaled
       |  FROM m GROUP BY ${g}day)
       |SELECT ${g}CAST(day AS VARCHAR) AS day, v_empty, s_scaled,
       |  (CAST('0.7213' AS DOUBLE) / (CAST(1 AS DOUBLE)
       |     + CAST('1.079' AS DOUBLE) / CAST($HllM AS DOUBLE)))
       |    * CAST($HllM AS DOUBLE) * CAST($HllM AS DOUBLE)
       |    * CAST($twoP40 AS DOUBLE) / CAST(s_scaled AS DOUBLE) AS hll_est
       |FROM est ORDER BY ${g}day""".stripMargin
  }

  /** DuckDB CTE chain recomputing the identical sketch + estimate over
    * `table`, grouped by `groupCol`, counting distinct `valueExpr` (a
    * VARCHAR-typed SQL expression). Yields a final SELECT — the oracle. */
  def hllOracleSql(table: String, groupCol: String, valueExpr: String): String = {
    val twoP40 = 1L << RhoCap
    s"""WITH h AS (
       |  SELECT $groupCol, substr(md5($valueExpr), 1, 13) AS hx FROM $table),
       |b AS (
       |  SELECT $groupCol,
       |    CAST(list_reduce(list_transform(
       |      regexp_extract_all(substr(hx, 1, 3), '.'),
       |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
       |      (a, b) -> a * 16 + b) AS INT) AS bucket,
       |    substr(hx, 4, 10) AS tail
       |  FROM h),
       |r AS (
       |  SELECT $groupCol, bucket,
       |    length(regexp_extract(tail, '^0*')) AS z,
       |    substr(tail, length(regexp_extract(tail, '^0*')) + 1, 1) AS fc
       |  FROM b),
       |rho AS (
       |  SELECT $groupCol, bucket,
       |    LEAST(z * 4 + (CASE
       |      WHEN fc IN ('8','9','a','b','c','d','e','f') THEN 0
       |      WHEN fc IN ('4','5','6','7') THEN 1
       |      WHEN fc IN ('2','3') THEN 2
       |      WHEN fc = '1' THEN 3 ELSE 0 END) + 1, $RhoCap) AS rho
       |  FROM r),
       |sk AS (
       |  SELECT $groupCol, bucket, max(rho) AS max_rho
       |  FROM rho GROUP BY $groupCol, bucket),
       |est AS (
       |  SELECT $groupCol,
       |    CAST($HllM - count(*) AS BIGINT) AS v_empty,
       |    CAST(sum(CAST(1 AS BIGINT) << ($RhoCap - max_rho))
       |         + ($HllM - count(*)) * $twoP40 AS BIGINT) AS s_scaled
       |  FROM sk GROUP BY $groupCol)
       |SELECT $groupCol, v_empty, s_scaled,
       |  (CAST('0.7213' AS DOUBLE) / (CAST(1 AS DOUBLE)
       |     + CAST('1.079' AS DOUBLE) / CAST($HllM AS DOUBLE)))
       |    * CAST($HllM AS DOUBLE) * CAST($HllM AS DOUBLE)
       |    * CAST($twoP40 AS DOUBLE) / CAST(s_scaled AS DOUBLE) AS hll_est
       |FROM est ORDER BY $groupCol""".stripMargin
  }

  // --------------------------------------------------------------------
  // KMV (k-minimum-values / bottom-k) sketch — Bar-Yossef et al. 2002,
  // Beyer et al. 2007. Where HLL answers only |A| and |A ∪ B|, the KMV
  // sketch supports SET-OPERATION cardinalities: the k smallest hashes of
  // A ∪ B are computable from the two sketches alone, and the fraction of
  // them present in both sketches estimates the Jaccard — hence
  // |A ∩ B| ≈ J · |A ∪ B| without touching raw data. Same determinism
  // stance as HLL: a 52-bit md5 slice (13 hex chars — exact in BIGINT and
  // DOUBLE), integer counts/mins, and IEEE-pinned final arithmetic.
  // --------------------------------------------------------------------

  /** k for the bottom-k sketches: ~1/sqrt(k) ≈ 6% relative error. */
  val KmvK = 256
  /** 2^52 — the hash-space size of the 52-bit md5 slice. */
  val KmvSpace = 4503599627370496L

  /** 52-bit md5 slice: first 13 hex chars as a BIGINT (exact in DOUBLE
    * too, which the estimators' final division relies on). */
  def hashSlice52(value: Column): Column =
    conv(substring(md5(value.cast("string")), 1, 13), 16, 10).cast("long")

  /** Bottom-k sketch: the k smallest DISTINCT hash values per group,
    * via the two-stage top-k (map-side partial prune, then exact final) —
    * the shuffle moves k×partitions rows per group, never the group. */
  def kmvSketch(df: DataFrame, groupCols: Seq[String], value: Column,
      k: Int = KmvK): DataFrame = {
    import graft.plans.TopKPerKey
    val hashed = df
      .select(groupCols.map(col) :+ hashSlice52(value).as("h"): _*)
      .distinct()
    val partial = TopKPerKey.perKeyPartial(hashed, groupCols, Seq(("h", true)), k)
    TopKPerKey.perKey(partial, groupCols, Seq(("h", true)), k, "rank")
  }

  /** Distinct-cardinality estimate per group from a KMV sketch:
    * (k-1) · 2^52 / h_(k) when the sketch is full, the EXACT distinct
    * count (= sketch size) when the group has fewer than k values —
    * the standard KMV small-set rule, and why bottom-k degrades
    * gracefully where fixed-width sketches only estimate. */
  def kmvEstimate(sketch: DataFrame, groupCols: Seq[String],
      k: Int = KmvK): DataFrame =
    sketch.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_sketch"), max("h").as("sketch_max"))
      .withColumn("est_distinct",
        when(col("n_sketch") < k, col("n_sketch").cast("double"))
          .otherwise(expr(s"CAST(${k - 1} AS DOUBLE) " +
            s"* CAST($KmvSpace AS DOUBLE) / CAST(sketch_max AS DOUBLE)")))

  /** Pairwise set-operation estimates between every two groups, computed
    * ENTIRELY from the sketches (k rows per group): for each pair, the k
    * smallest of the sketch union X, n_common = |X ∩ skA ∩ skB|,
    * J ≈ n_common/|X|, |A ∪ B| from X's kth min, |A ∩ B| ≈ J·|A ∪ B|.
    * Output: (g_a, g_b, n_common, jaccard_est, union_est, inter_est). */
  def kmvPairEstimates(sketch: DataFrame, groupCol: String,
      k: Int = KmvK): DataFrame = {
    // the sketch is <= k rows per group — KB-sized state. Collapse it to
    // one partition BEFORE the pair machinery so the ~10 downstream ops
    // (pair join, union-distinct, window, membership joins) are
    // single-task instead of 32 mostly-empty tasks each; at 1000
    // executors the pair stage is driver-adjacent metadata work by
    // design, the corpus-sized work all happened upstream in the
    // two-stage top-k.
    val sk = sketch.select(col(groupCol).as("g"), col("h"))
      .coalesce(1).transform(Caches.operatorPersist)
    val pairs = sk.select(col("g").as("g_a")).distinct()
      .crossJoin(broadcast(sk.select(col("g").as("g_b")).distinct()))
      .filter(col("g_a") < col("g_b"))
    // union of the two sketches, re-pruned to bottom-k per pair: pair
    // count × 2k rows total — sketch-sized, never corpus-sized. Two
    // equi-joins (broadcastable), not one OR-join (nested-loop).
    val ua = pairs.join(sk, col("g") === col("g_a"))
      .select(col("g_a"), col("g_b"), col("h"))
    val ub = pairs.join(sk, col("g") === col("g_b"))
      .select(col("g_a"), col("g_b"), col("h"))
    val u = ua.union(ub).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g_a", "g_b").orderBy("h")
    val x = u.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
    val inA = sk.select(col("g").as("g_a"), col("h"), lit(1).as("_a"))
    val inB = sk.select(col("g").as("g_b"), col("h"), lit(1).as("_b"))
    x.join(inA, Seq("g_a", "h"), "left").join(inB, Seq("g_b", "h"), "left")
      .groupBy("g_a", "g_b")
      .agg(count(lit(1)).as("n_x"), max("h").as("x_max"),
        sum(when(col("_a") === 1 && col("_b") === 1, 1L).otherwise(0L))
          .as("n_common"))
      .withColumn("union_est",
        when(col("n_x") < k, col("n_x").cast("double"))
          .otherwise(expr(s"CAST(${k - 1} AS DOUBLE) " +
            s"* CAST($KmvSpace AS DOUBLE) / CAST(x_max AS DOUBLE)")))
      .withColumn("jaccard_est",
        expr("CAST(n_common AS DOUBLE) / CAST(n_x AS DOUBLE)"))
      .withColumn("inter_est", expr("jaccard_est * union_est"))
      .select("g_a", "g_b", "n_common", "jaccard_est", "union_est", "inter_est")
  }

  /** DuckDB rendering of [[hashSlice52]] on a VARCHAR expression. */
  def hash52Sql(valueExpr: String): String =
    s"""list_reduce(list_transform(
       |      regexp_extract_all(substr(md5($valueExpr), 1, 13), '.'),
       |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
       |      (a, b) -> a * 16 + b)""".stripMargin

  /** DuckDB CTE prefix `sk(g, h)`: the bottom-k sketch over a
    * (group, value) relation given by `relSql` (must select `g` and `v`). */
  def kmvSketchSql(relSql: String, k: Int = KmvK): String =
    s"""h0 AS (SELECT DISTINCT g, ${hash52Sql("v")} AS h FROM ($relSql)),
       |rk AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
       |       FROM h0),
       |sk AS (SELECT g, h FROM rk WHERE rn <= $k)""".stripMargin

  // --------------------------------------------------------------------
  // Join-size estimation from per-key bucket histograms — the AQE-style
  // planning sketch: |A ⋈ B| on an equi-key is estimated as
  // Σ_b cntA(b)·cntB(b) over m hash buckets, WITHOUT running the join.
  // Exact integer arithmetic end to end (deterministic, mergeable — the
  // histograms sum across partitions/days), an overestimate by exactly
  // the cross-collision mass (expected n_a·n_b/m for unrelated keys).
  // At 100 TB this is how a pipeline decides broadcast-vs-shuffle or
  // pre-checks a suspected key explosion before paying for it.
  // --------------------------------------------------------------------

  /** m-bucket key histogram: (bucket, cnt) per side. NULL keys join
    * nothing, so they are not counted — which also makes `bucket`
    * non-nullable (the coalesce never fires on a non-null key): a
    * nullable bucket lets the optimizer infer an IsNotNull guard for the
    * join and push it below the aggregate, where it re-runs the md5 per
    * row. */
  def keyHistogram(df: DataFrame, key: Column, m: Int = HllM): DataFrame =
    df.filter(key.isNotNull)
      .select(coalesce(hashSlice52(key) % m, lit(-1L)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))

  /** One-row estimate: Σ cntA·cntB over shared buckets, plus the two
    * sides' row/bucket tallies (all exact BIGINTs). */
  def joinSizeSketch(a: DataFrame, aKey: Column, b: DataFrame, bKey: Column,
      m: Int = HllM): DataFrame = {
    val ca = keyHistogram(a, aKey, m)
      .select(col("bucket"), col("cnt").as("ca"))
    val cb = keyHistogram(b, bKey, m)
      .select(col("bucket"), col("cnt").as("cb"))
    ca.join(cb, Seq("bucket"))
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("est_join_size"),
        count(lit(1)).as("n_shared_buckets"))
  }

  /** DuckDB replay of [[joinSizeSketch]] over two (table, keyExpr) sides.
    * keyExprs must be VARCHAR-typed SQL expressions. */
  def joinSizeOracleSql(tableA: String, keyA: String,
      tableB: String, keyB: String, m: Int = HllM): String =
    s"""WITH ca AS (
       |  SELECT ${hash52Sql(keyA)} % $m AS bucket, count(*) AS cnt
       |  FROM $tableA GROUP BY 1),
       |cb AS (
       |  SELECT ${hash52Sql(keyB)} % $m AS bucket, count(*) AS cnt
       |  FROM $tableB GROUP BY 1)
       |SELECT CAST(COALESCE(sum(ca.cnt * cb.cnt), 0) AS BIGINT) AS est_join_size,
       |  CAST(count(*) AS BIGINT) AS n_shared_buckets
       |FROM ca JOIN cb USING (bucket)""".stripMargin

  // --------------------------------------------------------------------
  // Mergeable log-histogram quantile sketch (the DDSketch idea — Masson
  // et al. 2019 — rebuilt on EXACT INTEGER bucketing so any SQL engine
  // reproduces it bit-for-bit). Exact per-group percentiles need either a
  // per-group sort or the repo's two-pass bounded-histogram walk
  // (Stats.groupedExactPercentiles) — both touch raw values twice or
  // shuffle value-keyed rows. The log-histogram needs ONE partial-
  // aggregable pass: bucket = (octave e = floor(log2(v)), sub-bucket
  // within the octave), count per bucket. State per group is <= 64
  // octaves x QsSub buckets (~1 KB of longs), buckets MERGE by addition
  // (days/partitions/ingest batches sum without re-reading data), and the
  // reported bucket lower bound is within a 1/QsSub RELATIVE error of the
  // true order statistic at every quantile simultaneously.
  //
  // Determinism: log2 via the length of the value's binary string —
  // `bin()` exists in both Spark and DuckDB and yields the minimal-length
  // binary rendering of a positive BIGINT, so e = length(bin(v)) - 1 is
  // exact integer arithmetic, no libm log anywhere. Sub-bucket and lower
  // bound are shifts + integer division. Domain: v in [0, 2^50) — the
  // sub-bucket product (v - 2^e) * QsSub must not overflow; counts,
  // cents, latencies, and token tallies all fit with 13 bits to spare.
  // --------------------------------------------------------------------

  /** Sub-buckets per octave: relative error of a reported quantile lower
    * bound is < 1/QsSub = 6.25% (bucket width 2^e/16 <= lb/16). */
  val QsSub = 16

  /** Per-group log-histogram sketch: (groupCols*, e, sub, cnt).
    * v < 1 (zeros) lands in the sentinel bucket (e = -1, sub = 0) whose
    * lower bound is 0. One group-keyed shuffle of <= ~1K rows per group,
    * partial count map-side. */
  def logHistSketch(df: DataFrame, groupCols: Seq[String], value: Column): DataFrame =
    withLogBuckets(df.select(groupCols.map(col) :+ value.as("_in"): _*),
        col("_in"))
      .groupBy((groupCols :+ "e" :+ "sub").map(col): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Append the (e, sub) bucket columns for `value` — the single bucket-
    * assignment definition shared by the sketch and the per-row ranker. */
  private def withLogBuckets(df: DataFrame, value: Column): DataFrame =
    df.withColumn("_v", value.cast("long"))
      .withColumn("e",
        when(col("_v") >= 1, length(bin(col("_v"))) - 1).otherwise(-1).cast("int"))
      .withColumn("sub",
        when(col("_v") >= 1, expr(
          s"((_v - shiftleft(CAST(1 AS BIGINT), e)) * $QsSub) " +
            "div shiftleft(CAST(1 AS BIGINT), e)"))
          .otherwise(0L).cast("int"))
      .drop("_v")

  /** Merge sub-sketches (same schema as [[logHistSketch]] output, possibly
    * carrying extra slice columns like a day key): bucket-wise SUM. The
    * 100 TB path mirrors [[hllMerge]]: per-slice sketches land as tiny
    * tables; any range/rollup re-aggregates them without raw data. */
  def logHistMerge(sketches: Seq[DataFrame], groupCols: Seq[String]): DataFrame =
    sketches.map(_.select((groupCols :+ "e" :+ "sub" :+ "cnt").map(col): _*))
      .reduce(_ unionByName _)
      .groupBy((groupCols :+ "e" :+ "sub").map(col): _*)
      .agg(sum("cnt").as("cnt"))

  /** Quantile estimates per group from a sketch frame, one row per
    * requested permille: (groupCols*, q_permille, n_rows, qtile_lb).
    * Rank convention: target rank r = ceil(n * q / 1000); the estimate is
    * the LOWER BOUND of the first bucket whose cumulative count reaches r
    * — lb = ((QsSub + sub) * 2^e) div QsSub, monotone in (e, sub), so the
    * min over qualifying buckets IS the crossing bucket. All stages run
    * over bucket-sized frames; the window partitions by group. */
  def logHistQuantiles(sketch: DataFrame, groupCols: Seq[String],
      permilles: Seq[Int]): DataFrame = {
    val spark = sketch.sparkSession
    import spark.implicits._
    val qs = broadcast(permilles.toDF("q_permille"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(col("e"), col("sub"))
    val cum = sketch
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("lb", expr(
        s"CASE WHEN e >= 0 THEN (($QsSub + sub) * " +
          s"shiftleft(CAST(1 AS BIGINT), e)) div $QsSub " +
          "ELSE CAST(0 AS BIGINT) END"))
    val tgt = sketch.groupBy(groupCols.map(col): _*)
      .agg(sum("cnt").as("n_rows"))
      .crossJoin(qs)
      .withColumn("r", expr("(n_rows * q_permille + 999) div 1000"))
    cum.join(tgt, groupCols)
      .filter(col("cum") >= col("r"))
      .groupBy((groupCols :+ "q_permille").map(col): _*)
      .agg(max("n_rows").as("n_rows"), min("lb").as("qtile_lb"))
  }

  /** One-call convenience: sketch + quantiles. */
  def logHistDistribution(df: DataFrame, groupCols: Seq[String], value: Column,
      permilles: Seq[Int]): DataFrame =
    logHistQuantiles(logHistSketch(df, groupCols, value), groupCols, permilles)

  /** Per-ROW within-group quantile rank from the sketch: permille of
    * values strictly below the row's bucket — the scale path for
    * cross-source score normalization. The exact form
    * (score_quantile_normalize) windows over the (group, score) total
    * order, i.e. a per-group global sort; this form is one sketch pass +
    * a BROADCAST join of the model-sized cumulative bucket table + a
    * narrow map, so the corpus never sorts and never shuffles on the
    * value. Rows sharing a bucket share the rank (the <= 1/QsSub
    * granularity trade the sketch makes everywhere).
    * Output: input columns + (e, sub, rank_permille). */
  def logHistRankPermille(df: DataFrame, groupCols: Seq[String],
      value: Column): DataFrame = {
    val sketch = logHistSketch(df, groupCols, value)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(col("e"), col("sub"))
    val cumTable = sketch
      .withColumn("_below", sum(col("cnt")).over(w) - col("cnt"))
      .withColumn("_n", sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(groupCols.map(col): _*)))
      .select((groupCols.map(col) :+ col("e") :+ col("sub") :+
        expr("(_below * 1000) div _n").as("rank_permille")): _*)
    withLogBuckets(df, value)
      .join(broadcast(cumTable), groupCols :+ "e" :+ "sub")
  }

  /** Range-partitioner boundary advisor: B-1 split points at the even
    * permilles of the value distribution, from the log-histogram sketch —
    * what Spark's RangePartitioner derives by sampling, but exact-
    * deterministic and mergeable (the sketch can come from yesterday's
    * rollup without touching data). The boundary list is MODEL-sized
    * (B-1 longs — the same offline-artifact stance as IVF centroids), so
    * collecting it to build the assignment expression is metadata
    * movement, and the assignment itself is a narrow map: range_id =
    * #boundaries <= v, no join, no shuffle of the corpus on the value.
    * Output census: (range_id, lo_cents, n_rows) — the balance evidence
    * a 100 TB sort/repartition wants BEFORE it runs. */
  def rangePartitionAdvisor(df: DataFrame, value: Column,
      numRanges: Int): DataFrame = {
    require(numRanges >= 2, "need at least two ranges")
    val spark = df.sparkSession
    import spark.implicits._
    val permilles = (1 until numRanges).map(i => i * 1000 / numRanges)
    val g = df.select(value.cast("long").as("_val")).withColumn("_g", lit("all"))
    val bounds = logHistDistribution(g, Seq("_g"), col("_val"), permilles)
      .select("q_permille", "qtile_lb").collect()
      .sortBy(_.getInt(0)).map(_.getLong(1))
    val rid = bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + when(col("_val") >= lit(b), 1).otherwise(0)
    }
    val ranges = ((0, 0L) +: bounds.zipWithIndex.map { case (b, i) => (i + 1, b) })
      .toSeq.toDF("range_id", "lo_cents")
    g.withColumn("range_id", rid)
      .groupBy("range_id").agg(count(lit(1)).as("n_rows"))
      .join(broadcast(ranges), Seq("range_id"))
      .select("range_id", "lo_cents", "n_rows")
  }

  /** DuckDB replay of sketch + quantile walk over a (group, value)
    * relation given by `relSql` (must select `g` VARCHAR-ish and `v`
    * BIGINT), emitting (outName, q_permille, n_rows, qtile_lb). */
  def logHistOracleSql(relSql: String, permilles: Seq[Int],
      outName: String): String = {
    val qlist = permilles.mkString(", ")
    s"""WITH v0 AS ($relSql),
       |b AS (SELECT g,
       |    CASE WHEN v >= 1 THEN length(bin(v)) - 1 ELSE -1 END AS e,
       |    CASE WHEN v >= 1 THEN
       |      ((v - (CAST(1 AS BIGINT) << (length(bin(v)) - 1))) * $QsSub)
       |        // (CAST(1 AS BIGINT) << (length(bin(v)) - 1))
       |    ELSE 0 END AS sub
       |  FROM v0),
       |sk AS (SELECT g, e, sub, count(*) AS cnt FROM b GROUP BY 1, 2, 3),
       |c AS (SELECT g, e, sub, cnt,
       |    sum(cnt) OVER (PARTITION BY g ORDER BY e, sub) AS cum,
       |    CASE WHEN e >= 0 THEN
       |      (($QsSub + sub) * (CAST(1 AS BIGINT) << e)) // $QsSub
       |    ELSE 0 END AS lb
       |  FROM sk),
       |n AS (SELECT g, sum(cnt) AS n_rows FROM sk GROUP BY 1),
       |t AS (SELECT n.g, q.q_permille, n.n_rows,
       |    (n.n_rows * q.q_permille + 999) // 1000 AS r
       |  FROM n CROSS JOIN (SELECT unnest([$qlist]) AS q_permille) q)
       |SELECT t.g AS $outName, CAST(t.q_permille AS INT) AS q_permille,
       |  CAST(max(t.n_rows) AS BIGINT) AS n_rows,
       |  CAST(min(c.lb) AS BIGINT) AS qtile_lb
       |FROM t JOIN c ON c.g = t.g AND c.cum >= t.r
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }
}
