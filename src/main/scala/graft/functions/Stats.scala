package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dataset-health statistics: the monitoring queries an always-on 100 TB
  * extraction runs against itself — volume-anomaly detection over the
  * ingest log and ANALYZE-style column profiles of landed tables.
  *
  * Exactness discipline: the anomaly test is the z-score test rearranged
  * into INTEGER cross-multiplied form — `(x·n − S)² > k²·(n·Q − S²)` with
  * S = Σx, Q = Σx² over a group's days — so no mean, variance, sqrt, or
  * float division ever happens and both engines flag identical days. The
  * comparison runs in DECIMAL(38,0) (exact at any realistic volume; DuckDB
  * sums to HUGEINT natively).
  */
object Stats {

  /** Flag (day, group) volume anomalies: days whose event count deviates
    * from the group's mean by more than `k` population standard deviations,
    * decided entirely in integer arithmetic. Two metadata-sized shuffles
    * (daily counts, then per-group moments); the raw events never move
    * twice. Days with zero events for a group do not appear (they are
    * missing partitions, not zero measurements — dropout detection is the
    * retention query's job). */
  def anomalousDays(events: DataFrame, tsCol: String, groupCol: String,
      k: Int = 2): DataFrame = {
    val daily = events
      .groupBy(to_date(col(tsCol)).cast("string").as("day"), col(groupCol))
      .agg(count(lit(1)).as("n_events"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val moments = daily.groupBy(groupCol)
      .agg(count(lit(1)).as("n_days"),
        sum(col("n_events")).as("s"),
        sum(col("n_events") * col("n_events")).as("q"))
    daily.join(broadcast(moments), Seq(groupCol))
      .withColumn("_lhs",
        (dec(col("n_events")) * dec(col("n_days")) - dec(col("s"))) *
          (dec(col("n_events")) * dec(col("n_days")) - dec(col("s"))))
      .withColumn("_rhs",
        lit(k.toLong * k) * (dec(col("n_days")) * dec(col("q")) -
          dec(col("s")) * dec(col("s"))))
      .select(col("day"), col(groupCol), col("n_events"),
        (col("_lhs") > col("_rhs")).cast("int").as("is_anomaly"))
  }

  /** Exact rolling `windowDays`-day distinct count per day ("7-day active
    * users"): dedupe to (day, id) once, then broadcast-join the day list
    * against the deduped frame on the day range and count distinct per
    * window day. Distinct-over-a-window is NOT additive, so some
    * replication is unavoidable in the exact form — but it is bounded:
    * the corpus collapses to the (day, id) frame in ONE shuffle, and only
    * that deduped frame is replicated (at most `windowDays`×) into the
    * per-day distinct. The day list is metadata (broadcast). At 100 TB
    * the sketch form ([[Sketches.hllRollingDistinct]]) replaces the
    * replicated re-distinct with a bucket-max over per-day sub-sketches;
    * this exact form is the oracle-grade reference and the right tool
    * when the deduped (day, id) frame is itself modest. */
  def rollingDistinct(events: DataFrame, tsCol: String, idCol: String,
      windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, "windowDays must be positive")
    // persisted: du feeds BOTH the derived day list and the range join —
    // without this the corpus-wide distinct runs once per consumer
    val du = events
      .select(to_date(col(tsCol)).as("_day"), col(idCol).as("_id"))
      .distinct()
      .transform(Caches.operatorPersist)
    val days = du.select(col("_day").as("day")).distinct()
    du.join(broadcast(days),
        col("_day") >= date_sub(col("day"), windowDays - 1) &&
          col("_day") <= col("day"))
      .groupBy(col("day").cast("string").as("day"))
      .agg(countDistinct(col("_id")).as("n_active"))
  }

  /** CUSUM changepoint detection over a group's daily volume (Page 1954):
    * the sequential statistic S_i = max(0, S_{i-1} + (x_i − mean)) peaks
    * where the level shifts — the ingestion-drift monitor that catches
    * sustained small shifts a per-day z-test ([[anomalousDays]]) misses.
    * Exactness: deviations are cross-multiplied into integers
    * (d_i = n·x_i − Σx, so S is in n·events units), and the decision
    * rule C > h·n·σ is squared into C² > h²·(n·Q − S²) in DECIMAL(38,0)
    * — no mean, sqrt, or float division anywhere, so both engines flag
    * identical groups and days.
    *
    * Scale shape: the corpus collapses to (group, day) counts in one
    * partial-aggregable shuffle; the sequential fold then runs per group
    * over a DAY-COUNT-sized array (`aggregate` HOF over the sorted day
    * series — bounded metadata per group, groups in parallel), never over
    * events. Output: (group, n_days, cusum_peak, peak_day, is_change). */
  def cusumChangepoint(events: DataFrame, tsCol: String, groupCol: String,
      h: Int = 4): DataFrame = {
    val daily = events
      .groupBy(col(groupCol), to_date(col(tsCol)).cast("string").as("day"))
      .agg(count(lit(1)).as("x"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    daily
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_days"),
        sum("x").as("s"), sum(col("x") * col("x")).as("q"),
        sort_array(collect_list(struct(col("day"), col("x")))).as("_series"))
      // fold the sorted day series: acc = (s_run, peak, peak_day); a new
      // peak only on STRICT improvement, so ties keep the earliest day
      .withColumn("_cusum", expr(
        """aggregate(_series,
          |  named_struct('s', CAST(0 AS BIGINT),
          |               'peak', CAST(-1 AS BIGINT), 'day', ''),
          |  (acc, e) -> named_struct(
          |    's', greatest(CAST(0 AS BIGINT),
          |                  acc.s + (e.x * n_days - s)),
          |    'peak', CASE
          |      WHEN greatest(CAST(0 AS BIGINT),
          |                    acc.s + (e.x * n_days - s)) > acc.peak
          |      THEN greatest(CAST(0 AS BIGINT),
          |                    acc.s + (e.x * n_days - s))
          |      ELSE acc.peak END,
          |    'day', CASE
          |      WHEN greatest(CAST(0 AS BIGINT),
          |                    acc.s + (e.x * n_days - s)) > acc.peak
          |      THEN e.day ELSE acc.day END))""".stripMargin))
      .select(col(groupCol), col("n_days"),
        col("_cusum.peak").as("cusum_peak"),
        col("_cusum.day").as("peak_day"),
        (dec(col("_cusum.peak")) * dec(col("_cusum.peak")) >
          lit(h.toLong * h) * (dec(col("n_days")) * dec(col("q")) -
            dec(col("s")) * dec(col("s")))).cast("int").as("is_change"))
  }

  /** Burstiness census: the variance-to-mean ratio (index of dispersion)
    * of each group's daily volume, in integer ppm — Poisson-like arrival
    * sits near 1e6; bursty ingest (bulk loads, retry storms) shows ≫ 1e6,
    * suspiciously regular (throttled) feeds ≪ 1e6. Complements
    * [[anomalousDays]] (which flags single days) and [[cusumChangepoint]]
    * (level shifts) with a per-group regime summary. Exact:
    * VMR = ((nQ − S²)/n²)/(S/n) = (nQ − S²)/(n·S), emitted as
    * `vmr_ppm = (nQ − S²)·10⁶ div (n·S)` in DECIMAL — no float anywhere.
    * One partial-aggregable daily-count shuffle + a moments aggregate. */
  def burstiness(events: DataFrame, tsCol: String,
      groupCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    events
      .groupBy(col(groupCol), to_date(col(tsCol)).as("_day"))
      .agg(count(lit(1)).as("_x"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_days"), sum("_x").as("_s"),
        sum(col("_x") * col("_x")).as("_q"))
      .select(col(groupCol), col("n_days"),
        col("_s").as("n_events"),
        expr("""(CAST(n_days AS DECIMAL(38,0)) * _q
               | - CAST(_s AS DECIMAL(38,0)) * _s) * 1000000
               | div (CAST(n_days AS DECIMAL(38,0)) * _s)"""
          .stripMargin.replace("\n", " ")).as("vmr_ppm"))
  }

  /** Inter-arrival-time distribution per group: p50/p90/p99 of the gaps
    * (in whole seconds) between a user's successive events of each type,
    * read off the log-histogram sketch — the arrival-process profile
    * that pairs with [[burstiness]] (VMR says HOW bursty; the gap
    * quantiles say at WHAT timescale). One per-user lag window (no
    * self-join), then the one-pass partial-aggregable sketch; zero-gap
    * (same-second) events land in the sentinel bucket. */
  def interarrivalQuantiles(events: DataFrame, tsCol: String,
      userCol: String, groupCol: String,
      permilles: Seq[Int] = Seq(500, 900, 990)): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol), col(groupCol))
      .orderBy(unix_micros(col(tsCol)))
    graft.functions.Sketches.logHistDistribution(
      events
        .withColumn("_gap_us", unix_micros(col(tsCol)) -
          lag(unix_micros(col(tsCol)), 1).over(w))
        .filter(col("_gap_us").isNotNull)
        .select(col(groupCol), expr("_gap_us div 1000000").as("_v")),
      Seq(groupCol), col("_v"), permilles)
  }

  /** Quantile-sketch accuracy report — the eval harness for the
    * log-histogram family, in the [[graft.functions.Dedup.lshRecallReport]]
    * mold: per (group, permille), the EXACT order statistic (two-pass
    * bounded-histogram walk) next to the sketch's lower bound, the
    * relative error in ppm, and the `within_bound` flag for the sketch's
    * documented < 1/16 (62,500 ppm) guarantee — measured on the actual
    * data, not just the unit fixture. Both sides share the ceil-rank
    * convention, and the sketch bound can never exceed the exact value
    * (it is the crossing bucket's lower bound), so the error is always
    * >= 0. */
  def quantileSketchErrorReport(df: DataFrame, groupCol: String,
      valueCol: String, permilles: Seq[Int] = Seq(500, 950),
      bucketWidth: Long = 100L, maxRows: Long = 10000000L): DataFrame = {
    val base = Caches.operatorPersist(
      df.select(col(groupCol).cast("string").as(groupCol),
        col(valueCol).cast("long").as("_v")))
    // SAMPLE CONTRACT (mirrors Dedup.lshRecallReport): the exact side
    // re-reads the raw values twice with fine-grained histograms — an
    // eval-harness cost profile, not a production-query one. Enforce the
    // sample-sized-input contract instead of implying it. (The count also
    // materializes the persisted frame before both consumers fork.)
    val nRows = base.count()
    require(nRows <= maxRows,
      s"quantileSketchErrorReport is a sample-sized evaluation (exact " +
        s"order-statistic side): got $nRows rows > maxRows=$maxRows — " +
        s"pass a sample, or raise maxRows explicitly")
    val exact = groupedExactPercentiles(base, groupCol, "_v",
        permilles.map(_ / 1000.0), bucketWidth)
      .select(col(groupCol),
        (col("p") * 1000).cast("int").as("q_permille"),
        col("cutoff").as("exact_value"))
    val sk = graft.functions.Sketches.logHistDistribution(base,
        Seq(groupCol), col("_v"), permilles)
      .select(col(groupCol), col("q_permille"),
        col("qtile_lb").as("sketch_lb"))
    exact.join(sk, Seq(groupCol, "q_permille"))
      .withColumn("rel_err_ppm",
        when(col("exact_value") === 0, lit(0L))
          .otherwise(expr(
            "((exact_value - sketch_lb) * 1000000) div exact_value")))
      .withColumn("within_bound",
        (col("rel_err_ppm") < lit(62500L)).cast("int"))
  }

  /** Exact heavy hitters by sketch-then-verify: pass 1 builds a
    * Count-Min sketch (merged tree-wise, sketch bytes only cross
    * executors) and keeps the keys whose ESTIMATE reaches `minCount` —
    * CMS never underestimates, so this candidate set is a superset of the
    * true heavy hitters no matter the collision rate; pass 2 counts the
    * candidates exactly (a semi-join-reduced aggregation) and filters.
    * The point at 100 TB: the second pass aggregates only candidate keys,
    * so a trillion-key column with a few thousand heavy hitters never
    * shuffles its full key set — the classic sketch-driven exact top-k.
    * Candidate keys cross the driver once (bounded by distinct keys over
    * threshold + collisions at the chosen sketch width). */
  def heavyHitters(df: DataFrame, keyCol: String, minCount: Long,
      eps: Double = 0.0001, confidence: Double = 0.99,
      seed: Int = 42): DataFrame = {
    // key normalized to string so build and probe hash identically
    val keyed = df.select(col(keyCol).cast("string").as("_k"))
    val sketch = keyed.stat.countMinSketch("_k", eps, confidence, seed)
    val bc = df.sparkSession.sparkContext.broadcast(sketch)
    val probablyHeavy = udf((k: String) =>
      k != null && bc.value.estimateCount(k) >= minCount)
    keyed.filter(probablyHeavy(col("_k")))
      .groupBy(col("_k").as(keyCol))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
  }

  /** Skew diagnosis + salting advisor: the heavy keys (sketch-then-verify
    * via [[heavyHitters]] — the raw table never shuffles on the key), each
    * with its exact count, integer-permille share of the table, and the
    * SALT FACTOR a skew-safe repartition needs: ceil(n / targetPerTask)
    * sub-keys so no single task holds more than ~targetPerTask rows of
    * that key. This is the pre-flight check a 100 TB join/groupBy runs
    * BEFORE paying for a straggler: AQE can split skewed shuffle
    * partitions after the fact, but explicit salting needs the factor up
    * front, and the advisor derives it from a CMS probe + one
    * heavy-keys-only aggregate. All-integer arithmetic. */
  def skewAdvisor(df: DataFrame, keyCol: String, minCount: Long,
      targetPerTask: Long): DataFrame = {
    require(targetPerTask > 0, "targetPerTask must be positive")
    val heavy = heavyHitters(df, keyCol, minCount)
    val total = df.agg(count(lit(1)).as("_total"))
    heavy.crossJoin(broadcast(total))
      .select(col(keyCol), col("n"),
        expr("n * 1000 div _total").as("share_permille"),
        expr(s"(n + ${targetPerTask - 1}) div $targetPerTask")
          .as("salt_factor"))
  }

  /** Population stability index between two snapshots of a continuous
    * column — the standard drift monitor for feature/score distributions
    * (PSI > 0.2 conventionally flags a shift). Values bin into
    * `bins` fixed-width buckets over [lo, hi] (outliers clamp to the edge
    * buckets: drift INTO the tails must count); proportions use add-one
    * smoothing over the bins so an empty bucket contributes a finite,
    * engine-exact term instead of the textbook ±epsilon hack. Each bucket's
    * contribution `(p−q)·ln(p/q)` quantizes to integer MICRONATS right
    * after the ln (the perplexity discipline); the column sum is the PSI.
    * Two metadata-sized aggregates (bins × counts) — the snapshots
    * themselves never shuffle. */
  def psi(a: DataFrame, b: DataFrame, valueCol: String,
      lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins > 0 && hi > lo)
    val w = (hi - lo) / bins
    def bucket(df: DataFrame, n: String) = df
      .withColumn("bucket",
        least(greatest(floor((col(valueCol) - lit(lo)) / lit(w)), lit(0.0)),
          lit((bins - 1).toDouble)).cast("int"))
      .groupBy("bucket").agg(count(lit(1)).as(n))
    val ca = bucket(a, "n_a")
    val cb = bucket(b, "n_b")
    val ta = a.count() // driver scalars, one long each
    val tb = b.count()
    val allBins = a.sparkSession.range(bins)
      .select(col("id").cast("int").as("bucket"))
    val joined = allBins
      .join(ca, Seq("bucket"), "left_outer")
      .join(cb, Seq("bucket"), "left_outer")
      .select(col("bucket"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    val p = (col("n_a") + lit(1L)).cast("double") / lit((ta + bins).toDouble)
    val q = (col("n_b") + lit(1L)).cast("double") / lit((tb + bins).toDouble)
    joined
      .withColumn("psi_micronat",
        floor((p - q) * log(p / q) * lit(1e6) + lit(0.5)).cast("long"))
      .select("bucket", "n_a", "n_b", "psi_micronat")
  }

  /** ANALYZE-style column profile: one row per column with row/null/
    * distinct counts and min/max (as strings, schema-stable across column
    * types). One aggregation pass (Spark plans the multi-distinct via
    * expand); output is columns-sized metadata. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty)
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"_n_$c"),
        countDistinct(col(c)).as(s"_d_$c"),
        min(col(c)).cast("string").as(s"_min_$c"),
        max(col(c)).cast("string").as(s"_max_$c"))
    }
    val total = count(lit(1)).as("_total")
    val row = df.agg(aggs.head, (aggs.tail :+ total): _*)
    val stacked = cols.map { c =>
      s"'$c', _total - `_n_$c`, `_d_$c`, `_min_$c`, `_max_$c`"
    }.mkString(", ")
    row.select(col("_total").as("n_rows"),
        expr(s"stack(${cols.size}, $stacked) AS (column_name, n_nulls, n_distinct, min_val, max_val)"))
      .select("column_name", "n_rows", "n_nulls", "n_distinct",
        "min_val", "max_val")
  }

  /** Exponentially time-decayed counts per group — the freshness/trending
    * score (each event contributes `exp(−Δt/τ)` at the corpus horizon):
    * the per-event weight quantizes to MICRO-units immediately after the
    * exp, so the per-group total is an associative long sum — engine- and
    * merge-order-exact where a raw double sum would drift. One partial-
    * aggregable pass; the horizon (max ts) is a single driver scalar. */
  def decayedCounts(events: DataFrame, tsCol: String, groupCol: String,
      tauSeconds: Long): DataFrame = {
    require(tauSeconds > 0)
    val secs = unix_timestamp(col(tsCol))
    val tMax = events.agg(max(secs)).head().getLong(0)
    events.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(exp((secs - lit(tMax)) / lit(tauSeconds.toDouble))
          * lit(1e6) + lit(0.5)).cast("long")).as("decayed_micro"))
  }

  /** EXACT per-group percentile cutoffs over an INTEGER value column,
    * without ever sorting a group or funneling it through one task — the
    * scale-safe replacement for `ntile`/per-group `sort` when the group
    * count is small but the groups are huge (per-language corpus slices at
    * 100 TB). Cutoff semantics: for fraction f over a group of n rows,
    * the smallest value v with `count(value ≤ v) ≥ ceil(n·f)` — a VALUE
    * threshold, so equal values never straddle a cut.
    *
    * Two bounded passes, both ending in metadata-sized collects:
    *  1. counts per (group, value div `bucketWidth`) — the collect is
    *     bounded by groups × value-RANGE/width, independent of row count;
    *     the driver walks each group's cumulative histogram to the bucket
    *     holding each target rank;
    *  2. counts per exact value, FILTERED to the boundary buckets only —
    *     at most `bucketWidth` distinct integers per target by
    *     construction; the driver walks to the exact cutoff.
    * All arithmetic is integer counts (plus one n·f double product both
    * engines round identically) — deterministic at any parallelism.
    * Output: (group, p, cutoff), one row per group × fraction. */
  def groupedExactPercentiles(df: DataFrame, groupCol: String,
      valueCol: String, fractions: Seq[Double],
      bucketWidth: Long = 10000L): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(f => f > 0 && f <= 1))
    require(bucketWidth > 0)
    // floor division valid for negative values too: (v - pmod(v, W)) / W
    def bucketOf(c: Column): Column =
      ((c - pmod(c, lit(bucketWidth))) / lit(bucketWidth)).cast("long")
    val base = df.select(col(groupCol).cast("string").as("_g"),
      col(valueCol).cast("long").as("_v"))
    val bucket = bucketOf(col("_v"))
    val coarse = base.groupBy(col("_g"), bucket.as("_b"))
      .agg(count(lit(1)).as("_c"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byGroup = coarse.groupBy(_._1).map { case (g, rows) =>
      g -> rows.map(t => (t._2, t._3)).sortBy(_._1)
    }
    // walk a sorted (key, count) histogram to rank k: the key holding the
    // k-th row plus the rank remaining within that key's rows
    def walk(hist: Seq[(Long, Long)], k: Long): (Long, Long) = {
      var cum = 0L
      hist.foreach { case (key, c) =>
        cum += c
        if (cum >= k) return (key, k - (cum - c))
      }
      throw new IllegalStateException(s"rank $k beyond histogram")
    }
    // (group, fraction) -> boundary bucket + rank remaining within it
    val targets = for {
      (g, hist) <- byGroup.toSeq
      n = hist.map(_._2).sum
      f <- fractions
    } yield {
      val k = math.ceil(n * f).toLong
      val (b, rem) = walk(hist, k)
      (g, f, b, rem)
    }
    val boundary = targets.map(t => (t._1, t._3)).toSet
    // no rows means no groups and no boundary: the fine pass selects nothing
    val fine = base
      .filter(boundary.map { case (g, b) =>
        col("_g") === lit(g) && bucket === lit(b)
      }.reduceOption(_ || _).getOrElse(lit(false)))
      .groupBy(col("_g"), col("_v")).agg(count(lit(1)).as("_c"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(t => (t._1, (t._2 - math.floorMod(t._2, bucketWidth)) / bucketWidth))
      .map { case (k, rows) => k -> rows.map(t => (t._2, t._3)).sortBy(_._1) }
    val cutoffs = targets.map { case (g, f, b, rem) =>
      (g, f, walk(fine((g, b)), rem)._1)
    }
    val spark = df.sparkSession
    import spark.implicits._
    cutoffs.toDF(groupCol, "p", "cutoff").orderBy(groupCol, "p")
  }

  /** Robust outlier census per group via MAD (median absolute deviation):
    * flag values with |x − median| > k·MAD — the robust cousin of the
    * z-test ([[anomalousDays]]) that a heavy-tailed value column needs
    * (mean and stddev are themselves dragged by the outliers; order
    * statistics are not). Both the median and the MAD are EXACT order
    * statistics from the two-pass bounded-histogram walk
    * ([[groupedExactPercentiles]] — driver state is (group × bucket)
    * counts, never data), cutoffs broadcast back, and the flag count is
    * one integer aggregate. Output: (group, median, mad, n_rows,
    * n_outliers). */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
      k: Int = 3, bucketWidth: Long = 100L): DataFrame = {
    // persisted: base feeds the median pass (two collects) AND the
    // deviation join — three upstream evaluations otherwise
    val base = df.select(col(groupCol).cast("string").as(groupCol),
      col(valueCol).cast("long").as("_v"))
      .transform(Caches.operatorPersist)
    val med = groupedExactPercentiles(base, groupCol, "_v", Seq(0.5),
        bucketWidth)
      .select(col(groupCol), col("cutoff").as("_med"))
    // the deviation frame feeds TWO consumers (the MAD percentile pass's
    // internal actions + the flag aggregate) — persist or the join and
    // upstream scan re-run per consumer
    val dev = base.join(broadcast(med), Seq(groupCol))
      .withColumn("_dev", abs(col("_v") - col("_med")))
      .transform(Caches.operatorPersist)
    val mad = groupedExactPercentiles(dev, groupCol, "_dev", Seq(0.5),
        bucketWidth)
      .select(col(groupCol), col("cutoff").as("_mad"))
    dev.join(broadcast(mad), Seq(groupCol))
      .groupBy(groupCol)
      .agg(min("_med").as("median"), min("_mad").as("mad"),
        count(lit(1)).as("n_rows"),
        sum(when(col("_dev") > lit(k.toLong) * col("_mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
  }

  /** Exact-integer Pearson correlation census per group: one partial-
    * aggregable pass collects the integer cross-moments (n, Σx, Σy, Σxy,
    * Σx², Σy²), then r² lands in ppm via the cross-multiplied identity
    * r² = (nΣxy − ΣxΣy)² / ((nΣx² − (Σx)²)(nΣy² − (Σy)²)) — DECIMAL(38,0)
    * products, integer division, sign reported separately — so no float
    * sum or sqrt ever runs and both engines agree bit-for-bit. Domain:
    * exact while (n·Σxy)²·10⁶ fits 38 digits — comfortably true for
    * quantized metrics at any per-group cardinality below ~10⁹ rows;
    * beyond that, shard groups or accept float moments. `defined` = 0
    * when either variance is zero (constant column). */
  def groupedCorr(df: DataFrame, groupCol: String, xCol: Column,
      yCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    df.select(col(groupCol), xCol.cast("long").as("_x"),
        yCol.cast("long").as("_y"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_rows"),
        sum("_x").as("_sx"), sum("_y").as("_sy"),
        sum(col("_x") * col("_y")).as("_sxy"),
        sum(col("_x") * col("_x")).as("_sxx"),
        sum(col("_y") * col("_y")).as("_syy"))
      .withColumn("_num",
        dec(col("n_rows")) * dec(col("_sxy")) - dec(col("_sx")) * dec(col("_sy")))
      .withColumn("_dx",
        dec(col("n_rows")) * dec(col("_sxx")) - dec(col("_sx")) * dec(col("_sx")))
      .withColumn("_dy",
        dec(col("n_rows")) * dec(col("_syy")) - dec(col("_sy")) * dec(col("_sy")))
      .select(col(groupCol), col("n_rows"),
        signum(col("_num")).cast("int").as("r_sign"),
        when(col("_dx") === 0 || col("_dy") === 0, lit(0L))
          .otherwise(expr("(_num * _num * 1000000) div (_dx * _dy)"))
          .as("r2_ppm"),
        (col("_dx") =!= 0 && col("_dy") =!= 0).cast("int").as("defined"))
  }

  /** Bounded-lag EWMA (alpha = 1/2) over each key's event series, in EXACT
    * integer arithmetic: values quantize to centi-units (the repo-wide
    * `round(v*100)` idiom), and the smoothed value is
    * sum_{k=0..lags} x_{t-k} * 2^(lags-k) — i.e. the EWMA scaled by
    * 2^lags*100, truncated at `lags` steps with zero-init. With alpha=1/2
    * every weight is an exact power of two, so the whole feature is
    * order-independent BIGINT math any engine reproduces bit-for-bit
    * (an unbounded float recurrence is neither — it is inherently
    * sequential AND rounding-order-dependent).
    *
    * Scale shape: one window per key (a single hash partition by keyCol,
    * sort within), no self-join — lag(k) terms all come from the same
    * sorted run. Truncation at 20 lags loses weight 2^-21 ≈ 5e-7 of the
    * signal — far below the centi-unit quantization floor. */
  def ewmaDecay(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valCol: String, lags: Int = 20): DataFrame = {
    require(lags >= 0 && lags <= 40, "lags must fit the exact-BIGINT budget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(tsCol, tieCol)
    val xq = round(col(valCol) * 100).cast("long")
    val terms = (0 to lags).map { k =>
      coalesce(lag(xq, k).over(w), lit(0L)) * lit(1L << (lags - k))
    }
    df.select(col(keyCol), col(tsCol), col(tieCol),
      terms.reduce(_ + _).as("ewma_scaled"))
  }

  /** k-anonymity census (Sweeney 2002) over a quasi-identifier column
    * set: group the table by the QI columns into equivalence classes,
    * then census the CLASS SIZES — for each size, how many classes and
    * rows sit at it, and whether that size is below the anonymity
    * threshold k (`at_risk`). Rows in classes of size 1 are uniquely
    * re-identifiable from the QIs alone; the census is the
    * release-readiness check a training-data pipeline runs before
    * publishing extracted records.
    *
    * Scale: two partial-aggregable shuffles — (QI cols) then
    * (class_size) — the same count-of-counts funnel as the vocabulary
    * coverage curve; nothing row-sized ever reaches the driver. */
  def kAnonymityCensus(df: DataFrame, qiCols: Seq[String], k: Int): DataFrame =
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"))
      .groupBy(col("class_size"))
      .agg(count(lit(1)).as("n_classes"), sum("class_size").as("n_rows"))
      .withColumn("at_risk",
        when(col("class_size") < k, 1).otherwise(0).cast("int"))

  /** Deduped (basket, item) pairs with baskets larger than
    * `maxBasketSize` removed — the Σ basket_size² contract both basket
    * miners rely on, enforced instead of assumed. One shuffle: the size
    * count is a window over the same `_b` hash partitioning the pair
    * self-join consumes next. */
  private def boundedBaskets(df: DataFrame, basketCol: String,
      itemCol: String, maxBasketSize: Int): DataFrame =
    df.select(col(basketCol).as("_b"), col(itemCol).as("_i"))
      .distinct()
      .withColumn("_bs", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("_b")))
      .filter(col("_bs") <= maxBasketSize)
      .drop("_bs")

  /** Market-basket pair affinity (the 2-itemset core of Agrawal-Srikant
    * association mining): support count and LIFT for every item pair
    * co-occurring in a basket at least `minSupport` times. Baskets
    * dedupe to (basket, item) once (persisted — three consumers), pairs
    * come from a basket-keyed self-join (work ~ Σ basket_size², bounded
    * by `maxBasketSize` — never |items|²), item counts broadcast back as
    * metadata, and lift lands in integer ppm via DECIMAL
    * cross-multiplication: lift = n_baskets·c(ab)/(c(a)·c(b)).
    * Output: (item_a, item_b, c_pair, lift_ppm), item_a < item_b.
    *
    * Degenerate-basket guard: one pathological basket of 10⁶ items is
    * 10¹² pairs — a single straggler task that stalls the whole stage.
    * Baskets larger than `maxBasketSize` are EXCLUDED OUTRIGHT (from
    * pairs, item counts, and the basket total — as if deleted from the
    * input, so the lift denominator stays consistent with the pairs it
    * normalizes). A bot cart above the cap is noise for affinity mining,
    * not signal; the size pass rides the same `_b` hash the self-join
    * shuffles on. */
  def basketPairAffinity(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long, maxBasketSize: Int = 10000): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val items = boundedBaskets(df, basketCol, itemCol, maxBasketSize)
      .transform(Caches.operatorPersist)
    val ic = items.groupBy(col("_i")).agg(count(lit(1)).as("c_item"))
    val nb = items.select("_b").distinct()
      .agg(count(lit(1)).as("n_baskets")).withColumn("_one", lit(1))
    val pairs = items.as("a").join(items.as("b"),
        col("a._b") === col("b._b") && col("a._i") < col("b._i"))
      .groupBy(col("a._i").as("item_a"), col("b._i").as("item_b"))
      .agg(count(lit(1)).as("c_pair"))
      .filter(col("c_pair") >= minSupport)
    pairs
      .join(broadcast(ic.select(col("_i").as("item_a"),
        col("c_item").as("_ca"))), Seq("item_a"))
      .join(broadcast(ic.select(col("_i").as("item_b"),
        col("c_item").as("_cb"))), Seq("item_b"))
      .withColumn("_one", lit(1))
      .join(broadcast(nb), Seq("_one"))
      .withColumn("_num",
        dec(col("c_pair")) * dec(col("n_baskets")) * dec(lit(1000000L)))
      .withColumn("_den", dec(col("_ca")) * dec(col("_cb")))
      // IntegralDivide (div) and DuckDB's // both TRUNCATE toward zero
      // (verified: DuckDB -7 // 2 = -3) — the parity contract holds for
      // signed numerators too. Decimal .divide would instead ROUND at
      // the result scale before any cast
      .select(col("item_a"), col("item_b"), col("c_pair"),
        expr("_num div _den").as("lift_ppm"))
  }

  /** Directed association rules from the basket pairs: confidence(a→b) =
    * c(ab)/c(a) in integer ppm, both directions per qualifying pair, with
    * a minimum-confidence prune — what a recommender/co-curation pipeline
    * actually consumes ([[basketPairAffinity]] reports the symmetric
    * support/lift evidence; rules rank actionable directions). Same scale
    * shape: the pair aggregate dominates, item counts ride broadcasts;
    * same degenerate-basket guard (see [[basketPairAffinity]]).
    * Output: (antecedent, consequent, c_pair, conf_ppm), one row per
    * direction that clears `minConfPpm`. */
  def basketRules(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long, minConfPpm: Long,
      maxBasketSize: Int = 10000): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val items = boundedBaskets(df, basketCol, itemCol, maxBasketSize)
      .transform(Caches.operatorPersist)
    val ic = items.groupBy(col("_i")).agg(count(lit(1)).as("c_item"))
    val pairs = items.as("a").join(items.as("b"),
        col("a._b") === col("b._b") && col("a._i") < col("b._i"))
      .groupBy(col("a._i").as("ia"), col("b._i").as("ib"))
      .agg(count(lit(1)).as("c_pair"))
      .filter(col("c_pair") >= minSupport)
    val directed = pairs.select(col("ia").as("antecedent"),
        col("ib").as("consequent"), col("c_pair"))
      .unionByName(pairs.select(col("ib").as("antecedent"),
        col("ia").as("consequent"), col("c_pair")))
    directed
      .join(broadcast(ic.select(col("_i").as("antecedent"),
        col("c_item").as("_ca"))), Seq("antecedent"))
      .withColumn("conf_ppm",
        expr("CAST(c_pair AS DECIMAL(38,0)) * 1000000 div _ca"))
      .filter(col("conf_ppm") >= minConfPpm)
      .select("antecedent", "consequent", "c_pair", "conf_ppm")
  }

  /** l-diversity census (Machanavajjhala et al. 2006) — the companion
    * check [[kAnonymityCensus]] needs: a class can be large (k-anonymous)
    * yet still leak if everyone in it shares the same SENSITIVE value.
    * Per QI equivalence class, count rows and distinct sensitive values;
    * census classes by that diversity with the `< l` at-risk flag. Two
    * partial-aggregable shuffles (count-distinct expands to the
    * (qi, sensitive) pairs once); all-integer output. */
  def lDiversityCensus(df: DataFrame, qiCols: Seq[String],
      sensitiveCol: String, l: Int): DataFrame =
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"),
        countDistinct(col(sensitiveCol)).as("n_sensitive"))
      .groupBy(col("n_sensitive"))
      .agg(count(lit(1)).as("n_classes"), sum("class_size").as("n_rows"))
      .withColumn("at_risk",
        when(col("n_sensitive") < l, 1).otherwise(0).cast("int"))

  /** Right-to-be-forgotten erasure audit — the governance op that closes
    * the k-anonymity / l-diversity family: given an erasure list (subject
    * ids from deletion requests — REQUEST-sized, broadcast, never the
    * corpus), report per day how many rows the erasure removes vs keeps
    * and how many listed subjects were actually touched that day. The
    * deletion itself is the same broadcast-hash probe with the filter
    * inverted ([[erase]]); the audit is what compliance files. One
    * partial-aggregable shuffle over the flagged frame; at 100 TB the
    * erasure list rides the broadcast and the event log never self-joins.
    * Distinct-touched-users is exact (the per-day distinct expansion is
    * bounded by the erasure list size × days). */
  def erasureAudit(events: DataFrame, tsCol: String, userCol: String,
      erasureList: DataFrame): DataFrame = {
    val users = erasureList.select(col(erasureList.columns.head).as("_eu"))
      .distinct()
    events
      .join(broadcast(users), col(userCol) === col("_eu"), "left")
      .select(to_date(col(tsCol)).cast("string").as("day"),
        col("_eu").isNotNull.as("_hit"),
        when(col("_eu").isNotNull, col(userCol)).as("_hit_user"))
      .groupBy("day")
      .agg(sum(when(!col("_hit"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("_hit"), 1L).otherwise(0L)).as("n_removed"),
        countDistinct(col("_hit_user")).as("n_users_erased"))
  }

  /** The erasure itself: drop every row of a listed subject — a broadcast
    * LEFT ANTI join (the list is request-sized; the corpus never
    * shuffles). */
  def erase(df: DataFrame, userCol: String, erasureList: DataFrame): DataFrame = {
    val users = erasureList.select(col(erasureList.columns.head).as("_eu"))
      .distinct()
    df.join(broadcast(users), col(userCol) === col("_eu"), "left_anti")
  }

  /** Ingest freshness census — the first page of an extraction runbook:
    * per group, the last event's epoch-millis and its staleness (whole
    * seconds behind the NEWEST event anywhere in the table). Two
    * partial-aggregable max passes; the global max is ONE row broadcast
    * back onto the group maxes (the documented bounded-cross-product
    * pattern — the constant key folds away in the optimized plan). A
    * stalled source shows as monotonically growing staleness while other
    * groups stay near zero. */
  def freshness(events: DataFrame, tsCol: String, groupCol: String): DataFrame = {
    val perGroup = events.groupBy(groupCol)
      .agg(max(unix_micros(col(tsCol))).as("_last_us"))
    val global = events.agg(max(unix_micros(col(tsCol))).as("_global_us"))
    perGroup.crossJoin(broadcast(global))
      .select(col(groupCol),
        expr("_last_us div 1000").as("last_event_millis"),
        expr("(_global_us - _last_us) div 1000000").as("staleness_seconds"))
  }

  /** Secular volume trend per group — the drift-family member the others
    * miss: [[anomalousDays]] flags single days, `cusumChangepoint` level
    * SHIFTS, [[dowSeasonal]] weekly cycles, [[burstiness]] dispersion;
    * this is the least-squares SLOPE of daily counts over the epoch-day
    * index — sustained growth/decay in events/day/day, the capacity-
    * planning number. Exact integer cross-moment identity scaled by 1e6
    * (slope_micro = slope × 1e6, truncating division), one daily-count
    * shuffle + a per-group moments aggregate — metadata-sized. Days with
    * zero events are missing partitions, not zero measurements (the
    * [[anomalousDays]] contract): the fit runs over observed days. */
  def dailyTrend(events: DataFrame, tsCol: String, groupCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val daily = events
      .groupBy(expr(s"unix_date(to_date($tsCol))").cast("long").as("_d"),
        col(groupCol))
      .agg(count(lit(1)).as("_n"))
    daily.groupBy(groupCol)
      .agg(count(lit(1)).as("n_days"),
        sum(col("_n")).as("n_events"),
        sum(col("_d")).as("_sx"),
        sum(col("_n")).as("_sy"),
        sum(col("_d") * col("_n")).as("_sxy"),
        sum(col("_d") * col("_d")).as("_sxx"))
      .withColumn("slope_micro",
        when(dec(col("n_days")) * dec(col("_sxx")) -
            dec(col("_sx")) * dec(col("_sx")) === 0, lit(0L))
          .otherwise(expr(
            """(CAST(n_days AS DECIMAL(38,0)) * _sxy
              | - CAST(_sx AS DECIMAL(38,0)) * _sy) * 1000000
              | div (CAST(n_days AS DECIMAL(38,0)) * _sxx
              |      - CAST(_sx AS DECIMAL(38,0)) * _sx)"""
              .stripMargin.replace("\n", " "))))
      .select(col(groupCol), col("n_days"), col("n_events"),
        col("slope_micro"))
  }

  /** Day-of-week seasonal residuals — the anomaly signal [[anomalousDays]]
    * misses: weekly-periodic volume (weekend dips, Monday spikes) inflates
    * the global variance, hiding genuine drifts. Baseline = the group's
    * mean daily count PER WEEKDAY SLOT; each day's residual is its count
    * vs that slot baseline in exact cross-multiplied ppm
    * (`n·n_slot_days·1e6 div slot_sum − 1e6`), flagged beyond
    * ±`thresholdPpm`. The weekday slot is epoch-day mod 7 (slot 0 =
    * Thursday) — pure integer arithmetic, immune to engine calendar /
    * locale differences. Two metadata-sized shuffles (daily counts, then
    * slot moments joined back via broadcast); days with zero events for a
    * group are missing partitions, not zero measurements (same contract
    * as [[anomalousDays]]). */
  def dowSeasonal(events: DataFrame, tsCol: String, groupCol: String,
      thresholdPpm: Long = 500000L): DataFrame = {
    val daily = events
      .groupBy(to_date(col(tsCol)).as("_d"), col(groupCol))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("dow_slot", expr("unix_date(_d) % 7").cast("int"))
    val slots = daily.groupBy(col(groupCol), col("dow_slot"))
      .agg(count(lit(1)).as("n_slot_days"),
        sum(col("n_events")).as("slot_sum"))
    daily.join(broadcast(slots), Seq(groupCol, "dow_slot"))
      .withColumn("resid_ppm", expr(
        """CAST(n_events AS DECIMAL(38,0)) * n_slot_days * 1000000
          | div slot_sum - 1000000""".stripMargin.replace("\n", " ")))
      .select(col(groupCol), col("_d").cast("string").as("day"),
        col("dow_slot"), col("n_events"), col("n_slot_days"),
        col("slot_sum"), col("resid_ppm"),
        (abs(col("resid_ppm")) > thresholdPpm).cast("int")
          .as("seasonal_anomaly"))
  }

  /** ε-differentially-private count release (Dwork et al.'s Laplace
    * mechanism over a unit-sensitivity histogram): per-group counts plus
    * Laplace(1/ε) noise, so a published corpus-composition dashboard
    * bounds what any single record reveals. The noise is SEEDED AND
    * DETERMINISTIC — drawn by inverse-CDF from the 32-bit md5 slice of
    * (seed, group key), the engine's portable hash — which is what makes
    * the release reproducible across reruns AND lets the DuckDB oracle
    * verify it bit-exactly; a production deployment that needs
    * non-reproducible draws swaps the seed per release, nothing else.
    * u is centered to (−1/2, 1/2) (the +0.5 offset keeps it off both
    * endpoints, so the log never sees 0) and the noised count is
    * released in exact micro-units. One partial-aggregable count
    * shuffle; the noise is a narrow post-aggregation expression. */
  def dpNoisyCounts(df: DataFrame, groupCols: Seq[String],
      epsilonPpm: Long, seed: String): DataFrame = {
    require(epsilonPpm > 0, s"epsilonPpm must be positive: $epsilonPpm")
    val b = 1e6 / epsilonPpm // Laplace scale 1/ε
    val key = concat_ws("|",
      lit("dp") +: lit(seed) +: groupCols.map(c => col(c).cast("string")): _*)
    val h = conv(substring(md5(key), 25, 8), 16, 10).cast("long")
    val centered = (h.cast("double") + 0.5) / 4294967296.0 - 0.5
    val noise = signum(centered) * lit(-b) *
      log(lit(1.0) - lit(2.0) * abs(centered))
    df.groupBy(groupCols.map(col): _*).agg(count(lit(1)).as("_n"))
      .select(groupCols.map(col) ++ Seq(
        (col("_n") * 1000000L +
          floor(noise * 1e6 + 0.5).cast("long")).as("noisy_count_micro"),
        lit(epsilonPpm).as("epsilon_ppm")): _*)
  }
}
