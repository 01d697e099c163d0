package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines.
  *
  * A 100 TB corpus is mixed, not dumped: each source/language stratum
  * contributes at a configured rate ("mixing weights"). The selection here
  * is a pure hash of the record key — a narrow map with no RNG state, no
  * shuffle, no driver coordination:
  *
  *  - retry-safe and incremental: a task retry or a later re-run over the
  *    same rows keeps exactly the same sample (Bernoulli RNG sampling does
  *    not survive either);
  *  - auditable: membership is recomputable from the key by any engine
  *    (the md5-slice is plain SQL, so the correctness gate verifies the
  *    exact sample, not just its size);
  *  - composable: raising a stratum's rate keeps the previous sample as a
  *    subset (hash thresholds nest), which is how mixing weights are tuned
  *    without resampling the world.
  */
object Sampling {

  /** Uniform 32-bit slice of md5(key) — hex chars 25..32, the same slice
    * [[graft.operators.Partitioners.hashWeightedAssign]] uses. */
  def hashSlice32(key: Column): Column =
    conv(substring(md5(key.cast("string")), 25, 8), 16, 10).cast("long")

  /** Keep-predicate: hash(key) < rate * 2^32, per-stratum rates with a
    * default. Rates are fractions in [0, 1]. */
  def stratifiedKeep(key: Column, stratum: Column,
      rates: Map[String, Double], defaultRate: Double): Column = {
    def threshold(r: Double): Long = math.round(r * 4294967296.0)
    val thresholdCol = rates.foldLeft(lit(threshold(defaultRate))) {
      case (acc, (s, r)) => when(stratum === lit(s), lit(threshold(r))).otherwise(acc)
    }
    hashSlice32(key) < thresholdCol
  }

  /** Stratified deterministic sample of `df`. */
  def stratifiedSample(df: DataFrame, keyCol: String, strataCol: String,
      rates: Map[String, Double], defaultRate: Double): DataFrame =
    df.filter(stratifiedKeep(col(keyCol), col(strataCol), rates, defaultRate))

  /** Temporal train/test split with an EMBARGO gap (the time-series
    * leakage guard: a model trained up to t₁ must not be evaluated on
    * rows whose features could overlap the training horizon, so rows in
    * [t₁, t₂) are excluded entirely — standard practice in financial ML
    * and forecast eval, the temporal sibling of the cluster-keyed
    * `split_leakage_safe`). Cutoffs are derived from the OBSERVED range
    * in exact epoch-micros integer arithmetic: t₁ = lo + span·trainPm/1000,
    * t₂ = lo + span·(trainPm+embargoPm)/1000 — deterministic, no config
    * drift between engines. The 1-row bounds aggregate broadcasts; the
    * assignment is a narrow map; output is the per-(group, split) census
    * with the split's observed micros range, so the gap is AUDITABLE:
    * max(train.last_us) < min(test.first_us) with >= embargo span
    * between. */
  def temporalEmbargoSplit(df: DataFrame, tsCol: String, groupCol: String,
      trainPermille: Int = 700, embargoPermille: Int = 50): DataFrame = {
    require(trainPermille > 0 && embargoPermille >= 0 &&
      trainPermille + embargoPermille < 1000, "permilles must partition")
    val bounds = df.agg(min(unix_micros(col(tsCol))).as("_lo"),
      max(unix_micros(col(tsCol))).as("_hi")).withColumn("_one", lit(1))
    df.select(col(groupCol), unix_micros(col(tsCol)).as("_us"))
      .withColumn("_one", lit(1))
      .join(broadcast(bounds), Seq("_one"))
      .withColumn("_t1", expr(
        s"_lo + ((_hi - _lo) * $trainPermille) div 1000"))
      .withColumn("_t2", expr(
        s"_lo + ((_hi - _lo) * ${trainPermille + embargoPermille}) div 1000"))
      .withColumn("split",
        when(col("_us") < col("_t1"), "train")
          .when(col("_us") < col("_t2"), "embargo")
          .otherwise("test"))
      .groupBy(col(groupCol), col("split"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("_us")).as("first_us"), max(col("_us")).as("last_us"))
  }

  /** Deterministic weighted split assignment (train/val/test and friends):
    * the md5-slice of the key lands uniformly in [0, 2^32) and cumulative
    * weight thresholds partition that range. Pure hash — retry-safe,
    * auditable, stable under re-runs AND under incremental appends (a
    * record's split can never change when new data arrives, which is what
    * keeps eval sets uncontaminated across corpus versions), and
    * SQL-recomputable so the gate verifies exact membership. Weights are
    * normalized; the last split takes the hash-range remainder. */
  def splitAssign(key: Column, splits: Seq[(String, Double)]): Column = {
    require(splits.nonEmpty && splits.forall(_._2 > 0),
      "splits must be non-empty with positive weights")
    val total = splits.map(_._2).sum
    val cum = splits.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }.tail
    val h = hashSlice32(key)
    splits.zip(cum).dropRight(1).foldRight(lit(splits.last._1): Column) {
      case (((name, _), c), acc) =>
        when(h < lit(math.round(c * 4294967296.0)), lit(name)).otherwise(acc)
    }
  }

  /** Exact thresholds [[splitAssign]] uses, for oracle rendering. */
  def splitThresholds(splits: Seq[(String, Double)]): Seq[(String, Long)] = {
    val total = splits.map(_._2).sum
    val cum = splits.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }.tail
    splits.zip(cum).map { case ((n, _), c) => n -> math.round(c * 4294967296.0) }
  }

  /** Per-stratum keep-rates that rebalance a corpus to a target mixture.
    * Given observed stratum counts and target weights (normalized over the
    * weighted strata), the largest achievable rebalanced corpus keeps every
    * stratum at rate <= 1: its size is `n = min_s(count_s / weight_s)` and
    * stratum s keeps `weight_s * n / count_s` of its rows. All double
    * arithmetic is written in a fixed order so an oracle recomputing from
    * the same counts reproduces the rates bit-for-bit. */
  def mixtureRates(counts: Map[String, Long],
      weights: Map[String, Double]): Map[String, Double] = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      "weights must be non-empty and positive")
    val total = weights.values.sum
    val present = weights.collect {
      case (s, w) if counts.getOrElse(s, 0L) > 0 => (s, w / total, counts(s))
    }.toSeq
    require(present.nonEmpty, "no weighted stratum present in the data")
    val n = present.map { case (_, w, c) => c.toDouble / w }.min
    present.map { case (s, w, c) =>
      s -> math.min(1.0, w * n / c.toDouble)
    }.toMap
  }

  /** Rebalance `df` to the target stratum mixture — the domain-mixing step
    * of corpus curation (e.g. web 50% / code 25% / books 25% regardless of
    * raw crawl proportions). One metadata-sized aggregate (a row per
    * stratum) crosses to the driver to derive the rates; the selection
    * itself is the same pure-hash narrow map as [[stratifiedSample]], so
    * membership is deterministic, retry-safe, and exactly recomputable by
    * the oracle. Strata without a weight are dropped (rate 0). */
  def rebalanceMixture(df: DataFrame, keyCol: String, stratumCol: String,
      weights: Map[String, Double]): DataFrame = {
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("_c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rates = mixtureRates(counts, weights)
    df.filter(stratifiedKeep(col(keyCol), col(stratumCol), rates,
      defaultRate = 0.0))
  }

  /** Exact-k deterministic "reservoir" per stratum: the k records with the
    * smallest hash priority in each stratum (key as tie-break). Same
    * membership as a sequential reservoir under priority sampling, but
    * order-independent and retry-safe — the classic distributed replacement
    * (bottom-k by uniform hash).
    *
    * Two-stage plan, safe for a JUMBO stratum (e.g. one language = half a
    * 100 TB corpus): a PARTIAL bounded-heap pass keeps k rows per stratum
    * per input partition with no exchange (map-side, memory O(k×strata)),
    * then the FINAL clustered pass ranks only the k×numPartitions
    * survivors per stratum. No window partitioned by stratum ever runs, so
    * no stratum's full row set flows through a single task — the shuffle
    * carries samples, not the corpus. Output (membership AND rank) is
    * bit-identical to the one-pass window formulation. */
  def reservoirPerKey(df: DataFrame, keyCol: String, strataCol: String,
      k: Int): DataFrame = {
    val withPrio = df.withColumn("_sample_prio", hashSlice32(col(keyCol)))
    val order = Seq("_sample_prio" -> true, keyCol -> true)
    val pruned = graft.plans.TopKPerKey.perKeyPartial(
      withPrio, Seq(strataCol), order, k)
    graft.plans.TopKPerKey.perKey(pruned, Seq(strataCol), order, k,
        rankName = "sample_rank")
      .drop("_sample_prio")
  }

  /** Per-stratum keep-rates for TEMPERATURE-scaled mixture sampling — the
    * multi-domain rebalance used by multilingual / multi-source training
    * runs (target share ∝ p^T with T<1 flattening the head so low-resource
    * strata survive). Rates are the largest achievable subsample with every
    * stratum at rate <= 1, i.e. [[mixtureRates]] with weight_s = p_s^T —
    * but computed WITHOUT normalizing the weights: rates are scale-invariant
    * in exact arithmetic, and skipping the normalization sum removes the
    * one operation whose float result depends on stratum iteration order.
    * Every remaining op (sqrt/divide/multiply/min) is IEEE correctly
    * rounded, so an oracle recomputing from the same counts in another
    * engine reproduces the thresholds bit-for-bit. T = 0.5 is computed as
    * `sqrt` (correctly rounded) — `pow(x, 0.5)` is exp/log-based in both
    * JVM and C++ and NOT guaranteed to equal sqrt in the last ulp. */
  def temperatureRates(counts: Map[String, Long],
      temperature: Double): Map[String, Double] = {
    require(counts.nonEmpty && counts.forall(_._2 > 0),
      "temperatureRates needs non-empty positive stratum counts")
    val total = counts.values.sum // integer sum — exact, order-free
    def powT(x: Double): Double =
      if (temperature == 0.5) math.sqrt(x) else math.pow(x, temperature)
    val scaled = counts.map { case (s, c) => s -> powT(c.toDouble / total) }
    val n = scaled.map { case (s, w) => counts(s).toDouble / w }.min
    scaled.map { case (s, w) =>
      s -> math.min(1.0, w * n / counts(s).toDouble)
    }
  }

  /** Temperature-scaled mixture sample of `df` (see [[temperatureRates]]).
    * One metadata-sized aggregate (a row per stratum) reaches the driver;
    * the selection is the same pure-hash narrow map as
    * [[stratifiedSample]] — no shuffle of data rows, retry-safe, and the
    * exact membership is SQL-recomputable by the gate oracle. */
  def temperatureSample(df: DataFrame, keyCol: String, stratumCol: String,
      temperature: Double): DataFrame = {
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("_c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rates = temperatureRates(counts, temperature)
    df.filter(stratifiedKeep(col(keyCol), col(stratumCol), rates,
      defaultRate = 0.0))
  }

  /** Score-proportional sampling: keep a row iff hash(key) < rate * 2^32
    * where `rateCol` is a per-ROW keep-probability in [0, 1] (e.g. a
    * quality score — higher-quality documents survive at a higher rate,
    * the quality-weighted curation step). Unlike [[stratifiedSample]] the
    * rate varies per row, so the threshold is computed inline:
    * floor(rate * 2^32 + 0.5), the same rounding [[stratifiedKeep]] bakes
    * into its literals. Pure narrow map — no shuffle, no RNG state,
    * membership exactly recomputable from (key, rate) by any engine. */
  def weightedSample(df: DataFrame, keyCol: String, rateCol: Column): DataFrame =
    df.filter(hashSlice32(col(keyCol)) <
      floor(rateCol * lit(4294967296.0) + lit(0.5)).cast("long"))

  /** Best-first selection under a global token budget: keep the
    * highest-`scoreCol` rows whose running `tokensCol` total — over the
    * total order (score DESC, key ASC) — stays within `budget`. The "take
    * the best N tokens" curation step when the training run has a fixed
    * token count.
    *
    * The running total over a global order is computed WITHOUT a global
    * window (the same discipline as `Scan.withPageNumberScalable`):
    *   1. bucket rows by `buckets` approx-quantile bounds of scoreCol (one
    *      sampled stats pass; bounds are a driver-side double array);
    *   2. sum tokens per bucket (a `buckets`-row aggregate) and fold the
    *      higher-score buckets' totals into literal offsets;
    *   3. running-sum within each bucket (Window PARTITIONED by bucket —
    *      fully parallel) plus the bucket's offset.
    * Equivalence to the one-pass global-window form is exact: buckets
    * partition score RANGES, so every row of a higher-score bucket precedes
    * every row of a lower one in the total order, and ties cannot straddle
    * a boundary (bucketing compares values, not positions). Token sums are
    * integer arithmetic — no float drift. At 100 TB: nothing serializes
    * through one task; the largest window group is corpus/buckets, tuned by
    * `buckets` (thousands on a real cluster). */
  def budgetTrim(df: DataFrame, keyCol: String, scoreCol: String,
      tokensCol: String, budget: Long, buckets: Int = 32,
      out: String = "cum_tokens"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val bounds = df.stat.approxQuantile(scoreCol, probs, 0.001).distinct.sorted
    val bucketExpr = bounds
      .map(b => when(col(scoreCol) > lit(b), 1).otherwise(0): Column)
      .reduceOption(_ + _).getOrElse(lit(0))
    val withB = df.withColumn("_bkt", bucketExpr)
    // per-bucket token totals are metadata-sized (`buckets` longs)
    val sums = withB.groupBy("_bkt")
      .agg(sum(col(tokensCol).cast("long")).as("_t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // consumption runs score-DESC: offsets(b) = total tokens in buckets > b
    val maxB = bounds.length
    val offsets = (maxB to 0 by -1).scanLeft(0L) { (acc, b) =>
      acc + sums.getOrElse(b, 0L)
    }.dropRight(1).reverse
    val offExpr = element_at(array(offsets.map(lit): _*), col("_bkt") + lit(1))
    val w = Window.partitionBy(col("_bkt"))
      .orderBy(col(scoreCol).desc, col(keyCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withB.withColumn(out, sum(col(tokensCol).cast("long")).over(w) + offExpr)
      .filter(col(out) <= lit(budget))
      .drop("_bkt")
  }

  /** [[budgetTrim]] with a PER-STRATUM budget — the mixture builder's
    * actual contract ("2B tokens of en, 500M of code, …"): within each
    * stratum, keep the best-scoring rows whose running token total stays
    * inside that stratum's budget. Same windowless discipline: one global
    * approx-quantile pass fixes score-range buckets (a range partition is
    * valid per stratum too — every row of a higher bucket outranks every
    * row of a lower one within any stratum); per-(stratum, bucket) token
    * sums collect as metadata (strata × buckets longs); the running sum is
    * a window partitioned by (stratum, bucket) — fully parallel — plus the
    * stratum's bucket offset from a broadcast table. Integer token sums
    * keep the per-stratum global-window equivalence exact. */
  def budgetTrimPerStratum(df: DataFrame, keyCol: String, scoreCol: String,
      tokensCol: String, stratumCol: String, budgets: Map[String, Long],
      defaultBudget: Long, buckets: Int = 32,
      out: String = "cum_tokens"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val bounds = df.stat.approxQuantile(scoreCol, probs, 0.001).distinct.sorted
    val bucketExpr = bounds
      .map(b => when(col(scoreCol) > lit(b), 1).otherwise(0): Column)
      .reduceOption(_ + _).getOrElse(lit(0))
    val withB = df.withColumn("_bkt", bucketExpr)
    val sums = withB.groupBy(col(stratumCol).cast("string").as("_s"), col("_bkt"))
      .agg(sum(col(tokensCol).cast("long")).as("_t"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val maxB = bounds.length
    val offRows = sums.keys.map(_._1).toSeq.distinct.sorted.flatMap { s =>
      val offs = (maxB to 0 by -1).scanLeft(0L) { (acc, b) =>
        acc + sums.getOrElse((s, b), 0L)
      }.dropRight(1).reverse
      (0 to maxB).map(b => (s, b, offs(b)))
    }
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = broadcast(offRows.toDF("_s", "_bkt", "_off"))
    val budgetExpr = budgets.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultBudget): Column) { case (acc, (s, b)) =>
        when(col(stratumCol) === lit(s), lit(b)).otherwise(acc)
      }
    val w = Window.partitionBy(col(stratumCol), col("_bkt"))
      .orderBy(col(scoreCol).desc, col(keyCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withB.join(offDf,
        withB(stratumCol).cast("string") === offDf("_s")
          && withB("_bkt") === offDf("_bkt"))
      .drop(offDf("_bkt")).drop(offDf("_s"))
      .withColumn(out,
        sum(col(tokensCol).cast("long")).over(w) + col("_off"))
      .filter(col(out) <= budgetExpr)
      .drop("_bkt", "_off")
  }

  /** Inverse-CDF thresholds for a DETERMINISTIC Poisson(1) draw from the
    * uniform 32-bit hash: weight w is the smallest k with
    * `hash < floor(P(X ≤ k)·2³²+0.5)` (capped at 6 — P(X>6) ≈ 8·10⁻⁵).
    * Long literals, so the draw is an integer comparison chain both
    * engines evaluate identically. */
  private[graft] val PoissonThresholds: Seq[Long] = {
    val e1 = math.exp(-1.0)
    val cdf = Iterator.iterate((e1, e1, 0)) { case (p, c, k) =>
      val p2 = p / (k + 1); (p2, c + p2, k + 1)
    }.take(7).map(_._2).toSeq
    cdf.map(c => math.round(math.min(1.0, c) * 4294967296.0))
  }

  /** Poisson bootstrap (Chamandy et al. 2012 — the resampling scheme that
    * works in one distributed pass): each (row, replicate) gets an
    * integer weight drawn Poisson(1) from the row's hash, so every
    * bootstrap replicate is a WEIGHTED aggregate over the same single
    * scan — no resampled copies, no per-replicate passes. Output: one row
    * per replicate with the weighted doc count and weighted token total;
    * the spread across replicates IS the bootstrap standard error of the
    * corpus statistic. Deterministic: the draw is a pure hash function of
    * (key, replicate), so re-runs and engines agree bit-for-bit. The
    * explode is ×R on narrow (replicate, weight, tokens) rows and partial
    * aggregation collapses to R rows per partition before the shuffle. */
  def bootstrapStats(df: DataFrame, keyCol: String, tokensCol: String,
      replicates: Int): DataFrame = {
    require(replicates > 0)
    val h = hashSlice32(concat(col(keyCol).cast("string"), lit("#boot"),
      col("_rep").cast("string")))
    val w = PoissonThresholds.zipWithIndex.reverse
      .foldLeft(lit(7L): Column) { case (acc, (th, k)) =>
        when(h < lit(th), lit(k.toLong)).otherwise(acc)
      }
    df.select(col(keyCol), col(tokensCol),
        explode(sequence(lit(1), lit(replicates))).as("_rep"))
      .select(col("_rep").as("replicate"),
        w.as("_w"), col(tokensCol).as("_t"))
      .groupBy(col("replicate"))
      .agg(sum(col("_w")).as("boot_docs"),
        sum(col("_w") * col("_t").cast("long")).as("boot_tokens"))
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * arXiv:2302.03169): score every RAW document by how much more likely
    * its hashed-n-gram features are under a TARGET corpus (the
    * high-quality distribution you want more of) than under the raw
    * corpus itself, `log w(x) = Σ_features [ln p_target(b) − ln p_raw(b)]`
    * over unigram + bigram features hashed into `dim` buckets (the
    * paper's §3 bag-of-hashed-n-grams model; add-one-smoothed bucket
    * frequencies). Both distributions are FIXED-SIZE integer histograms —
    * `dim` rows regardless of corpus size — which is the whole trick:
    * fitting the "LM" is two partial-aggregable counts, scoring is a
    * broadcast join against a kilobyte table.
    *
    * Integer-exactness discipline (the [[TextAnalysis.perplexity]]
    * pattern): each bucket's two log-probabilities quantize to MICRONAT
    * longs immediately after the `ln`, the per-bucket weight is their
    * integer difference, and a document's log-weight is an associative
    * integer sum of bucket weights — merge-order independent,
    * engine-comparable. `selected` marks the above-corpus-mean documents
    * (a deterministic stand-in for the paper's Gumbel resampling draw):
    * the mean test is exact cross-multiplication `lw × n_docs ≥ Σ lw` in
    * DECIMAL(38,0) — no floor-division sign traps, no doubles.
    *
    * Plan shape at 100 TB: token/bigram explode (narrow map), two
    * groupBy-bucket counts (partial aggregation collapses each partition
    * to ≤ dim rows before the shuffle), a `dim`-row weight table built
    * with two metadata joins and BROADCAST to score (justified: its size
    * is the configured `dim`, independent of data volume), one uniform
    * per-doc aggregate. The only driver-side values are the two feature
    * totals and the two-scalar mean fold — metadata, never data. */
  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, dim: Int): DataFrame = {
    require(dim > 0, "dim must be positive")
    // unigram + bigram feature stream: one (id, bucket) row per occurrence
    def features(df: DataFrame): DataFrame = {
      val withT = df.select(col(idCol), split(col(textCol), " ").as("_toks"))
      val bigrams = when(size(col("_toks")) >= 2,
          transform(sequence(lit(1), size(col("_toks")) - 1),
            i => concat_ws(" ", element_at(col("_toks"), i),
              element_at(col("_toks"), i + 1))))
        .otherwise(array().cast("array<string>"))
      withT.select(col(idCol),
          explode(concat(col("_toks"), bigrams)).as("_f"))
        .select(col(idCol),
          (hashSlice32(col("_f")) % dim).cast("int").as("_b"))
    }
    val rawF = features(raw)
    val tgtC = features(target).groupBy(col("_b")).agg(count(lit(1)).as("ct"))
    val rawC = rawF.groupBy(col("_b")).agg(count(lit(1)).as("cr"))
    val totals = tgtC.agg(sum(col("ct")).as("tt"))
      .crossJoin(rawC.agg(sum(col("cr")).as("rt")))
    // dim-row weight table: micronat-quantize EACH ln, then integer-subtract.
    // PERSISTED: building it costs a full histogram pass over both corpora,
    // and without the pin each downstream action (the mean fold, the final
    // output) would re-run those scans to rebuild 64 rows
    val spark = raw.sparkSession
    val weights = spark.range(dim).select(col("id").cast("int").as("_b"))
      .join(tgtC, Seq("_b"), "left")
      .join(rawC, Seq("_b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("_b"),
        (floor(log((coalesce(col("ct"), lit(0L)) + 1).cast("double")
            / (col("tt") + dim)) * 1e6 + 0.5).cast("long")
          - floor(log((coalesce(col("cr"), lit(0L)) + 1).cast("double")
            / (col("rt") + dim)) * 1e6 + 0.5).cast("long")).as("w_micronat"))
      .transform(Caches.operatorPersist)
    // per-doc score table — three longs per doc, spillable; persisted so
    // the mean fold and the returned frame share ONE scoring pass
    val perDoc = rawF.join(broadcast(weights), Seq("_b"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_features"),
        sum(col("w_micronat")).as("logweight_micronats"))
      .transform(Caches.operatorPersist)
    // corpus mean as exact cross-multiplication: lw * n_docs >= sum(lw)
    val row = perDoc.agg(
      sum(col("logweight_micronats").cast("decimal(38,0)")).as("s"),
      count(lit(1)).as("d")).head()
    val (s, d) = (row.getDecimal(0), row.getLong(1))
    perDoc.withColumn("selected",
      col("logweight_micronats").cast("decimal(38,0)") * lit(d)
        >= lit(if (s == null) java.math.BigDecimal.ZERO else s))
  }

  /** Fractional epoch expansion: materialize each stratum `epochs(s)` times
    * per training run — the multi-epoch up-/down-sampling step (e.g.
    * Wikipedia x2.5, CommonCrawl x0.8) that turns per-source repeat
    * factors into physical rows with an `epoch` index. The integer part
    * replicates every row; the fractional part keeps a deterministic hash
    * slice of rows for one extra epoch (the SAME rows every run and under
    * appends — hash membership, not rng). epochs < 1 degrade to plain
    * hash downsampling; rows with zero copies are dropped. A narrow map +
    * explode — no shuffle at all; the epoch column is what downstream
    * shufflers key on so repeats of a row land in different batches. */
  def epochExpand(df: DataFrame, keyCol: String, stratumCol: String,
      epochs: Map[String, Double], defaultEpochs: Double = 1.0): DataFrame = {
    require((epochs.values ++ Seq(defaultEpochs)).forall(_ >= 0),
      "epoch factors must be >= 0")
    def full(e: Double): Long = math.floor(e).toLong
    def thr(e: Double): Long = math.round((e - math.floor(e)) * 4294967296.0)
    val fullCol = epochs.foldLeft(lit(full(defaultEpochs))) {
      case (acc, (s, e)) => when(col(stratumCol) === lit(s), lit(full(e))).otherwise(acc)
    }
    val thrCol = epochs.foldLeft(lit(thr(defaultEpochs))) {
      case (acc, (s, e)) => when(col(stratumCol) === lit(s), lit(thr(e))).otherwise(acc)
    }
    val extra = (hashSlice32(concat(col(keyCol).cast("string"), lit("#ep")))
      < thrCol).cast("long")
    df.withColumn("_copies", fullCol + extra)
      .filter(col("_copies") >= 1)
      .withColumn("epoch", explode(sequence(lit(1L), col("_copies"), lit(1L))))
      .drop("_copies")
  }

  /** Effective-sample-size diagnostics (Kish 1965) for weighted sampling
    * designs: per group, ESS = (Σw)²/Σw² — reported as `ess_ppm` =
    * ESS/n in ppm, where 1e6 means uniform weights (every row carries
    * equal mass) and small values mean a few heavy rows dominate (the
    * resampled set behaves like far fewer examples than it has — the
    * pre-flight read before trusting DSIR/temperature weights). One
    * partial-aggregable pass over integer weights; exact HUGEINT/DECIMAL
    * arithmetic both engines. Zero-mass groups report 0.
    *
    * The squared-weight moment accumulates in DECIMAL(38,0), not LONG —
    * w ~ 1e6 over ~1e9 rows exceeds Long.Max, and a silent wrap would
    * corrupt ess_ppm exactly in the heavy-tailed regime the diagnostic
    * exists to flag (the DuckDB oracle sums in HUGEINT). The sum_w /
    * sum_w2 REPORT columns stay BIGINT for schema parity; past Long.Max
    * they go NULL (visible) where the old form wrapped (invisible) and
    * the oracle's BIGINT cast errors. */
  /** UniMax per-language budget allocation (Chung et al. 2023, "UniMax:
    * Fairer and More Effective Language Sampling for Large-Scale
    * Multilingual Pretraining"): given a total token budget and a max
    * epoch cap, languages are visited SMALLEST-FIRST and each receives
    * `min(its corpus size × maxEpochs, remaining ÷ languages-left)` —
    * the water-filling that gives every language its fair share unless
    * the epoch cap binds first, with capped languages' unused share
    * flowing to larger ones. All arithmetic is INTEGER (floor division
    * on non-negative longs), so the allocation is engine-exact;
    * `epochs_micro` = 10⁶·budget/corpus reports the resulting per-lang
    * epoch count (BigInt intermediate — 10⁶×a 100 TB budget overflows
    * long).
    *
    * Scale shape: ONE corpus pass (lang-keyed token-count aggregate,
    * partial map-side combine); the water-filling itself runs on the
    * driver over |languages| rows — bounded model metadata, the
    * ivfModel/vocab discipline. Output: (lang, n_tokens, budget_tokens,
    * epochs_micro), one row per language. */
  def unimaxBudgets(df: DataFrame, langCol: String, textCol: String,
      totalBudget: Long, maxEpochs: Int): DataFrame = {
    require(totalBudget >= 0 && maxEpochs >= 1,
      "totalBudget >= 0, maxEpochs >= 1")
    val spark = df.sparkSession
    val counts = df.groupBy(col(langCol))
      .agg(sum(graft.functions.TextAnalysis.tokenCountWs(col(textCol))
        .cast("long")).as("n_tokens"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (l, c) => (c, l) }
    var rem = totalBudget
    var left = counts.length
    val rows = counts.map { case (l, c) =>
      val fair = rem / math.max(left, 1)
      val b = math.min(math.multiplyExact(c, maxEpochs.toLong), fair)
      rem -= b
      left -= 1
      val epochsMicro =
        if (c == 0) 0L else (BigInt(1000000) * b / c).toLong
      (l, c, b, epochsMicro)
    }
    import spark.implicits._
    rows.toSeq.toDF(langCol, "n_tokens", "budget_tokens", "epochs_micro")
  }

  def essReport(df: DataFrame, groupCol: String, weight: Column): DataFrame =
    df.select(col(groupCol), weight.cast("long").cast("decimal(38,0)").as("_w"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"), sum(col("_w")).as("_sw"),
        sum(col("_w") * col("_w")).as("_sw2"))
      .withColumn("ess_ppm",
        when(col("_sw2") === 0, lit(0L))
          .otherwise(expr(
            "_sw * _sw * 1000000 div (CAST(n AS DECIMAL(38,0)) * _sw2)")))
      .select(col(groupCol), col("n"), col("_sw").cast("long").as("sum_w"),
        col("_sw2").cast("long").as("sum_w2"), col("ess_ppm"))
}
