package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Linear text-classifier INFERENCE at corpus scale — the fastText-style
  * quality/topic filter (Joulin et al. 2016; the model family behind
  * CCNet/LLaMA-style "keep what looks like Wikipedia" filtering and
  * FineWeb-style quality scoring). Training happens offline on a sample;
  * what a 100 TB pipeline runs is the INFERENCE pass, and that is what
  * this implements: score = Σ_features w(bucket(feature)) + bias over
  * hashed unigram+bigram features (the hashing trick — no vocabulary to
  * ship, the model IS the weight function).
  *
  * Weights here are derived deterministically from the bucket id by the
  * engine-wide md5-slice hash ([[Sampling.hashSlice32]]), standing in for
  * trained coefficients: `w(b) = (h("qw42#" + b) mod 2001) − 1000`
  * micronats. A real deployment substitutes its trained table via
  * `weightExpr`; everything else — featurization, fold, decision — is the
  * production path, and the hash-derived default keeps the gate's oracle
  * able to recompute every weight independently.
  *
  * Scale shape: a PURE NARROW MAP fused into the parquet scan — tokens,
  * bigrams, buckets, weights, and the integer score fold are all array
  * expressions on the row; no explode, no join, no shuffle, no state.
  * This is the cheapest possible plan for per-document model inference,
  * and it composes with any downstream filter (`accept`) as an ordinary
  * pushable predicate. Integer micronat weights make the per-doc sum an
  * associative long fold — engine-exact.
  */
object Classifier {

  /** Hash bucket of a feature string: uniform 32-bit md5 slice mod dim. */
  def bucket(f: Column, dim: Int): Column =
    (Sampling.hashSlice32(f) % dim).cast("int")

  /** Default deterministic stand-in weight table: pure function of the
    * bucket id, micronat-integer in [-1000, 1000]. */
  def hashWeight(b: Column): Column =
    Sampling.hashSlice32(concat(lit("qw42#"), b.cast("string"))) % 2001L - 1000L

  /** Unigram + bigram feature array of a text column — pure expression,
    * inlinable into any narrow select. */
  def featuresExpr(toks: Column): Column = {
    val bigrams = when(size(toks) >= 2,
        transform(sequence(lit(1), size(toks) - 1),
          i => concat_ws(" ", element_at(toks, i),
            element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
    concat(toks, bigrams)
  }

  /** The default weight table as a stable reference — [[linearScore]]
    * branches on it to pick the fused native scorer; a custom trained
    * table takes the pluggable HOF path. */
  val DefaultWeight: Column => Column = hashWeight

  /** The linear score as a single column expression over a feature array —
    * composable into filter chains without a separate pass. Pluggable
    * weight tables only; the default-table hot path is [[scoreTokens]]. */
  def scoreExpr(features: Column, dim: Int,
      weightExpr: Column => Column = DefaultWeight): Column =
    aggregate(transform(features, f => weightExpr(bucket(f, dim))),
      lit(0L), (acc, w) => acc + w)

  /** Fused native score over the TOKEN array with the default weight
    * table — one JIT-compiled pass, no feature-array materialization
    * ([[graft.plans.LinearScore]]; bit-exact to
    * `scoreExpr(featuresExpr(toks), dim)`, parity pinned in
    * ClassifierSpec). */
  def scoreTokens(toks: Column, dim: Int): Column =
    graft.plans.LinearScore(toks, dim)

  /** Per-document linear score over hashed unigram+bigram features.
    * Output: (id, n_features, score_micronats, accept = score ≥ 0). */
  def linearScore(df: DataFrame, idCol: String, textCol: String,
      dim: Int, weightExpr: Column => Column = DefaultWeight,
      keep: Seq[String] = Nil): DataFrame = {
    require(dim > 0, "dim must be positive")
    val keepCols = keep.map(col)
    val withT = df.select(col(idCol) +: split(col(textCol), " ").as("_toks")
      +: keepCols: _*)
    // n_features without materializing the feature array: n unigrams +
    // (n − 1) bigrams when n >= 2
    val nFeat = when(size(col("_toks")) >= 2,
      size(col("_toks")) * 2 - 1).otherwise(size(col("_toks")))
    val score =
      if (weightExpr eq DefaultWeight) scoreTokens(col("_toks"), dim)
      else scoreExpr(featuresExpr(col("_toks")), dim, weightExpr)
    withT.select(col(idCol) +:
        nFeat.cast("long").as("n_features") +:
        score.as("score_micronats") +:
        keepCols: _*)
      .withColumn("accept", col("score_micronats") >= 0L)
  }

  /** Distributed TRAINING of the linear quality filter — the half the
    * reference pipelines do offline on a sample and this engine can run
    * on the full corpus: full-batch gradient descent on logistic loss
    * over the SAME hashed unigram+bigram features [[linearScore]]
    * scores with, so the trained table plugs straight into
    * `linearScore(..., weightExpr = trained)`. Engine-exact at any
    * parallelism by the quantize-then-sum discipline:
    *
    *   margin_i = bias + Σ_b w[b]·x_i[b]          (exact long fold)
    *   p_i      = floor(1e6·σ(margin_i/1e6)+0.5)  (the ONLY double op,
    *              quantized per doc BEFORE any aggregation)
    *   resid_i  = p_i − y_i·1e6                   (ppm units)
    *   grad[b]  = Σ_i resid_i·x_i[b]              (exact long sum)
    *   Δw[b]    = sgn(grad)·((lrNum·|grad|) div (lrDen·n))
    *              (toward-zero division over non-negative operands —
    *              the engine-parity form, Spark div == DuckDB //)
    *
    * Weights live in integer micronats on the DRIVER between iterations
    * (dim+1 longs — bounded model metadata, the IVF-centroid pattern)
    * and re-enter each pass as a BROADCAST dim-row (bucket, weight)
    * join — exactness unchanged (the same long weights), but unlike the
    * round-12 dim-literal `element_at(array(...))` lookup the plan stays
    * a BroadcastHashJoin at production hashing-trick dims (2^18+), where
    * a million-literal expression tree would break whole-stage codegen's
    * 64KB method limit and bloat every task's serialized plan. Per
    * iteration the distributed work is two partial-aggregable shuffles
    * over the persisted (doc, bucket, cnt) frame — margin by doc,
    * gradient by bucket — and one dim-sized collect; the residual frame
    * is PERSISTED per iteration so the margin shuffle and sigmoid pass
    * run once, not once per downstream action (the bucket gradients and
    * the bias gradient both read it). Label is any boolean column
    * expression (weak labels: lang flags, source flags, heuristic
    * rules — the CCNet/fastText setup).
    *
    * Returns (bucket, weight_micronats): rows 0..dim−1 plus the bias as
    * bucket −1. */
  def train(df: DataFrame, idCol: String, textCol: String, label: Column,
      dim: Int = 64, iters: Int = 3, lrNum: Long = 1L,
      lrDen: Long = 4L): DataFrame = {
    require(dim > 0 && iters >= 1 && lrNum > 0 && lrDen > 0,
      "dim, iters, lr must be positive")
    val spark = df.sparkSession
    // ONE exchange, BEFORE the featurize (round 18, guide §2.4 — share
    // one exchange across same-keyed operations — refining round 17's
    // post-featurize repartitions). The raw (doc, label, text) rows are
    // hash(_d)-partitioned FIRST, so (a) the expensive unigram+bigram
    // Generate runs at full shuffle width instead of on the scan's
    // splits (the sf testdata is a single parquet row group — the
    // featurize serialized on ONE task, measured 2.0 s of the train
    // wall), and (b) every derived frame inherits hash(_d): docs is a
    // narrow projection, and feat's groupBy(_d,_y,_b) is satisfied by
    // the _d-partitioning (subset rule) so it aggregates IN PLACE and
    // keeps the partitioning. Round 17's shape paid three exchanges for
    // the same layout (docs repartition + feat's groupBy exchange + feat
    // repartition) and featurized on the scan. The loop below is
    // unchanged: margin groupBy, docs-margins join and feat-resid
    // gradient join all reuse the one cached hashpartitioning(_d).
    // explicit width (the session's shuffle parallelism): an AQE-coalesced
    // keyless width could differ between the two caches and silently
    // reinsert the join exchanges this exists to remove
    val nP = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    // every cache dies with the call: the weights return as driver rows
    Caches.scoped { scope =>
    // persist barrier before the Generate (the cdc_chunks discipline)
    val withFs = scope.persist(df
      .select(col(idCol).as("_d"), label.cast("boolean").as("_y"),
        col(textCol).as("_t"))
      .repartition(nP, col("_d"))
      .select(col("_d"), col("_y"),
        featuresExpr(split(col("_t"), " ")).as("_fs")))
    val docs = scope.persist(withFs.select("_d", "_y"))
    val feat = scope.persist(withFs
      .select(col("_d"), col("_y"), explode(col("_fs")).as("_f"))
      .select(col("_d"), col("_y"), bucket(col("_f"), dim).as("_b"))
      .groupBy(col("_d"), col("_y"), col("_b"))
      .agg(count(lit(1)).as("_cnt")))
    val nDocs = docs.count()
    require(nDocs > 0, "train: empty corpus")
    import spark.implicits._
    val w = Array.fill(dim)(0L)
    var bias = 0L
    for (_ <- 1 to iters) {
      val margins = marginsOf(feat, w)
      val resid = scope.persist(docs
        .join(margins.hint("shuffle_hash"), Seq("_d"), "left")
        .select(col("_d"),
          (floor(lit(1e6) /
              (lit(1.0) + exp((lit(0L) - (lit(bias) +
                coalesce(col("_fs"), lit(0L)))).cast("double") / lit(1e6)))
            + lit(0.5)).cast("long")
            - when(col("_y"), 1000000L).otherwise(0L)).as("_r")))
      // bucket gradients AND the bias gradient in ONE collect (round
      // 17): the bias rides the same job as a bucket-(-1) row instead
      // of a second driver action — both branches read the persisted
      // residual, so the former two jobs per iteration become one
      val grads = feat
        .join(resid.hint("shuffle_hash"), Seq("_d"))
        .groupBy(col("_b")).agg(sum(col("_r") * col("_cnt")).as("_g"))
        .unionAll(resid.agg(sum(col("_r")).as("_g"))
          .select(lit(-1).as("_b"), col("_g")))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val biasGrad = grads(-1)
      scope.release(resid)
      def delta(g: Long): Long = {
        val mag = (BigInt(g).abs * lrNum) / (BigInt(lrDen) * nDocs)
        (if (g < 0) -mag else mag).toLong
      }
      (0 until dim).foreach(b => w(b) -= delta(grads.getOrElse(b, 0L)))
      bias -= delta(biasGrad)
    }
    ((-1, bias) +: (0 until dim).map(b => (b, w(b))))
      .toDF("bucket", "weight_micronats")
    }
  }

  /** One training iteration's per-doc margin frame: driver-held weights
    * re-enter as a BROADCAST dim-row (bucket, weight) table — every feat
    * bucket is in [0, dim), so the inner join drops nothing and the plan
    * is a BroadcastHashJoin at ANY dim (the large-dim seat ClassifierSpec
    * pins at 4096; a dim-literal array lookup would break codegen's 64KB
    * method limit at hashing-trick dims). Exposed for that plan pin. */
  private[graft] def marginsOf(feat: DataFrame, w: Array[Long]): DataFrame = {
    val spark = feat.sparkSession
    import spark.implicits._
    val wdf = broadcast(w.indices.map(b => (b, w(b))).toDF("_b", "_w"))
    feat.join(wdf, Seq("_b"))
      .groupBy(col("_d")).agg(sum(col("_cnt") * col("_w")).as("_fs"))
  }

  /** Inference with a TRAINED weight TABLE (the [[train]] output, or any
    * landed (bucket, weight_micronats) frame with the bias at bucket −1)
    * — the join-based seat that stays planable at hashing-trick dims
    * where a literal-array `weightExpr` cannot: features explode, bucket,
    * and BROADCAST-join the dim-row table; the per-doc fold is a
    * map-side-partial long sum (rows for a doc are scan-contiguous, so
    * the exchange carries ~one row per doc); the single bias row rides a
    * broadcast crossJoin. Same output surface as [[linearScore]]. */
  def linearScoreWith(df: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, dim: Int): DataFrame = {
    require(dim > 0, "dim must be positive")
    val wdf = broadcast(weights.filter(col("bucket") >= 0)
      .select(col("bucket").cast("int").as("_b"),
        col("weight_micronats").as("_w")))
    // the bias as a 1-row AGGREGATE, not a filter: an aggregate over an
    // empty frame still yields one row, so a table landed WITHOUT the
    // bucket=-1 row scores with bias 0 (documented hashing-trick
    // semantics) instead of crossJoining an empty frame and silently
    // wiping every output row
    val bias = broadcast(weights.agg(coalesce(
      sum(when(col("bucket") === -1, col("weight_micronats"))),
      lit(0L)).as("_bias")))
    // persist barrier before the Generate (the cdc_chunks discipline:
    // keeps the split() out of the feature lambdas under projection
    // collapse — no CSE in interpreted HOFs)
    val withFs = Caches.operatorPersist(df.select(col(idCol),
      featuresExpr(split(col(textCol), " ")).as("_fs")))
    val summed = withFs.select(col(idCol), explode(col("_fs")).as("_f"))
      .select(col(idCol), bucket(col("_f"), dim).as("_b"))
      // LEFT join: a SPARSE landed table (only non-zero weights) means
      // weight 0 for the missing buckets — n_features must still count
      // every feature, not just the landed ones
      .join(wdf, Seq("_b"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_features"),
        sum(coalesce(col("_w"), lit(0L))).as("_s"))
    // LEFT join back from the INPUT ids: a NULL-text document yields a
    // null feature array, so explode dropped its rows above — but
    // [[linearScore]] (and the gate's DuckDB oracle, a LEFT JOIN from
    // docs) emits a row for EVERY document. Such a document has zero
    // features and scores at the bare bias (the same
    // perplexityKneserNeyApplyModel pattern). The exchange carries one
    // row per doc either way; AQE broadcasts `summed` when it is small.
    withFs.select(col(idCol))
      .join(summed, Seq(idCol), "left")
      .crossJoin(bias)
      .select(col(idCol),
        coalesce(col("n_features"), lit(0L)).as("n_features"),
        (coalesce(col("_s"), lit(0L)) + col("_bias")).as("score_micronats"))
      .withColumn("accept", col("score_micronats") >= 0L)
  }

  /** Precision/recall sweep of a scored corpus against a (weak) boolean
    * label, at a fixed list of micronat thresholds — the calibration table
    * a pipeline reads before picking its filter cutoff. Engine shape: the
    * scored frame (narrow, from [[linearScore]]) cross-joins a BROADCAST
    * |thresholds|-row table; partial aggregation collapses each partition
    * to |thresholds| count rows before the only shuffle — output and
    * exchange are both metadata-sized regardless of corpus size.
    * Precision/recall are single divisions of exact long counts (0-denominator
    * guarded to NULL) — engine-exact. */
  def prCurve(scored: DataFrame, scoreCol: String, labelCol: String,
      thresholds: Seq[Long]): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val spark = scored.sparkSession
    import spark.implicits._
    val th = broadcast(thresholds.toDF("threshold"))
    scored.select(col(scoreCol).as("_s"), col(labelCol).as("_y"))
      .crossJoin(th)
      .groupBy(col("threshold"))
      .agg(
        sum(when(col("_s") >= col("threshold") && col("_y"), 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("_s") >= col("threshold") && !col("_y"), 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("_s") < col("threshold") && col("_y"), 1L)
          .otherwise(0L)).as("fn"),
        sum(when(col("_s") < col("threshold") && !col("_y"), 1L)
          .otherwise(0L)).as("tn"))
      .withColumn("precision",
        when(col("tp") + col("fp") > 0,
          col("tp").cast("double") / (col("tp") + col("fp"))))
      .withColumn("recall",
        when(col("tp") + col("fn") > 0,
          col("tp").cast("double") / (col("tp") + col("fn"))))
  }

  /** Reliability-diagram bins — the calibration census next to
    * [[prCurve]]: scores bucketed into fixed-width bins (shifted by `lo`
    * so the truncating division is over non-negative values and both
    * engines bin identically), each bin reporting support, positives, the
    * exact positive-rate in ppm, and the exact score sum (the mean is
    * sum/n at display time — kept as integers for engine parity). A
    * well-calibrated scorer shows pos_rate rising monotonically with the
    * bin. One partial-aggregable shuffle keyed by ≤ (hi−lo)/width bins —
    * metadata-sized. */
  def calibrationBins(scored: DataFrame, scoreCol: String, labelCol: String,
      binWidth: Long = 200000L, lo: Long = -1000000L): DataFrame = {
    require(binWidth >= 1, "binWidth must be positive")
    scored
      .select(col(scoreCol).as("_s"), col(labelCol).as("_y"))
      .withColumn("bin", expr(s"(_s - ${lo}L) div ${binWidth}L"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col("_y"), 1L).otherwise(0L)).as("n_pos"),
        sum(col("_s")).as("sum_score"))
      .withColumn("pos_rate_ppm",
        expr("CAST(n_pos AS DECIMAL(38,0)) * 1000000 div n"))
  }
}
