package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  *  - Brute-force cosine top-k: one narrow map (dot product as a
  *    `zip_with`/`aggregate` expression, codegen'd) + TakeOrderedAndProject.
  *    At 100 TB this is a full scan but zero shuffle: each task computes its
  *    partition's local top-k and only k rows per task reach the driver.
  *  - LSH-bucketed ANN (random hyperplanes): bucket = sign-bit string of
  *    projections onto fixed pseudo-random planes. Search touches only the
  *    query's bucket (partition-prunable if the table is written
  *    partitionBy(bucket)); near-dup joins become bucket-equi-joins instead
  *    of O(n²).
  *
  * All arithmetic is double, sequential left-to-right (Spark `aggregate`
  * folds in array order) — deterministic across runs and engines.
  */
object Similarity {

  /** Sequential-order dot product of two numeric-array columns, in double.
    * Native expression ([[graft.plans.VecDot]]) — bit-identical to the
    * `aggregate(zip_with(...))` composition it replaces, minus the
    * per-element lambda interpretation and intermediate array. */
  def dot(a: Column, b: Column): Column = graft.plans.VecDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Top-k rows by cosine similarity to a constant query vector. */
  def bruteForceTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], k: Int): DataFrame = {
    val q = array(query.map(v => lit(v)): _*)
    df.select(col(idCol), cosine(col(vecCol), q).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009): fuse any
    * number of rankers' top-K lists by summing 1/(k0 + rank) per document
    * — the standard hybrid-retrieval combiner (sparse BM25 + dense
    * cosine), robust to incomparable score scales because only RANKS
    * enter the fusion. Integer-exact: the contribution is
    * scale div (k0 + rank), so the fused score is a BIGINT any SQL
    * engine reproduces.
    *
    * Scale: each input is already a top-K shortlist (lists x K rows
    * total), so the union/aggregate/final rank all run over a bounded
    * pool — the corpus-sized work happened inside the upstream rankers.
    * Every ranking must carry `idCol` and a 1-based `rankCol`.
    * Output: (idCol, rrf_score_ppm, n_lists, rank), top `topK` by
    * (fused score DESC, id ASC). */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, rankCol: String,
      k0: Int = 60, topK: Int = 10, scale: Long = 1000000L): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val u = rankings
      .map(_.select(col(idCol), expr(
        s"CAST($scale AS BIGINT) div (CAST($k0 AS BIGINT) + CAST($rankCol AS BIGINT))")
        .as("_c")))
      .reduce(_ unionByName _)
    val f = u.groupBy(col(idCol))
      .agg(sum("_c").as("rrf_score_ppm"), count(lit(1)).as("n_lists"))
    // single-task window over the shortlist-sized fused pool — by design
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rrf_score_ppm").desc, col(idCol))
    f.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
  }

  /** Deterministic pseudo-random hyperplanes: nPlanes x dim, components in
    * [-1, 1), from a fixed LCG — plan literals, identical across runs. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 7L): Seq[Seq[Double]] = {
    var s = seed
    def next(): Double = {
      s = s * 6364136223846793005L + 1442695040888963407L
      ((s >>> 33).toDouble % 2048.0) / 1024.0 - 1.0
    }
    Seq.fill(nPlanes)(Seq.fill(dim)(next()))
  }

  /** LSH bucket id: one bit per hyperplane (sign of the projection). */
  def lshBucket(vecCol: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      val planeArr = array(p.map(lit): _*)
      when(dot(vecCol, planeArr) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** ANN top-k: restrict to the query's LSH bucket, then exact cosine rank.
    * `planes` must be shared between indexing and query time. */
  def annTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], k: Int, nPlanes: Int = 8): DataFrame = {
    val dim = query.size
    val planes = hyperplanes(nPlanes, dim)
    val qBucket = planes.zipWithIndex.map { case (p, j) =>
      val d = p.zip(query).map { case (pv, qv) => pv * qv }.sum
      if (d >= 0) 1L << j else 0L
    }.reduce(_ | _)
    val q = array(query.map(v => lit(v)): _*)
    df.withColumn("bucket", lshBucket(col(vecCol), planes))
      .filter(col("bucket") === lit(qBucket))
      .select(col(idCol), cosine(col(vecCol), q).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Symmetric int8 quantization of an embedding: q[i] =
    * floor(v[i] * 127 / max|v| + 0.5), stored with its scale so dot
    * products are recoverable. 4x smaller vectors — at 100 TB the
    * difference between an in-memory ANN working set and one that spills.
    * floor(x + 0.5) instead of round(): every engine computes floor
    * identically, while round() half-cases differ across engines.
    * maxAbs == 0 (zero vector) quantizes to all zeros with scale 0. */
  def quantizeInt8(vec: Column): Column = graft.plans.QuantizeInt8(vec)

  /** Driver-side quantization of a CONSTANT query vector — same arithmetic
    * as [[quantizeInt8]], done once in Scala and shipped as plan literals,
    * so the query side costs nothing per data row. */
  def quantizeInt8Const(v: Seq[Float]): Column = {
    val maxAbs = if (v.isEmpty) 0.0 else v.map(x => math.abs(x.toDouble)).max
    val scale = if (maxAbs > 0) 127.0 / maxAbs else 0.0
    val q = v.map(x => math.floor(x.toDouble * scale + 0.5).toByte)
    struct(array(q.map(b => lit(b)): _*).as("q"), lit(scale).as("scale"))
  }

  /** Dot product of two [[quantizeInt8]] vectors, rescaled to the original
    * space: integer multiply-accumulate (the cheap part) divided by the two
    * scales. Exact integer arithmetic inside — engine-independent. */
  def dotQuantized(a: Column, b: Column): Column = {
    val intDot = graft.plans.VecDot(a.getField("q"), b.getField("q"))
    when(a.getField("scale") > 0.0 && b.getField("scale") > 0.0,
      intDot / (a.getField("scale") * b.getField("scale")))
      .otherwise(lit(0.0))
  }

  /** Maximal-marginal-relevance selection (Carbonell & Goldstein, SIGIR
    * 1998) — the diverse-exemplar curation step: greedily pick k items
    * maximizing `rel(x) − λ · max_{s∈selected} cos(s, x)`, so each pick is
    * relevant to the query but far from everything already chosen (few-shot
    * exemplar sets, eval-suite dedup, diverse seed corpora).
    *
    * MMR is inherently sequential in k — but k is model-sized (tens), and
    * the loop runs over a BOUNDED candidate pool, never the raw corpus:
    * one distributed pass computes `rel` and a TakeOrdered keeps the top
    * `pool` (default 100·k) by (rel DESC, id ASC) — the standard
    * MMR-over-retrieval contract (Carbonell & Goldstein apply MMR to "the
    * retrieved set", not the collection). Each greedy round is then an
    * argmax + a narrow `greatest(ms, cos(v, picked))` rewrite over the
    * pool-sized checkpoint — at 100 TB the corpus is touched exactly once
    * (the rel scan); everything after is O(pool·k) work on ~1000 rows. The
    * driver sees one (id, vector) row per round (the IVF-centroid metadata
    * contract).
    *
    * Engine-exact vs the oracle: every cosine is the same sequential
    * [[dot]] fold both engines compute bit-identically (the ann gate
    * family's contract), λ=0.5 is exactly representable, and ties break by
    * (score DESC, id ASC). `ms` starts at 0 (empty-set diversity term).
    * Output: (rank, id, rel, maxsim, score) per selected item. */
  def mmrSelect(df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], k: Int, lambda: Double = 0.5,
      pool: Int = 0): DataFrame = {
    require(k >= 1)
    val spark = df.sparkSession
    import spark.implicits._
    Caches.scoped { cp =>
    val q = array(query.map(v => lit(v)): _*)
    val poolC = if (pool > 0) pool else 100 * k
    // one corpus pass: rel scan + TakeOrdered down to the pool. From here
    // on every frame is pool-sized — the greedy loop never re-touches the
    // input. Checkpoint per round: each round's collect() re-evaluates
    // the frame, so an unmaterialized chain would recompute every prior
    // round's cosines (O(k²) dots); checkpointing keeps it O(k), and each
    // checkpoint is pool-sized, not corpus-sized.
    var cand = cp.checkpoint(
      df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
        .withColumn("rel", cosine(col("v"), q))
        .orderBy(col("rel").desc, col("id"))
        .limit(poolC)
        .withColumn("ms", lit(0.0)))
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double, Double, Double)]
    var round = 1
    var exhausted = false
    while (round <= k && !exhausted) {
      val top = cand
        .withColumn("score", col("rel") - lit(lambda) * col("ms"))
        .orderBy(col("score").desc, col("id"))
        .limit(1)
        .select("id", "rel", "ms", "score", "v").collect()
      if (top.isEmpty) exhausted = true
      else {
        val r = top(0)
        picks += ((round, r.getLong(0), r.getDouble(1), r.getDouble(2),
          r.getDouble(3)))
        val pv = array(r.getSeq[Float](4).map(v => lit(v)): _*)
        cand = cp.checkpoint(cand.filter(col("id") =!= lit(r.getLong(0)))
          .withColumn("ms", greatest(col("ms"), cosine(col("v"), pv))))
        round += 1
      }
    }
    picks.toSeq.toDF("rank", "vec_id", "rel", "maxsim", "score")
    }
  }

  /** DuckDB SQL replicating [[mmrSelect]] with the rounds unrolled —
    * `candCte` must yield (vec_id, v, rel) and must ALREADY be bounded to
    * the same candidate pool the engine keeps (`ORDER BY rel DESC, vec_id
    * LIMIT pool` — bit-exact on both sides because rel is the same
    * sequential fold); λ and k are inlined. Same generated-oracle pattern
    * as [[graft.functions.Bpe.learnOracleSql]]. */
  def mmrOracleSql(candCte: String, k: Int, lambda: Double): String = {
    def cosSql(a: String, b: String): String = {
      def d(x: String, y: String) =
        s"list_reduce(list_transform(generate_series(1, len($x)), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)), (x,y) -> x+y)"
      s"${d(a, b)} / (sqrt(${d(a, a)}) * sqrt(${d(b, b)}))"
    }
    val lam = lambda.toString
    val c0 =
      s"""c0 AS MATERIALIZED (
         |  SELECT vec_id, v, rel, CAST(0 AS DOUBLE) AS ms FROM $candCte)""".stripMargin
    val rounds = (1 to k).map { i =>
      val prev = s"c${i - 1}"
      s"""s$i AS MATERIALIZED (
         |  SELECT vec_id, v, rel, ms, rel - $lam * ms AS score FROM $prev
         |  ORDER BY score DESC, vec_id LIMIT 1),
         |c$i AS MATERIALIZED (
         |  SELECT c.vec_id, c.v, c.rel,
         |         greatest(c.ms, ${cosSql("c.v", "s.v")}) AS ms
         |  FROM $prev c, s$i s WHERE c.vec_id <> s.vec_id)""".stripMargin
    }.mkString(",\n")
    val out = (1 to k).map { i =>
      s"SELECT CAST($i AS INT) AS rank, vec_id, rel, ms AS maxsim, score FROM s$i"
    }.mkString("\nUNION ALL ")
    s"$c0,\n$rounds\n$out\nORDER BY rank"
  }

  /** Embedding near-dup pairs: bucket-equi-join then exact cosine filter.
    * Only same-bucket pairs are materialized (the LSH blocks the O(n²)). */
  def cosineNearDupPairs(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, nPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    // norms are computed once per vector BEFORE the bucket join — inside the
    // join each pair costs one dot product, not three
    val bucketed = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("bucket", lshBucket(col("v"), planes))
      .withColumn("nrm", norm(col("v")))
    val a = bucketed.select(col("bucket"), col("id").as("id_a"),
      col("v").as("v_a"), col("nrm").as("nrm_a"))
    val b = bucketed.select(col("bucket"), col("id").as("id_b"),
      col("v").as("v_b"), col("nrm").as("nrm_b"))
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
      .distinct()
  }

  /** Semantic near-dup pairs, SemDeDup-style (Abbas et al. 2023): block the
    * O(n²) cosine comparison by the IVF coarse-quantizer cell — two
    * embeddings are compared only when k-means assigns them the same cell.
    * This is the published trade: near-identical embeddings land in the
    * same cell with overwhelming probability, and the per-cell quadratic is
    * bounded because the quantizer balances cells where random hyperplanes
    * cannot (grow k with the corpus: cells of ~10^5 vectors keep the
    * within-cell join tractable at 10^9+ vectors). The shuffle is keyed by
    * cell id; norms are computed once per vector before the join, so each
    * candidate pair costs exactly one dot product. */
  def semanticPairs(df: DataFrame, vecCol: String, idCol: String,
      model: IVF.Model, threshold: Double): DataFrame = {
    // persisted: both sides of the within-cell self-join read this frame,
    // and without caching the scan + k-centroid assignment runs twice
    val celled = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("_cell", IVF.assign(col("v"), model))
      .withColumn("_nrm", norm(col("v")))
      .transform(Caches.operatorPersist)
    val a = celled.select(col("_cell"), col("id").as("id_a"),
      col("v").as("v_a"), col("_nrm").as("nrm_a"))
    val b = celled.select(col("_cell"), col("id").as("id_b"),
      col("v").as("v_b"), col("_nrm").as("nrm_b"))
    a.join(b, Seq("_cell")).filter(col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** SemDeDup's published survivor policy: within each semantic near-dup
    * cluster keep the member CLOSEST to its k-means centroid (the most
    * prototypical example; Abbas et al. keep low-distance points and drop
    * the redundant shell). Composes [[semanticDedup]]'s clusters with
    * [[IVF.outlierScores]]'s distances through one `min_by` aggregate —
    * ordering by (dist2, id) is engine-exact because both engines compute
    * dist2 identically (pinned by the embedding_outliers gate). One row
    * per cluster: (cluster_id, keep_id, n_members). */
  def semanticKeepCentral(df: DataFrame, vecCol: String, idCol: String,
      model: IVF.Model, threshold: Double): DataFrame = {
    val clusters = semanticDedup(df, vecCol, idCol, model, threshold)
      .select(col(idCol), col("cluster_id"))
    val scored = IVF.outlierScores(df, vecCol, idCol, model)
      .select(col(idCol), col("dist2"))
    clusters.join(scored, Seq(idCol))
      .groupBy(col("cluster_id"))
      .agg(
        min_by(col(idCol), struct(col("dist2"), col(idCol))).as("keep_id"),
        count(lit(1)).as("n_members"))
  }

  /** Incremental semantic near-dup: probe a NEW embedding batch against an
    * already-indexed corpus (an [[IVF.writeIndexed]]-style frame carrying
    * its `ivf_cell` column) without recomparing the corpus to itself — the
    * nightly-ingest analogue of [[graft.functions.Dedup.nearDupAgainstCorpus]]
    * for the embedding space. The incoming batch is assigned cells by the
    * SAME frozen quantizer that built the index; the corpus side is first
    * restricted to the cells the batch actually touches (a metadata-sized
    * driver list, at most k ids), which over a `partitionBy("ivf_cell")`
    * layout is partition PRUNING — unprobed cell directories cost zero IO.
    * At 100 TB: per-increment work scales with the increment and the
    * touched cells, never the corpus. Output: (id_new, id_corpus, cos). */
  def semanticPairsAgainstIndex(incoming: DataFrame, corpus: DataFrame,
      vecCol: String, idCol: String, model: IVF.Model,
      threshold: Double): DataFrame = {
    // PERSIST BARRIER, deliberately (round 11): the cell assignment is a
    // large inline expression (k centroid literals, k vecdots, an
    // array_min over k structs). Left unmaterialized it is inlined into
    // the probe join's codegen stage, where the generated code
    // re-evaluates it pathologically — measured 67 s vs 1.3 s on the 10x
    // vintage for the SAME plan with the assignment materialized (or
    // codegen off). Assign-once-per-batch is also the production
    // semantics: the increment is batch-sized, and the `touched` collect
    // below materializes the persist before the join plans.
    val in = Caches.operatorPersist(
      incoming.select(col(idCol).as("id_new"), col(vecCol).as("_vn"))
        .withColumn("ivf_cell", IVF.assign(col("_vn"), model))
        .withColumn("_nn", norm(col("_vn"))))
    val touched = in.select("ivf_cell").distinct()
      .collect().map(_.getInt(0)).toSeq // <= k cell ids — metadata, not data
    val base = corpus.filter(col("ivf_cell").isin(touched: _*))
      .select(col("ivf_cell"), col(idCol).as("id_corpus"),
        col(vecCol).as("_vc"))
      .withColumn("_nc", norm(col("_vc")))
    in.join(base, Seq("ivf_cell"))
      .withColumn("cos", dot(col("_vn"), col("_vc")) / (col("_nn") * col("_nc")))
      .filter(col("cos") >= threshold)
      .select("id_new", "id_corpus", "cos")
  }

  /** Semantic dedup verdict per vector: cluster semantically-near vectors
    * ([[semanticPairs]] edges -> [[Dedup.connectedComponents]] min-label
    * clusters) and keep one representative per cluster (the minimum id —
    * quality-aware survivor choice composes via
    * [[Dedup.keepBestPerCluster]] exactly as in text near-dup). Output:
    * (id, cluster_id, keep). Scale shape: cell-blocked pairs, the
    * label-propagation loop's shuffles carry (id, label) pairs only. */
  def semanticDedup(df: DataFrame, vecCol: String, idCol: String,
      model: IVF.Model, threshold: Double): DataFrame = {
    val pairs = semanticPairs(df, vecCol, idCol, model, threshold)
    Dedup.connectedComponents(df.select(col(idCol)), idCol, pairs)
      .select(col("id").as(idCol), col("cluster_id"),
        (col("id") === col("cluster_id")).as("keep"))
  }

  /** Per-group centroids with INTEGER component sums: each float component
    * quantizes to micro-units (floor(x*1e6 + 0.5) on the exact double
    * widening of the stored float32) BEFORE the per-dimension sum, so the
    * aggregation is associative long addition — engine-exact at any
    * parallelism where a raw float avg is merge-order-dependent. Output:
    * one row per (group, dim) with the summed micro-units and the count;
    * the consumer divides (centroid = sum/n) exactly once. The shuffle
    * carries (group, dim)-keyed longs — dims x groups rows, metadata. */
  def groupCentroidSums(df: DataFrame, vecCol: String,
      groupCol: String): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .withColumn("x_micro",
        floor(col("x").cast("double") * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy(groupCol, "dim")
      .agg(count(lit(1)).as("n"), sum(col("x_micro")).as("sum_micro"))

  /** Hard-negative mining for contrastive / embedding-model training: for
    * each query vector, the top-k most-similar corpus vectors whose label
    * DIFFERS from the query's (the "hard" negatives — near in embedding
    * space, wrong by label; the standard mining step behind dense-retriever
    * and SimCSE-style training sets). Plan shape at 100 TB: the query set
    * is an eval/anchor batch (small by construction) and is BROADCAST; the
    * corpus streams through a broadcast nested-loop join (label-inequality
    * predicate) without ever shuffling its vectors, and the two-stage
    * [[graft.plans.TopKPerKey]] collapses each partition to ≤ k rows per
    * query before the only exchange — the shuffle moves
    * k × partitions × |queries| scored ids, never embeddings. Ties broken
    * by (cos desc, id asc) — total order, engine-exact because cosine is
    * the sequential [[dot]] fold both engines compute identically. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, labelCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("qid"),
      col(vecCol).as("_qv"), col(labelCol).as("_qlabel")))
    val scored = corpus
      .select(col(idCol).as("neg_id"), col(vecCol).as("_v"),
        col(labelCol).as("_nlabel"))
      .join(q, col("_nlabel") =!= col("_qlabel"))
      .withColumn("cos", cosine(col("_v"), col("_qv")))
      .select(col("qid"), col("neg_id"), col("cos"))
    import graft.plans.TopKPerKey
    val order = Seq(("cos", false), ("neg_id", true))
    TopKPerKey.perKey(
      TopKPerKey.perKeyPartial(scored, Seq("qid"), order, k),
      Seq("qid"), order, k, "rnk")
  }

  /** Retrieval-quality evaluation: mean reciprocal rank at `k` (MRR@k)
    * per label, treating same-label corpus vectors as the relevant set —
    * the metric that grades the whole ANN family (brute/LSH/IVF/PQ return
    * rankings; recall@k says how many relevant arrived, MRR says how
    * HIGH the first one landed). Ranking is exact brute cosine with the
    * (cos desc, id) total order; per-query top-k moves through the same
    * two-stage [[graft.plans.TopKPerKey]] partial prune as
    * [[hardNegatives]] — the shuffle carries k×partitions rows per
    * query, never the corpus. Exactness: reciprocal ranks are integer
    * ppm (1e6 div rank; 0 when no relevant vector reaches the top k),
    * and the per-label mean is an integer division — no float sums, so
    * the gate hash-matches. Output: (label, n_queries, mean_rr_ppm). */
  def retrievalMrr(corpus: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, labelCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("qid"),
      col(vecCol).as("_qv"), col(labelCol).as("_qlabel")))
    val scored = corpus
      .select(col(idCol).as("cid"), col(vecCol).as("_v"),
        col(labelCol).as("_clabel"))
      .join(q, col("cid") =!= col("qid"))
      .withColumn("cos", cosine(col("_v"), col("_qv")))
      .select(col("qid"), col("_qlabel"), col("cid"), col("_clabel"),
        col("cos"))
    import graft.plans.TopKPerKey
    val order = Seq(("cos", false), ("cid", true))
    val topk = TopKPerKey.perKey(
      TopKPerKey.perKeyPartial(scored, Seq("qid"), order, k),
      Seq("qid"), order, k, "rnk")
    val firstRel = topk.filter(col("_clabel") === col("_qlabel"))
      .groupBy("qid").agg(min(col("rnk")).as("first_rank"))
    q.select("qid", "_qlabel")
      .join(firstRel, Seq("qid"), "left")
      .withColumn("rr_ppm",
        coalesce(expr("CAST(1000000 AS BIGINT) div first_rank"), lit(0L)))
      .groupBy(col("_qlabel").as("label"))
      .agg(count(lit(1)).as("n_queries"), sum("rr_ppm").as("_sum"))
      .withColumn("mean_rr_ppm", expr("_sum div n_queries"))
      .select("label", "n_queries", "mean_rr_ppm")
  }

  /** Semantic (embedding-space) decontamination: flag every corpus vector
    * whose cosine to ANY benchmark/eval vector reaches `threshold` — the
    * embedding analogue of [[Decontam]]'s n-gram overlap, catching
    * paraphrased eval leakage that exact grams miss. The bench side is an
    * eval set — thousands of rows, metadata-sized by definition — so it is
    * BROADCAST and the corpus never shuffles its vectors; the per-corpus-id
    * `max` aggregate is partial-aggregable (map-side combine collapses each
    * partition's |bench| candidate rows back to one row per corpus id
    * before the exchange), so the only shuffle carries (id, double) pairs.
    * `max` over doubles is order-independent — engine-exact. Output: one
    * row per corpus vector, (id, max_bench_cos, contaminated). */
  def semanticDecontam(corpus: DataFrame, bench: DataFrame, vecCol: String,
      idCol: String, threshold: Double): DataFrame = {
    val b = broadcast(bench.select(col(vecCol).as("_bv")))
    corpus.select(col(idCol), col(vecCol).as("_v"))
      .join(b)
      .groupBy(col(idCol))
      .agg(max(cosine(col("_v"), col("_bv"))).as("max_bench_cos"))
      .withColumn("contaminated", col("max_bench_cos") >= lit(threshold))
  }

  /** Deterministic ±1 sign matrix for Johnson–Lindenstrauss random
    * projection (Achlioptas 2003's database-friendly variant): outDim rows
    * of inDim exact ±1.0 signs from the same fixed LCG as
    * [[hyperplanes]] — plan literals, identical across runs and engines. */
  def rpSigns(outDim: Int, inDim: Int, seed: Long = 11L): Seq[Seq[Double]] = {
    var s = seed
    def next(): Double = {
      s = s * 6364136223846793005L + 1442695040888963407L
      if (((s >>> 33) & 1L) == 1L) 1.0 else -1.0
    }
    Seq.fill(outDim)(Seq.fill(inDim)(next()))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, the CCMatrix/
    * LASER parallel-corpus step): a cross-side candidate pair scores by
    * its cosine RELATIVE to each endpoint's average similarity to its own
    * k nearest cross-side neighbors — `margin = cos(x,y) / ((avgNNk(x) +
    * avgNNk(y)) / 2)` — which cancels the hubness that makes raw cosine
    * thresholds useless across languages. Keep each x's best y when the
    * margin clears `threshold`.
    *
    * Exactness: cosines quantize to micronat longs; each endpoint's
    * denominator is the INTEGER sum of its top-k (desc, id tie-break)
    * quantized cosines, so the margin is one exact-long ratio — engine-
    * reproducible at any parallelism. Shape: side B broadcasts (one
    * language shard of the mining batch); the only shuffles carry
    * (id, long) partials; per-x and per-y top-k run through the two-stage
    * [[graft.plans.TopKPerKey]]. At full CCMatrix scale the candidate
    * generation blocks by IVF cell ([[semanticPairs]]) before this
    * scoring — the margin arithmetic is unchanged. */
  def bitextMarginMine(df: DataFrame, vecCol: String, idCol: String,
      labelCol: String, labelA: Int, labelB: Int, k: Int,
      threshold: Double): DataFrame = {
    import graft.plans.TopKPerKey
    val a = df.filter(col(labelCol) === labelA)
      .select(col(idCol).as("id_a"), col(vecCol).as("_va"))
    val b = df.filter(col(labelCol) === labelB)
      .select(col(idCol).as("id_b"), col(vecCol).as("_vb"))
    val pairs = a.join(broadcast(b))
      .withColumn("c_micro",
        floor(cosine(col("_va"), col("_vb")) * lit(1e6) + lit(0.5))
          .cast("long"))
      .select("id_a", "id_b", "c_micro")
    val order = Seq(("c_micro", false), ("id_b", true))
    val denA = TopKPerKey.perKey(
        TopKPerKey.perKeyPartial(pairs, Seq("id_a"), order, k),
        Seq("id_a"), order, k)
      .groupBy("id_a").agg(sum(col("c_micro")).as("_den_a"))
    val orderB = Seq(("c_micro", false), ("id_a", true))
    val denB = TopKPerKey.perKey(
        TopKPerKey.perKeyPartial(pairs, Seq("id_b"), orderB, k),
        Seq("id_b"), orderB, k)
      .groupBy("id_b").agg(sum(col("c_micro")).as("_den_b"))
    val scored = pairs
      .join(denA.hint("shuffle_hash"), Seq("id_a"))
      .join(denB.hint("shuffle_hash"), Seq("id_b"))
      .filter(col("_den_a") + col("_den_b") > 0)
      .withColumn("margin",
        (col("c_micro") * lit(2L * k)).cast("double")
          / (col("_den_a") + col("_den_b")))
    scored
      .groupBy(col("id_a"))
      .agg(max_by(struct(col("id_b"), col("margin")),
        struct(col("margin"), lit(0L) - col("id_b"))).as("_best"))
      .select(col("id_a"), col("_best.id_b").as("id_b"),
        col("_best.margin").as("margin"))
      .filter(col("margin") >= threshold)
  }

  /** Two-stage ANN: rank ALL vectors by the CHEAP int8-quantized dot
    * product, keep the top `candidates`, then re-rank only those by exact
    * cosine — the SCaNN/FAISS production pattern (quantized first pass
    * touches 4× less data and stays in cache; the exact pass costs
    * `candidates` dot products instead of n). Both stages are
    * deterministic (integer MAC, then the sequential double fold with
    * (score desc, id) tie-breaks), so the composition is exactly
    * oracle-recomputable — and both are zero-shuffle: stage 1 is a
    * TakeOrdered over a narrow map, stage 2 re-ranks a driver-bounded
    * candidate list. */
  def rerankTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], k: Int, candidates: Int): DataFrame = {
    require(candidates >= k, "candidate pool must cover k")
    val qq = quantizeInt8Const(query)
    val stage1 = df
      .select(col(idCol), col(vecCol),
        dotQuantized(quantizeInt8(col(vecCol)), qq).as("_qdot"))
      .orderBy(col("_qdot").desc, col(idCol))
      .limit(candidates)
    val q = array(query.map(v => lit(v)): _*)
    stage1
      .select(col(idCol), cosine(col(vecCol), q).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Random-projection dimensionality reduction: y_j = <v, signs_j> for
    * each of outDim ±1 sign rows — the JL map that shrinks a 100 TB
    * embedding column by inDim/outDim while approximately preserving
    * pairwise distances (within 1±ε for outDim = O(ln n / ε²)), the
    * standard pre-step that makes downstream ANN / clustering move 8× less
    * data. A pure narrow map fused into the scan: no shuffle, no state,
    * and ±1 signs mean each component is an exact sequential sum of the
    * input floats (widened to double) — bit-identical in any engine that
    * folds left-to-right, which is what the oracle recomputes. */
  def rpProject(vec: Column, signs: Seq[Seq[Double]]): Column =
    array(signs.map(row => dot(vec, array(row.map(lit): _*))): _*)

  /** Per-dimension embedding drift between a reference and a new slice —
    * the monitoring census an embedding pipeline runs when the encoder,
    * preprocessing, or upstream corpus changes: a handful of strongly
    * shifted dimensions means a systematic encoding change (normalization
    * bug, truncation, domain shift), where uniform noise means ordinary
    * data drift. The split predicate is caller-supplied (`isNew` — id
    * parity in the gate; a snapshot-date predicate in production).
    *
    * Scale shape: posexplode to (dim, slice) partial-aggregable sums —
    * ONE shuffle whose key space is the embedding WIDTH (metadata-sized:
    * 64-4096 dims), then a TakeOrdered of the top `topK` shifted dims.
    * Exactness: components quantize float→double→micro-units (exact IEEE
    * steps both engines replay), sums are integer, and the mean shift is
    * the cross-multiplied truncating division. */
  def dimDrift(df: DataFrame, vecCol: String, isNew: Column,
      topK: Int = 10): DataFrame =
    df.select(isNew.as("_new"), posexplode(col(vecCol)).as(Seq("_p", "_x")))
      .select(col("_new"), (col("_p") + 1).as("dim"),
        floor(col("_x").cast("double") * lit(1e6) + lit(0.5))
          .cast("long").as("_q"))
      .groupBy("dim")
      .agg(sum(when(!col("_new"), col("_q"))).as("sum_ref"),
        count(when(!col("_new"), lit(1))).as("n_ref"),
        sum(when(col("_new"), col("_q"))).as("sum_new"),
        count(when(col("_new"), lit(1))).as("n_new"))
      .filter(col("n_ref") > 0 && col("n_new") > 0)
      .withColumn("shift_micro", expr(
        """(CAST(sum_new AS DECIMAL(38,0)) * n_ref
          | - CAST(sum_ref AS DECIMAL(38,0)) * n_new)
          | div (CAST(n_ref AS DECIMAL(38,0)) * n_new)"""
          .stripMargin.replace("\n", " ")))
      .orderBy(abs(col("shift_micro")).desc, col("dim"))
      .limit(topK)
}
