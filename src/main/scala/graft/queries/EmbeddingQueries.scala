package graft.queries

import graft.functions.{Similarity, TextAnalysis}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import OracleSql._

/** Vector search over `embeddings`: exact and quantized cosine top-k,
  * LSH, IVF and PQ indexes, PCA and random projections, semantic dedup,
  * hybrid retrieval and recall reports. */
object EmbeddingQueries {

  /** DuckDB fragment: sequential double dot-product fold of two lists. */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x,y) -> x+y)"

  /** DuckDB CTEs recomputing hyperplane-LSH buckets over `embeddings` with
    * the SAME plane literals the Spark plan uses (exact binary fractions —
    * multiples of 1/1024 — so the decimal literals round-trip exactly).
    * Yields a `bkt` relation (vec_id, embedding, bucket). */
  private def lshBucketSql(nPlanes: Int, dim: Int): String = {
    val planes = graft.functions.Similarity.hyperplanes(nPlanes, dim)
    val rows = planes.zipWithIndex.map { case (p, j) =>
      s"($j, CAST(${p.map(fmtD).mkString("[", ", ", "]")} AS DOUBLE[]))"
    }.mkString(",\n    ")
    s"""planes(j, p) AS (VALUES
       |    $rows),
       |proj AS (
       |  SELECT e.vec_id, e.embedding, p.j, ${dotSql("e.embedding", "p.p")} AS d
       |  FROM embeddings e CROSS JOIN planes p),
       |bkt AS (
       |  SELECT vec_id, embedding,
       |         CAST(sum(CASE WHEN d >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY vec_id, embedding)""".stripMargin
  }

  /** DuckDB CTEs recomputing every PQ code from the codebook literals:
    * per subspace a `pqS(code, c, cn2)` VALUES relation (quoted double
    * literals — the [[ivfAssignedCteSql]] round-trip trick), the argmin
    * assignment `aS` with the SAME float expression the engine evaluates
    * (dot(sub,sub) - 2*dot(sub,c) + cn2), and a `codes(vec_id, codes)`
    * relation assembling the arrays in subspace order. */
  private def pqCodesCteSql(model: graft.functions.PQ.Model): String =
    pqCodesCteSqlOver(model, "embeddings", "e.embedding", "codes")

  /** Generalized form: derive the per-vector PQ codes from `vecExpr` of
    * relation `rel` (which must expose vec_id), naming the result CTE
    * `outName` — reused for raw-vector and residual codes. */
  private def pqCodesCteSqlOver(model: graft.functions.PQ.Model,
      rel: String, vecExpr: String, outName: String): String = {
    val dsub = model.dsub
    def subSlice(s: Int) = s"$vecExpr[${s * dsub + 1}:${(s + 1) * dsub}]"
    def dotS(a: String, b: String) =
      s"list_reduce(list_transform(generate_series(1, $dsub), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x,y) -> x+y)"
    val books = model.codebooks.zipWithIndex.map { case (book, s) =>
      val rows = book.zipWithIndex.map { case (c, j) =>
        val arr = c.map(x => "'" + fmtD(x) + "'").mkString("[", ", ", "]")
        val cn2 = fmtD(c.map(x => x * x).sum)
        s"($j, CAST($arr AS DOUBLE[]), CAST('$cn2' AS DOUBLE))"
      }.mkString(",\n    ")
      s"pq$s(code, c, cn2) AS (VALUES\n    $rows)"
    }.mkString(",\n")
    val assigns = (0 until model.m).map { s =>
      val sub = subSlice(s)
      s"""a$s AS (SELECT vec_id, code FROM (
         |  SELECT e.vec_id, p.code,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ((${dotS(sub, sub)} - 2.0 * ${dotS(sub, "p.c")}) + p.cn2), p.code) AS rn
         |  FROM $rel e CROSS JOIN pq$s p) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val arr = (0 until model.m).map(s => s"a$s.code").mkString("[", ", ", "]")
    val joins = (0 until model.m).map(s => s"JOIN a$s USING (vec_id)").mkString(" ")
    s"""$books,
       |$assigns,
       |$outName AS (SELECT e.vec_id, $arr AS codes FROM $rel e $joins)""".stripMargin
  }

  /** The cents/dists/assigned CTE chain recomputing IVF cell assignment
    * from centroid literals — shared by [[ivfOracleSql]] and the semantic
    * dedup oracle (same argmin, same tie-break, same float order as
    * `IVF.assign`). */
  private def ivfAssignedCteSql(model: graft.functions.IVF.Model): String = {
    val cents = model.centroids.zipWithIndex.map { case (c, j) =>
      // components as QUOTED strings -> direct varchar->double parse.
      // A bare numeric array literal goes through DECIMAL type unification
      // (one common scale for all 64 elements), which truncates the last
      // ulp of ~20% of the components — measured by the embedding_outliers
      // gate, whose output IS the distance (the ann_ivf_* gates never
      // exposed it: a 1-ulp dist shift almost never flips an argmin)
      val arr = c.map(x => "'" + fmtD(x) + "'").mkString("[", ", ", "]")
      val cn2 = fmtD(c.map(x => x * x).sum)
      s"($j, CAST($arr AS DOUBLE[]), CAST('$cn2' AS DOUBLE))"
    }.mkString(",\n    ")
    s"""cents(cell, c, cn2) AS (VALUES
       |    $cents),
       |dists AS (
       |  SELECT e.vec_id, e.embedding, c.cell,
       |         ((${dotSql("e.embedding", "e.embedding")} - 2.0 * ${dotSql("e.embedding", "c.c")}) + c.cn2) AS dist
       |  FROM embeddings e CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id, embedding, cell FROM (
       |    SELECT vec_id, embedding, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
       |    FROM dists) WHERE rn = 1)""".stripMargin
  }

  /** DuckDB oracle for IVF probe search, given the trained centroids as
    * exact double literals: recomputes cell assignment (argmin with
    * lower-cell tie-break), the probed cell ranking, and cosine top-k —
    * everything downstream of training, independently. */
  private def ivfOracleSql(model: graft.functions.IVF.Model,
      topK: Int, nProbe: Int): String = {
    val qcDist = "list_reduce(list_transform(generate_series(1, len(qv)), " +
      "i -> (CAST(qv[i] AS DOUBLE) - c.c[i]) * (CAST(qv[i] AS DOUBLE) - c.c[i])), (x,y) -> x + y)"
    s"""WITH ${ivfAssignedCteSql(model)},
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |qp AS (SELECT c.cell FROM cents c CROSS JOIN q ORDER BY $qcDist, c.cell LIMIT $nProbe)
       |SELECT a.vec_id,
       |  ${dotSql("a.embedding", "qv")} /
       |  (sqrt(${dotSql("a.embedding", "a.embedding")}) * sqrt(${dotSql("qv", "qv")})) AS cos
       |FROM assigned a CROSS JOIN q
       |WHERE a.cell IN (SELECT cell FROM qp)
       |ORDER BY cos DESC, vec_id LIMIT $topK""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(

    QueryDef.headline("cosine_topk",
      (s, dir) => {
        val q = Tables.embeddings(s, dir).filter(col("vec_id") === 0)
          .head().getSeq[Float](1)
        Similarity.bruteForceTopK(Tables.embeddings(s, dir), "embedding",
          "vec_id", q, k = 20)
      },
      Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
              |SELECT vec_id,
              |  ${dotSql("embedding", "qv")} /
              |  (sqrt(${dotSql("embedding", "embedding")}) * sqrt(${dotSql("qv", "qv")})) AS cos
              |FROM embeddings CROSS JOIN q
              |ORDER BY cos DESC, vec_id LIMIT 20""".stripMargin)),

    QueryDef.headline("diverse_topk_mmr",
      // maximal-marginal-relevance selection: 10 greedy rounds of
      // (rel − 0.5·maxsim) argmax; oracle unrolls every round and must
      // reproduce rank, ids, and all three doubles bit-exactly
      (s, dir) => {
        val q = Tables.embeddings(s, dir).filter(col("vec_id") === 0)
          .head().getSeq[Float](1)
        Similarity.mmrSelect(Tables.embeddings(s, dir), "embedding",
          "vec_id", q, k = 10, lambda = 0.5)
          .orderBy("rank")
      },
      Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
              |cand AS MATERIALIZED (
              |  SELECT vec_id, embedding AS v,
              |    ${dotSql("embedding", "qv")} /
              |    (sqrt(${dotSql("embedding", "embedding")}) * sqrt(${dotSql("qv", "qv")})) AS rel
              |  FROM embeddings CROSS JOIN q
              |  ORDER BY rel DESC, vec_id LIMIT 1000),
              |${Similarity.mmrOracleSql("cand", k = 10, lambda = 0.5)}""".stripMargin)),

    QueryDef.headline("cosine_topk_quantized",
      // int8-quantized similarity (4x smaller vectors): top-k by rescaled
      // integer dot product; oracle recomputes quantization + MAC in SQL
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val qRow = e.filter(col("vec_id") === 0).head().getSeq[Float](1)
        val qq = Similarity.quantizeInt8Const(qRow)
        e.select(col("vec_id"),
            Similarity.quantizeInt8(col("embedding")).as("qv"))
          .select(col("vec_id"),
            Similarity.dotQuantized(col("qv"), qq).as("qdot"))
          .orderBy(col("qdot").desc, col("vec_id"))
          .limit(20)
      },
      Some(s"""WITH sc AS (
              |  SELECT vec_id, embedding,
              |         list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS ma
              |  FROM embeddings),
              |qv AS (
              |  SELECT vec_id,
              |         CASE WHEN ma > 0 THEN 127.0 / ma ELSE 0.0 END AS scale,
              |         list_transform(embedding,
              |           v -> floor(CAST(v AS DOUBLE) * (CASE WHEN ma > 0 THEN 127.0 / ma ELSE 0.0 END) + 0.5)) AS q
              |  FROM sc),
              |qq AS (SELECT scale AS qs, q AS qvec FROM qv WHERE vec_id = 0)
              |SELECT v.vec_id,
              |  CASE WHEN v.scale > 0 AND qq.qs > 0
              |       THEN ${dotSql("v.q", "qq.qvec")} / (v.scale * qq.qs)
              |       ELSE 0.0 END AS qdot
              |FROM qv v CROSS JOIN qq
              |ORDER BY qdot DESC, vec_id LIMIT 20""".stripMargin)),

    QueryDef("embedding_near_dup",
      // exact brute force on a bounded id range (oracle-checkable shape)
      (s, dir) => {
        val e = Tables.embeddings(s, dir).filter(col("vec_id") < 300)
        val a = e.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
        val b = e.select(col("vec_id").as("id_b"), col("embedding").as("v_b"))
        a.crossJoin(b).filter(col("id_a") < col("id_b"))
          .withColumn("cos", Similarity.cosine(col("v_a"), col("v_b")))
          .filter(col("cos") >= 0.4)
          .select("id_a", "id_b", "cos")
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300)
              |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              |  ${dotSql("a.embedding", "b.embedding")} /
              |  (sqrt(${dotSql("a.embedding", "a.embedding")}) * sqrt(${dotSql("b.embedding", "b.embedding")})) AS cos
              |FROM e a JOIN e b ON a.vec_id < b.vec_id
              |WHERE ${dotSql("a.embedding", "b.embedding")} /
              |  (sqrt(${dotSql("a.embedding", "a.embedding")}) * sqrt(${dotSql("b.embedding", "b.embedding")})) >= 0.4
              |ORDER BY id_a, id_b""".stripMargin)),

    QueryDef("ann_lsh_topk",
      // hyperplane-LSH bucketed ANN: the planes are exact binary fractions,
      // so the oracle recomputes buckets AND cosines from the same literals
      (s, dir) => {
        val q = Tables.embeddings(s, dir).filter(col("vec_id") === 0)
          .head().getSeq[Float](1)
        Similarity.annTopK(Tables.embeddings(s, dir), "embedding", "vec_id",
          q, k = 10, nPlanes = 8)
      },
      Some(s"""WITH ${lshBucketSql(nPlanes = 8, dim = 64)},
              |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
              |qb AS (SELECT bucket AS qbucket FROM bkt WHERE vec_id = 0)
              |SELECT b.vec_id,
              |  ${dotSql("b.embedding", "qv")} /
              |  (sqrt(${dotSql("b.embedding", "b.embedding")}) * sqrt(${dotSql("qv", "qv")})) AS cos
              |FROM bkt b CROSS JOIN q CROSS JOIN qb
              |WHERE b.bucket = qb.qbucket
              |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin)),

    QueryDef.headline("ann_ivf_topk",
      // IVF coarse-quantizer ANN: k-means cells (trained once per dir,
      // shared with the dynamic oracle), probe the 2 nearest
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val q = e.filter(col("vec_id") === 0).head().getSeq[Float](1)
        graft.functions.IVF.search(e, "embedding", "vec_id", Artifacts.ivfModel(s, dir),
          q, topK = 10, nProbe = 2)
      },
      None,
      // oracle needs the trained centroids as literals -> rendered by
      // Verify against the actual sf dir (everything downstream of
      // training — assignment, probe ranking, cosine top-k — is then
      // recomputed independently by DuckDB)
      dynOracle = Some((s, dir) => ivfOracleSql(Artifacts.ivfModel(s, dir),
        topK = 10, nProbe = 2))),

    QueryDef("ann_ivf_indexed",
      // probe search over the cell-PARTITIONED on-disk layout
      // (IVF.writeIndexed): the probe predicate resolves against the
      // partition column, so unprobed cells are pruned before any file IO.
      // Ranking contract: identical to ann_ivf_topk (same model, same
      // query vector), so the same dynamic oracle verifies both — this row
      // proves the indexed path end-to-end, not just its plan shape
      (s, dir) => {
        val q = Tables.embeddings(s, dir).filter(col("vec_id") === 0)
          .head().getSeq[Float](1)
        graft.functions.IVF.searchIndexed(s, Artifacts.ivfIndexedPath(s, dir),
          "embedding", "vec_id", Artifacts.ivfModel(s, dir), q, topK = 10, nProbe = 2)
      },
      None,
      dynOracle = Some((s, dir) => ivfOracleSql(Artifacts.ivfModel(s, dir),
        topK = 10, nProbe = 2))),

    QueryDef("ann_ivf_incremental",
      // incremental vector ingest: the layout is built in TWO stages —
      // base batch (vec_id % 5 != 0) via writeIndexed, increment
      // (vec_id % 5 = 0, including the query vector itself) APPENDED by
      // the frozen quantizer (IVF.appendIndexed) — and the probe search
      // over it must rank identically to a single-shot index of the full
      // corpus, which is exactly what the shared dynamic oracle verifies
      (s, dir) => {
        val q = Tables.embeddings(s, dir).filter(col("vec_id") === 0)
          .head().getSeq[Float](1)
        graft.functions.IVF.searchIndexed(s, Artifacts.ivfIncrementalPath(s, dir),
          "embedding", "vec_id", Artifacts.ivfModel(s, dir), q, topK = 10, nProbe = 2)
      },
      None,
      dynOracle = Some((s, dir) => ivfOracleSql(Artifacts.ivfModel(s, dir),
        topK = 10, nProbe = 2))),

    QueryDef("ann_pq_codes",
      // product quantization: every vector's m=8 per-subspace argmin codes
      // (the 32x-compressed stored representation); the oracle retrains
      // nothing — it re-derives every code from the codebook literals with
      // the same float expression and tie-break
      (s, dir) => Tables.embeddings(s, dir)
        .select(col("vec_id"),
          concat_ws("-", graft.functions.PQ.encode(col("embedding"),
            Artifacts.pqModel(s, dir))).as("codes"))
        .orderBy("vec_id"),
      None,
      dynOracle = Some((s, dir) =>
        s"""WITH ${pqCodesCteSql(Artifacts.pqModel(s, dir))}
           |SELECT vec_id, array_to_string(codes, '-') AS codes
           |FROM codes ORDER BY vec_id""".stripMargin)),

    QueryDef.headline("ann_pq_topk",
      // ADC search: query stays full-precision, stored vectors are scored
      // by m table lookups (terms quantized to integer nano-units BEFORE
      // summation — associative, so the oracle's re-derivation of codes,
      // table, and every per-row sum is engine-exact)
      (s, dir) => {
        val q = Tables.embeddings(s, dir).filter(col("vec_id") === 0)
          .head().getSeq[Float](1).map(_.toDouble).toSeq
        val model = Artifacts.pqModel(s, dir)
        val encoded = s.read.parquet(Artifacts.pqRawEncodedPath(s, dir))
          .withColumnRenamed("pq_codes", "codes")
        graft.functions.PQ.searchADC(encoded, "vec_id", "codes", q, model,
          k = 10)
      },
      None,
      dynOracle = Some { (s, dir) =>
        val model = Artifacts.pqModel(s, dir)
        val dsub = model.dsub
        def qSlice(s0: Int) = s"qv[${s0 * dsub + 1}:${(s0 + 1) * dsub}]"
        val terms = (0 until model.m).map { s0 =>
          val qs = qSlice(s0)
          s"""t$s0 AS (SELECT p.code, CAST(floor(1e9 * list_reduce(
             |    list_transform(generate_series(1, $dsub),
             |      i -> (CAST($qs[i] AS DOUBLE) - p.c[i]) * (CAST($qs[i] AS DOUBLE) - p.c[i])),
             |    (x,y) -> x+y) + 0.5) AS BIGINT) AS tn
             |  FROM pq$s0 p CROSS JOIN q)""".stripMargin
        }.mkString(",\n")
        val ts = (0 until model.m)
          .map(s0 => s"SELECT $s0 AS s, code, tn FROM t$s0")
          .mkString("\n  UNION ALL ")
        s"""WITH ${pqCodesCteSql(model)},
           |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |$terms,
           |ts AS (
           |  $ts),
           |cx AS (SELECT vec_id, unnest(list_transform(
           |    generate_series(1, len(codes)),
           |    i -> {'s': i - 1, 'code': codes[i]})) AS u FROM codes),
           |scored AS (
           |  SELECT vec_id, sum(tn) AS adc_dist_nano
           |  FROM cx JOIN ts ON ts.s = cx.u['s'] AND ts.code = cx.u['code']
           |  GROUP BY vec_id)
           |SELECT vec_id, CAST(adc_dist_nano AS BIGINT) AS adc_dist_nano
           |FROM scored ORDER BY adc_dist_nano, vec_id LIMIT 10""".stripMargin
      }),

    QueryDef.headline("ann_ivfpq_topk",
      // the full two-level FAISS layout: coarse cells prune (partition
      // pruning over the indexed layout), PQ codes score survivors by ADC;
      // the oracle re-derives cell assignment, probe selection, codes, the
      // ADC table, and every nano-quantized sum
      (s, dir) => {
        val q = Tables.embeddings(s, dir).filter(col("vec_id") === 0)
          .head().getSeq[Float](1).map(_.toDouble).toSeq
        graft.functions.PQ.searchIVFPQ(
          s.read.parquet(Artifacts.pqRawEncodedPath(s, dir)), "vec_id",
          Artifacts.ivfModel(s, dir), Artifacts.pqModel(s, dir), q, topK = 10, nProbe = 2)
      },
      None,
      dynOracle = Some { (s, dir) =>
        val model = Artifacts.pqModel(s, dir)
        val dsub = model.dsub
        def qSlice(s0: Int) = s"qv[${s0 * dsub + 1}:${(s0 + 1) * dsub}]"
        val terms = (0 until model.m).map { s0 =>
          val qs = qSlice(s0)
          s"""t$s0 AS (SELECT p.code, CAST(floor(1e9 * list_reduce(
             |    list_transform(generate_series(1, $dsub),
             |      i -> (CAST($qs[i] AS DOUBLE) - p.c[i]) * (CAST($qs[i] AS DOUBLE) - p.c[i])),
             |    (x,y) -> x+y) + 0.5) AS BIGINT) AS tn
             |  FROM pq$s0 p CROSS JOIN q)""".stripMargin
        }.mkString(",\n")
        val ts = (0 until model.m)
          .map(s0 => s"SELECT $s0 AS s, code, tn FROM t$s0")
          .mkString("\n  UNION ALL ")
        val qcDist = "list_reduce(list_transform(generate_series(1, len(qv)), " +
          "i -> (CAST(qv[i] AS DOUBLE) - c.c[i]) * (CAST(qv[i] AS DOUBLE) - c.c[i])), (x,y) -> x + y)"
        s"""WITH ${ivfAssignedCteSql(Artifacts.ivfModel(s, dir))},
           |${pqCodesCteSql(model)},
           |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |qp AS (SELECT c.cell FROM cents c CROSS JOIN q
           |       ORDER BY $qcDist, c.cell LIMIT 2),
           |$terms,
           |ts AS (
           |  $ts),
           |cx AS (SELECT vec_id, unnest(list_transform(
           |    generate_series(1, len(codes)),
           |    i -> {'s': i - 1, 'code': codes[i]})) AS u FROM codes),
           |scored AS (
           |  SELECT vec_id, sum(tn) AS adc_dist_nano
           |  FROM cx JOIN ts ON ts.s = cx.u['s'] AND ts.code = cx.u['code']
           |  GROUP BY vec_id)
           |SELECT sc.vec_id, CAST(adc_dist_nano AS BIGINT) AS adc_dist_nano
           |FROM scored sc JOIN assigned a ON a.vec_id = sc.vec_id
           |WHERE a.cell IN (SELECT cell FROM qp)
           |ORDER BY adc_dist_nano, sc.vec_id LIMIT 10""".stripMargin
      }),

    QueryDef.headline("embedding_label_centroids",
      // per-class centroid state: per (label, dim) the count and the
      // micro-quantized component sum — associative long addition where a
      // raw float avg is merge-order-dependent; consumer divides once
      (s, dir) => graft.functions.Similarity.groupCentroidSums(
          Tables.embeddings(s, dir), "embedding", "label")
        .orderBy("label", "dim"),
      Some("""WITH ex AS (SELECT label, unnest(embedding) AS x,
             |    unnest(generate_series(1, len(embedding))) AS i
             |  FROM embeddings)
             |SELECT label, CAST(i - 1 AS INT) AS dim, count(*) AS n,
             |  CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sum_micro
             |FROM ex GROUP BY label, dim ORDER BY label, dim""".stripMargin)),

    QueryDef.headline("text_hash_embed",
      // hashing-trick featurization: vocabulary-free text -> fixed-dim
      // signed integer vector (sparse form); every index, sign, and sum
      // recomputed by the oracle from the shared md5-slice hash
      (s, dir) => graft.functions.TextAnalysis.hashEmbedSparse(
          Tables.documents(s, dir), "doc_id", "text", dim = 16)
        .orderBy("doc_id", "dim"),
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             |  FROM documents),
             |h AS (SELECT doc_id,
             |    list_reduce(list_transform(
             |      regexp_extract_all(substr(md5(tok), 25, 8), '.'),
             |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
             |      (a,b) -> a*16 + b) AS hv
             |  FROM t),
             |w AS (SELECT doc_id, CAST((hv // 2) % 16 AS INT) AS dim,
             |    CASE WHEN hv % 2 = 1 THEN 1 ELSE -1 END AS s
             |  FROM h)
             |SELECT doc_id, dim, CAST(sum(s) AS BIGINT) AS weight FROM w
             |GROUP BY doc_id, dim HAVING sum(s) <> 0
             |ORDER BY doc_id, dim""".stripMargin)),

    QueryDef.headline("ann_ivfpq_residual_topk",
      // the TRUE FAISS IVF-PQ: codebooks trained on coarse-cell RESIDUALS
      // (one codebook serves all cells at lower quantization error),
      // search scores each probed cell against a PER-CELL ADC table built
      // from the query's residual to that cell's centroid; the oracle
      // re-derives assignment, residuals, codes, probe cells, every
      // per-cell table term, and every nano-quantized sum
      (s, dir) => {
        val q = Tables.embeddings(s, dir).filter(col("vec_id") === 0)
          .head().getSeq[Float](1).map(_.toDouble).toSeq
        graft.functions.PQ.searchIVFPQResidual(
          s.read.parquet(Artifacts.pqResEncodedPath(s, dir)), "vec_id",
          Artifacts.ivfModel(s, dir), Artifacts.pqResModel(s, dir), q, topK = 10, nProbe = 2)
      },
      None,
      dynOracle = Some { (s, dir) =>
        val coarse = Artifacts.ivfModel(s, dir)
        val model = Artifacts.pqResModel(s, dir)
        val dsub = model.dsub
        val dim = model.m * dsub
        val terms = (0 until model.m).map { s0 =>
          val off = s0 * dsub
          s"""rt$s0 AS (SELECT c.cell, p.code, CAST(floor(1e9 * list_reduce(
             |    list_transform(generate_series(1, $dsub),
             |      i -> ((CAST(qv[$off + i] AS DOUBLE) - c.c[$off + i]) - p.c[i])
             |         * ((CAST(qv[$off + i] AS DOUBLE) - c.c[$off + i]) - p.c[i])),
             |    (x,y) -> x+y) + 0.5) AS BIGINT) AS tn
             |  FROM cents c CROSS JOIN pq$s0 p CROSS JOIN q)""".stripMargin
        }.mkString(",\n")
        val ts = (0 until model.m)
          .map(s0 => s"SELECT cell, $s0 AS s, code, tn FROM rt$s0")
          .mkString("\n  UNION ALL ")
        val qcDist = "list_reduce(list_transform(generate_series(1, len(qv)), " +
          "i -> (CAST(qv[i] AS DOUBLE) - c.c[i]) * (CAST(qv[i] AS DOUBLE) - c.c[i])), (x,y) -> x + y)"
        s"""WITH ${ivfAssignedCteSql(coarse)},
           |resid AS (SELECT a.vec_id, a.cell,
           |    list_transform(generate_series(1, $dim),
           |      i -> CAST(e.embedding[i] AS DOUBLE) - c.c[i]) AS r
           |  FROM assigned a JOIN embeddings e USING (vec_id)
           |  JOIN cents c ON c.cell = a.cell),
           |${pqCodesCteSqlOver(model, "resid", "e.r", "rcodes")},
           |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |qp AS (SELECT c.cell FROM cents c CROSS JOIN q
           |       ORDER BY $qcDist, c.cell LIMIT 2),
           |$terms,
           |ts AS (
           |  $ts),
           |cx AS (SELECT rc.vec_id, rd.cell, unnest(list_transform(
           |    generate_series(1, len(rc.codes)),
           |    i -> {'s': i - 1, 'code': rc.codes[i]})) AS u
           |  FROM rcodes rc JOIN resid rd ON rd.vec_id = rc.vec_id
           |  WHERE rd.cell IN (SELECT cell FROM qp)),
           |scored AS (
           |  SELECT vec_id, sum(tn) AS adc_dist_nano
           |  FROM cx JOIN ts ON ts.cell = cx.cell AND ts.s = cx.u['s']
           |    AND ts.code = cx.u['code']
           |  GROUP BY vec_id)
           |SELECT vec_id, CAST(adc_dist_nano AS BIGINT) AS adc_dist_nano
           |FROM scored ORDER BY adc_dist_nano, vec_id LIMIT 10""".stripMargin
      }),

    QueryDef("ann_recall",
      // recall@10 of hyperplane-LSH ANN vs exact brute force, as a measured
      // catalog metric — both sides recomputed independently by the oracle
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val q = e.filter(col("vec_id") === 0).head().getSeq[Float](1)
        val ann = Similarity.annTopK(e, "embedding", "vec_id", q,
          k = 10, nPlanes = 8).select(col("vec_id"))
        val brute = Similarity.bruteForceTopK(e, "embedding", "vec_id", q,
          k = 10).select(col("vec_id"))
        ann.join(brute, "vec_id")
          .agg((count(lit(1)).cast("double") / 10.0).as("recall_at_10"))
      },
      Some(s"""WITH ${lshBucketSql(nPlanes = 8, dim = 64)},
              |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
              |qb AS (SELECT bucket AS qbucket FROM bkt WHERE vec_id = 0),
              |ann AS (
              |  SELECT b.vec_id,
              |    ${dotSql("b.embedding", "qv")} /
              |    (sqrt(${dotSql("b.embedding", "b.embedding")}) * sqrt(${dotSql("qv", "qv")})) AS cos
              |  FROM bkt b CROSS JOIN q CROSS JOIN qb
              |  WHERE b.bucket = qb.qbucket
              |  ORDER BY cos DESC, vec_id LIMIT 10),
              |brute AS (
              |  SELECT e.vec_id,
              |    ${dotSql("e.embedding", "qv")} /
              |    (sqrt(${dotSql("e.embedding", "e.embedding")}) * sqrt(${dotSql("qv", "qv")})) AS cos
              |  FROM embeddings e CROSS JOIN q
              |  ORDER BY cos DESC, vec_id LIMIT 10)
              |SELECT CAST(count(*) AS DOUBLE) / 10.0 AS recall_at_10
              |FROM ann JOIN brute USING (vec_id)""".stripMargin)),

    QueryDef.headline("hard_negatives",
      // contrastive-training hard-negative mining: per query vector, the
      // top-5 most-cosine-similar vectors with a DIFFERENT label. Queries
      // broadcast, corpus never shuffles its vectors, two-stage TopKPerKey
      // moves only (qid, id, cos) partials; the oracle recomputes every
      // cosine and the (cos desc, id) ranking from scratch
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        Similarity.hardNegatives(e, e.filter(col("vec_id") < 6),
            "embedding", "vec_id", "label", k = 5)
          .orderBy("qid", "rnk")
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS ql
              |           FROM embeddings WHERE vec_id < 6),
              |sc AS (
              |  SELECT q.qid, e.vec_id AS neg_id,
              |    ${dotSql("e.embedding", "q.qv")} /
              |    (sqrt(${dotSql("e.embedding", "e.embedding")}) * sqrt(${dotSql("q.qv", "q.qv")})) AS cos
              |  FROM embeddings e JOIN q ON e.label <> q.ql),
              |r AS (SELECT *, CAST(row_number() OVER (
              |        PARTITION BY qid ORDER BY cos DESC, neg_id) AS INT) AS rnk
              |      FROM sc)
              |SELECT qid, neg_id, cos, rnk FROM r WHERE rnk <= 5
              |ORDER BY qid, rnk""".stripMargin)),

    QueryDef("decontam_semantic",
      // embedding-space decontamination: flag corpus vectors whose cosine
      // to ANY bench/eval vector reaches 0.35 (paraphrased leakage that
      // n-gram overlap misses). Bench side broadcast; partial max-agg
      // collapses candidates map-side; the oracle recomputes every cosine
      // and the per-vector max independently
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        Similarity.semanticDecontam(e.filter(col("vec_id") >= 40),
            e.filter(col("vec_id") < 40), "embedding", "vec_id",
            threshold = 0.35)
          .orderBy("vec_id")
      },
      Some(s"""WITH b AS (SELECT embedding AS bv FROM embeddings WHERE vec_id < 40),
              |c AS (
              |  SELECT vec_id,
              |    max(${dotSql("embedding", "bv")} /
              |      (sqrt(${dotSql("embedding", "embedding")}) * sqrt(${dotSql("bv", "bv")}))) AS max_bench_cos
              |  FROM embeddings CROSS JOIN b WHERE vec_id >= 40
              |  GROUP BY vec_id)
              |SELECT vec_id, max_bench_cos, max_bench_cos >= 0.35 AS contaminated
              |FROM c ORDER BY vec_id""".stripMargin)),

    QueryDef.headline("rp_project",
      // Johnson–Lindenstrauss random projection 64 -> 8 dims (Achlioptas
      // ±1 signs — exact doubles, plan literals): a pure narrow map fused
      // into the scan; the oracle re-folds every output component from the
      // same sign literals with the identical sequential dot product
      (s, dir) => {
        val signs = Similarity.rpSigns(8, 64)
        Tables.embeddings(s, dir).select(
          col("vec_id") +: signs.zipWithIndex.map { case (row, j) =>
            Similarity.dot(col("embedding"),
              array(row.map(lit): _*)).as(s"y$j")
          }: _*).orderBy("vec_id")
      },
      Some {
        val signs = Similarity.rpSigns(8, 64)
        val lists = signs.zipWithIndex.map { case (row, j) =>
          s"CAST([${row.map(fmtD).mkString(",")}] AS DOUBLE[]) AS s$j"
        }.mkString(",\n              |  ").stripMargin
        val ys = signs.indices.map(j =>
          s"${dotSql("embedding", s"s$j")} AS y$j").mkString(",\n              |  ").stripMargin
        s"""WITH sg AS (SELECT $lists)
           |SELECT vec_id,
           |  $ys
           |FROM embeddings CROSS JOIN sg ORDER BY vec_id""".stripMargin
      }),

    QueryDef("rp_recall",
      // recall@20 of brute-force top-k run in the 8-dim PROJECTED space vs
      // the exact 64-dim ranking — the measured fidelity of the JL map
      // (both rankings recomputed end-to-end by the oracle)
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val signs = Similarity.rpSigns(8, 64)
        val proj = e.select(col("vec_id"),
          Similarity.rpProject(col("embedding"), signs).as("p"))
        val qp = proj.filter(col("vec_id") === 0).head().getSeq[Double](1)
        val q = e.filter(col("vec_id") === 0).head().getSeq[Float](1)
        val top = proj
          .select(col("vec_id"),
            Similarity.cosine(col("p"), array(qp.map(lit): _*)).as("cos"))
          .orderBy(col("cos").desc, col("vec_id")).limit(20)
          .select("vec_id")
        val brute = Similarity.bruteForceTopK(e, "embedding", "vec_id", q,
          k = 20).select("vec_id")
        top.join(brute, "vec_id")
          .agg((count(lit(1)).cast("double") / 20.0).as("recall_at_20"))
      },
      Some {
        val signs = Similarity.rpSigns(8, 64)
        val lists = signs.zipWithIndex.map { case (row, j) =>
          s"CAST([${row.map(fmtD).mkString(",")}] AS DOUBLE[]) AS s$j"
        }.mkString(", ")
        val proj = signs.indices.map(j =>
          s"${dotSql("embedding", s"s$j")}").mkString(", ")
        s"""WITH sg AS (SELECT $lists),
           |pr AS (SELECT vec_id, [$proj] AS p FROM embeddings CROSS JOIN sg),
           |qp AS (SELECT p AS qv FROM pr WHERE vec_id = 0),
           |top AS (
           |  SELECT pr.vec_id,
           |    ${dotSql("pr.p", "qp.qv")} /
           |    (sqrt(${dotSql("pr.p", "pr.p")}) * sqrt(${dotSql("qp.qv", "qp.qv")})) AS cos
           |  FROM pr CROSS JOIN qp
           |  ORDER BY cos DESC, vec_id LIMIT 20),
           |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |brute AS (
           |  SELECT e.vec_id,
           |    ${dotSql("e.embedding", "q.qv")} /
           |    (sqrt(${dotSql("e.embedding", "e.embedding")}) * sqrt(${dotSql("q.qv", "q.qv")})) AS cos
           |  FROM embeddings e CROSS JOIN q
           |  ORDER BY cos DESC, vec_id LIMIT 20)
           |SELECT CAST(count(*) AS DOUBLE) / 20.0 AS recall_at_20
           |FROM top JOIN brute USING (vec_id)""".stripMargin
      }),

    QueryDef.headline("bitext_margin_mine",
      // Artetxe & Schwenk margin-based bitext mining (CCMatrix/LASER):
      // label-0 vs label-1 embeddings as the two language sides, k=4
      // cross-side neighbors in the denominator, best-per-x above 1.2.
      // Micronat-quantized cosines make every denominator an exact long
      // sum; the oracle recomputes all pairs, both top-k sums, the
      // margins, and the per-x argmax
      (s, dir) => Similarity.bitextMarginMine(Tables.embeddings(s, dir),
          "embedding", "vec_id", "label", labelA = 0, labelB = 1,
          k = 4, threshold = 1.2)
        .orderBy("id_a"),
      Some(s"""WITH a AS (SELECT vec_id AS id_a, embedding AS va
              |           FROM embeddings WHERE label = 0),
              |b AS (SELECT vec_id AS id_b, embedding AS vb
              |      FROM embeddings WHERE label = 1),
              |p AS (SELECT id_a, id_b,
              |        CAST(floor(${dotSql("va", "vb")} /
              |          (sqrt(${dotSql("va", "va")}) * sqrt(${dotSql("vb", "vb")}))
              |          * 1000000 + 0.5) AS BIGINT) AS c
              |      FROM a CROSS JOIN b),
              |da AS (SELECT id_a, CAST(sum(c) AS BIGINT) AS den_a
              |       FROM (SELECT id_a, c, row_number() OVER (
              |               PARTITION BY id_a ORDER BY c DESC, id_b) rn
              |             FROM p)
              |       WHERE rn <= 4 GROUP BY 1),
              |db AS (SELECT id_b, CAST(sum(c) AS BIGINT) AS den_b
              |       FROM (SELECT id_b, c, row_number() OVER (
              |               PARTITION BY id_b ORDER BY c DESC, id_a) rn
              |             FROM p)
              |       WHERE rn <= 4 GROUP BY 1),
              |s AS (SELECT p.id_a, p.id_b,
              |        CAST(c * 8 AS DOUBLE) / (den_a + den_b) AS margin
              |      FROM p JOIN da USING (id_a) JOIN db USING (id_b)
              |      WHERE den_a + den_b > 0),
              |best AS (SELECT id_a, id_b, margin, row_number() OVER (
              |           PARTITION BY id_a ORDER BY margin DESC, id_b) rn
              |         FROM s)
              |SELECT id_a, id_b, margin FROM best
              |WHERE rn = 1 AND margin >= 1.2 ORDER BY id_a""".stripMargin)),

    QueryDef.headline("ann_rerank_topk",
      // two-stage serving ANN (SCaNN/FAISS pattern): int8-quantized dot
      // ranks everything, exact cosine re-ranks only the top-50 — both
      // stages zero-shuffle TakeOrdered; the oracle recomputes the
      // quantization, both rankings, and the candidate handoff
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val q = e.filter(col("vec_id") === 0).head().getSeq[Float](1)
        Similarity.rerankTopK(e, "embedding", "vec_id", q,
          k = 10, candidates = 50)
      },
      Some(s"""WITH sc AS (
              |  SELECT vec_id, embedding,
              |         list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS ma
              |  FROM embeddings),
              |qv AS (
              |  SELECT vec_id, embedding,
              |         CASE WHEN ma > 0 THEN 127.0 / ma ELSE 0.0 END AS scale,
              |         list_transform(embedding,
              |           v -> floor(CAST(v AS DOUBLE) * (CASE WHEN ma > 0 THEN 127.0 / ma ELSE 0.0 END) + 0.5)) AS q
              |  FROM sc),
              |qq AS (SELECT scale AS qs, q AS qvec FROM qv WHERE vec_id = 0),
              |s1 AS (
              |  SELECT v.vec_id, v.embedding
              |  FROM qv v CROSS JOIN qq
              |  ORDER BY CASE WHEN v.scale > 0 AND qq.qs > 0
              |                THEN ${dotSql("v.q", "qq.qvec")} / (v.scale * qq.qs)
              |                ELSE 0.0 END DESC, v.vec_id
              |  LIMIT 50),
              |q2 AS (SELECT embedding AS fq FROM embeddings WHERE vec_id = 0)
              |SELECT s1.vec_id,
              |  ${dotSql("s1.embedding", "fq")} /
              |  (sqrt(${dotSql("s1.embedding", "s1.embedding")}) * sqrt(${dotSql("fq", "fq")})) AS cos
              |FROM s1 CROSS JOIN q2
              |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin)),

    QueryDef.headline("matryoshka_recall",
      // Matryoshka-style truncation sweep (Kusupati et al. 2022): recall@10
      // of cosine ranking over PREFIX dims 8/16/32/64 vs the full 64-dim
      // ranking — the measured fidelity/cost curve for serving truncated
      // embeddings; every ranking recomputed end-to-end by the oracle
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val q = e.filter(col("vec_id") === 0).head().getSeq[Float](1)
        val full = Similarity.bruteForceTopK(e, "embedding", "vec_id", q, 10)
          .select("vec_id")
        Seq(8, 16, 32, 64).map { d =>
          val qd = array(q.take(d).map(v => lit(v)): _*)
          val top = e.select(col("vec_id"),
              Similarity.cosine(slice(col("embedding"), 1, d), qd).as("cos"))
            .orderBy(col("cos").desc, col("vec_id")).limit(10)
            .select("vec_id")
          top.join(full, "vec_id")
            .agg((count(lit(1)).cast("double") / 10.0).as("recall_at_10"))
            .select(lit(d).as("dim"), col("recall_at_10"))
        }.reduce(_ unionAll _).orderBy("dim")
      },
      Some {
        val per = Seq(8, 16, 32, 64).map { d =>
          s"""SELECT $d AS dim, CAST(count(*) AS DOUBLE) / 10.0 AS recall_at_10
             |FROM (SELECT e.vec_id,
             |        ${dotSql(s"(e.embedding[1:$d])", s"(q.qv[1:$d])")} /
             |        (sqrt(${dotSql(s"(e.embedding[1:$d])", s"(e.embedding[1:$d])")}) *
             |         sqrt(${dotSql(s"(q.qv[1:$d])", s"(q.qv[1:$d])")})) AS cos
             |      FROM embeddings e CROSS JOIN q
             |      ORDER BY cos DESC, vec_id LIMIT 10) t
             |JOIN brute USING (vec_id)""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |brute AS (
           |  SELECT e.vec_id,
           |    ${dotSql("e.embedding", "q.qv")} /
           |    (sqrt(${dotSql("e.embedding", "e.embedding")}) * sqrt(${dotSql("q.qv", "q.qv")})) AS cos
           |  FROM embeddings e CROSS JOIN q
           |  ORDER BY cos DESC, vec_id LIMIT 10)
           |SELECT * FROM ($per) ORDER BY dim""".stripMargin
      }),

    QueryDef.headline("pca_project",
      // PCA 64 -> 4 principal coordinates: fit is ONE integer-moment pass
      // (VecMomentsAgg — a ~17 KB buffer per partition is the only
      // shuffle), eigensolve is driver-side on the 64x64 covariance;
      // projection is a narrow map over component literals. The oracle
      // gets the trained components/mean offsets as literals (the
      // ann_ivf_* contract) and re-folds every coordinate independently
      (s, dir) => graft.functions.PCA.project(
          Tables.embeddings(s, dir), "embedding", "vec_id", Artifacts.pcaModel(s, dir))
        .orderBy("vec_id"),
      None,
      dynOracle = Some((s, dir) => {
        val m = Artifacts.pcaModel(s, dir)
        // components as QUOTED strings — the ivfAssignedCteSql round-trip
        // trick: bare numeric list literals unify through DECIMAL and lose
        // the last ulp; varchar -> double parses correctly rounded
        val lists = m.components.zipWithIndex.map { case (c, j) =>
          val arr = c.map(x => "'" + fmtD(x) + "'").mkString("[", ", ", "]")
          s"CAST($arr AS DOUBLE[]) AS c$j"
        }.mkString(", ")
        val projs = m.components.zipWithIndex.map { case (c, j) =>
          val off = c.zip(m.mean).map { case (a, b) => a * b }
            .reduceLeft(_ + _)
          s"${dotSql("embedding", s"c$j")} - CAST('${fmtD(off)}' AS DOUBLE) AS p$j"
        }.mkString(",\n  ")
        s"""WITH cg AS (SELECT $lists)
           |SELECT vec_id,
           |  $projs
           |FROM embeddings CROSS JOIN cg ORDER BY vec_id""".stripMargin
      })),

    QueryDef.headline("pca_whiten",
      // whitened PCA coordinates (unit variance per output dim — what
      // k-means/OPQ/SemDeDup consume): same literal-folded narrow map,
      // each coordinate divided by the driver-computed sqrt(lambda_j);
      // oracle re-folds everything from quoted literals
      (s, dir) => graft.functions.PCA.projectWhitened(
          Tables.embeddings(s, dir), "embedding", "vec_id", Artifacts.pcaModel(s, dir))
        .orderBy("vec_id"),
      None,
      dynOracle = Some((s, dir) => {
        val m = Artifacts.pcaModel(s, dir)
        val lists = m.components.zipWithIndex.map { case (c, j) =>
          val arr = c.map(x => "'" + fmtD(x) + "'").mkString("[", ", ", "]")
          s"CAST($arr AS DOUBLE[]) AS c$j"
        }.mkString(", ")
        val projs = m.components.zip(m.variances).zipWithIndex.map {
          case ((c, v), j) =>
            val off = c.zip(m.mean).map { case (a, b) => a * b }
              .reduceLeft(_ + _)
            s"(${dotSql("embedding", s"c$j")} - CAST('${fmtD(off)}' AS DOUBLE))" +
              s" / CAST('${fmtD(math.sqrt(v))}' AS DOUBLE) AS w$j"
        }.mkString(",\n  ")
        s"""WITH cg AS (SELECT $lists)
           |SELECT vec_id,
           |  $projs
           |FROM embeddings CROSS JOIN cg ORDER BY vec_id""".stripMargin
      })),

    QueryDef.headline("embedding_near_dup_lsh",
      (s, dir) => Similarity.cosineNearDupPairs(Tables.embeddings(s, dir),
          "embedding", "vec_id", threshold = 0.4, nPlanes = 4)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH ${lshBucketSql(nPlanes = 4, dim = 64)},
              |n AS (SELECT vec_id, embedding, bucket,
              |        sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM bkt)
              |SELECT id_a, id_b, cos FROM (
              |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              |         ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos
              |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
              |WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin)),

    QueryDef.headline("semantic_dedup",
      // SemDeDup: IVF-cell-blocked cosine near-dup pairs -> connected
      // components -> keep the min-id representative per semantic cluster.
      // The oracle re-derives cell assignment from the shared centroid
      // literals, re-finds every within-cell pair, and recomputes the
      // clusters with a RECURSIVE reachability CTE — only the trained
      // centroids are shared between engines (same contract as ann_ivf_*)
      (s, dir) => graft.functions.Similarity.semanticDedup(
          Tables.embeddings(s, dir), "embedding", "vec_id",
          Artifacts.ivfModel(s, dir), threshold = 0.4)
        .orderBy("vec_id"),
      None,
      dynOracle = Some((s, dir) =>
        s"""WITH RECURSIVE ${ivfAssignedCteSql(Artifacts.ivfModel(s, dir))},
           |n AS (SELECT vec_id, embedding, cell,
           |        sqrt(${dotSql("embedding", "embedding")}) AS nrm
           |      FROM assigned),
           |good AS (
           |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
           |  FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id
           |  WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.4),
           |edges AS (SELECT id_a AS src, id_b AS dst FROM good
           |          UNION ALL SELECT id_b, id_a FROM good),
           |reach(id, lbl) AS (
           |  SELECT vec_id, vec_id FROM embeddings
           |  UNION
           |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id)
           |SELECT id AS vec_id, min(lbl) AS cluster_id, (id = min(lbl)) AS keep
           |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin)),

    QueryDef.headline("embedding_outliers",
      // per-vector prototypicality: assigned cell + squared-L2 distance to
      // its centroid (the SemDeDup noise-pruning / quantizer-drift signal).
      // The oracle recomputes every distance and the argmin from the
      // shared centroid literals
      (s, dir) => graft.functions.IVF.outlierScores(
          Tables.embeddings(s, dir), "embedding", "vec_id", Artifacts.ivfModel(s, dir))
        .orderBy("vec_id"),
      None,
      dynOracle = Some((s, dir) =>
        s"""WITH ${ivfAssignedCteSql(Artifacts.ivfModel(s, dir))},
           |d AS (SELECT vec_id, cell, dist,
           |        row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
           |      FROM dists)
           |SELECT vec_id, cell AS ivf_cell, dist AS dist2
           |FROM d WHERE rn = 1 ORDER BY vec_id""".stripMargin)),

    QueryDef.headline("semantic_dedup_central",
      // SemDeDup's survivor policy: per semantic cluster keep the member
      // closest to its centroid; the oracle re-derives assignment,
      // distances, pairs, RECURSIVE clusters, and the per-cluster argmin
      (s, dir) => graft.functions.Similarity.semanticKeepCentral(
          Tables.embeddings(s, dir), "embedding", "vec_id",
          Artifacts.ivfModel(s, dir), threshold = 0.4)
        .orderBy("cluster_id"),
      None,
      dynOracle = Some((s, dir) =>
        s"""WITH RECURSIVE ${ivfAssignedCteSql(Artifacts.ivfModel(s, dir))},
           |n AS (SELECT vec_id, embedding, cell,
           |        sqrt(${dotSql("embedding", "embedding")}) AS nrm
           |      FROM assigned),
           |good AS (
           |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
           |  FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id
           |  WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.4),
           |edges AS (SELECT id_a AS src, id_b AS dst FROM good
           |          UNION ALL SELECT id_b, id_a FROM good),
           |reach(id, lbl) AS (
           |  SELECT vec_id, vec_id FROM embeddings
           |  UNION
           |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
           |clus AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
           |dist AS (SELECT vec_id, dist FROM (
           |    SELECT vec_id, dist,
           |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
           |    FROM dists) WHERE rn = 1),
           |j AS (SELECT c.cluster_id, c.id, d.dist
           |      FROM clus c JOIN dist d ON d.vec_id = c.id),
           |r AS (SELECT cluster_id, id,
           |        row_number() OVER (PARTITION BY cluster_id ORDER BY dist, id) AS rn,
           |        count(*) OVER (PARTITION BY cluster_id) AS n
           |      FROM j)
           |SELECT cluster_id, id AS keep_id, n AS n_members
           |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin)),

    QueryDef.headline("semantic_dedup_incremental",
      // incremental semantic near-dup: the new batch (vec_id % 5 = 0) is
      // probed against the PERSISTED cell-partitioned index of the
      // accepted corpus (vec_id % 5 != 0) — only touched cell directories
      // are read (partition pruning), the corpus is never self-compared.
      // The oracle recomputes cell assignment for BOTH sides from the
      // shared centroid literals and re-finds every cross-batch pair
      (s, dir) => {
        val incoming = Tables.embeddings(s, dir)
          .filter(col("vec_id") % 5 === 0)
        val corpus = s.read.parquet(Artifacts.ivfIndexedPath(s, dir))
          .filter(col("vec_id") % 5 =!= 0)
        graft.functions.Similarity.semanticPairsAgainstIndex(
            incoming, corpus, "embedding", "vec_id",
            Artifacts.ivfModel(s, dir), threshold = 0.4)
          .orderBy("id_new", "id_corpus")
      },
      None,
      dynOracle = Some((s, dir) =>
        s"""WITH ${ivfAssignedCteSql(Artifacts.ivfModel(s, dir))},
           |n AS (SELECT vec_id, embedding, cell,
           |        sqrt(${dotSql("embedding", "embedding")}) AS nrm
           |      FROM assigned),
           |inc AS (SELECT * FROM n WHERE vec_id % 5 = 0),
           |base AS (SELECT * FROM n WHERE vec_id % 5 != 0)
           |SELECT id_new, id_corpus, cos FROM (
           |  SELECT i.vec_id AS id_new, b.vec_id AS id_corpus,
           |         ${dotSql("i.embedding", "b.embedding")} / (i.nrm * b.nrm) AS cos
           |  FROM inc i JOIN base b ON i.cell = b.cell)
           |WHERE cos >= 0.4 ORDER BY id_new, id_corpus""".stripMargin)),

    QueryDef.headline("hybrid_search_rrf",
      // hybrid retrieval: BM25 top-50 (sparse/lexical) and brute-force
      // cosine top-50 over the aligned embedding table (dense/semantic)
      // fused by reciprocal-rank fusion — integer 1e6 div (60 + rank)
      // contributions, so incomparable score scales never mix. The fused
      // pool is 2x50 rows; the corpus-sized work lives in the two
      // rankers, both of which have their own scale paths (inverted
      // postings / IVF). Oracle replays BOTH rankings and the fusion.
      (s, dir) => {
        val sparse = TextAnalysis.bm25TopK(Tables.documents(s, dir),
            "doc_id", "text", Seq("q_scan" -> Seq("scan", "table", "column")),
            k1 = 1.2, b = 0.75, topK = 50)
          .select(col("doc_id"), col("rnk").as("rank"))
        val emb = Tables.embeddings(s, dir)
        val qv = emb.filter(col("vec_id") === 0).head().getSeq[Float](1)
        val dense = Similarity.bruteForceTopK(emb, "embedding", "vec_id", qv, 50)
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("cos").desc, col("vec_id"))))
          .select(col("vec_id").as("doc_id"), col("rank"))
        Similarity.rrfFuse(Seq(sparse, dense), "doc_id", "rank",
            k0 = 60, topK = 10)
          .orderBy("rank")
      },
      Some {
        s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
           |           FROM documents),
           |st AS (SELECT count(*) AS n, sum(len(t)) AS tot FROM d),
           |tf AS (SELECT doc_id, dl, tok AS term, count(*) AS tf
           |       FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS tok FROM d)
           |       WHERE tok IN ('scan','table','column')
           |       GROUP BY 1, 2, 3),
           |dft AS (SELECT term, count(*) AS dft FROM tf GROUP BY 1),
           |sc AS (SELECT tf.doc_id,
           |    CAST(floor(ln(1.0 + (st.n - dft.dft + 0.5) / (dft.dft + 0.5))
           |      * (tf.tf * 2.2)
           |      / (tf.tf + 1.2 * (0.25 + 0.75 * ((tf.dl * st.n) / st.tot)))
           |      * 1000000.0 + 0.5) AS BIGINT) AS s
           |  FROM tf JOIN dft USING (term) CROSS JOIN st),
           |pd AS (SELECT doc_id, CAST(sum(s) AS BIGINT) AS sm
           |       FROM sc GROUP BY 1),
           |sparse AS (SELECT doc_id, rnk FROM (
           |    SELECT doc_id, row_number() OVER (ORDER BY sm DESC, doc_id)
           |      AS rnk FROM pd)
           |  WHERE rnk <= 50),
           |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |cs AS (SELECT vec_id,
           |    ${dotSql("embedding", "qv")} /
           |    (sqrt(${dotSql("embedding", "embedding")}) * sqrt(${dotSql("qv", "qv")})) AS cos
           |  FROM embeddings CROSS JOIN q),
           |dense AS (SELECT doc_id, rnk FROM (
           |    SELECT vec_id AS doc_id,
           |      row_number() OVER (ORDER BY cos DESC, vec_id) AS rnk FROM cs)
           |  WHERE rnk <= 50),
           |u AS (SELECT doc_id, 1000000 // (60 + rnk) AS c FROM sparse
           |      UNION ALL SELECT doc_id, 1000000 // (60 + rnk) FROM dense),
           |f AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf_score_ppm,
           |      CAST(count(*) AS BIGINT) AS n_lists FROM u GROUP BY 1)
           |SELECT doc_id, rrf_score_ppm, n_lists, rank FROM (
           |  SELECT doc_id, rrf_score_ppm, n_lists,
           |    CAST(row_number() OVER (ORDER BY rrf_score_ppm DESC, doc_id)
           |      AS INT) AS rank
           |  FROM f)
           |WHERE rank <= 10 ORDER BY rank""".stripMargin
      }),

    QueryDef.headline("retrieval_mrr",
      // the eval harness for the ANN family: MRR@10 per label over exact
      // brute-cosine rankings (same-label = relevant), reciprocal ranks
      // in integer ppm so the mean is exact. Queries broadcast; the
      // per-query top-10 moves through the two-stage TopKPerKey prune —
      // the corpus never shuffles its vectors. Oracle replays every
      // cosine, the (cos desc, id) ranking, and the integer means
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        graft.functions.Similarity.retrievalMrr(
            e, e.filter(col("vec_id") < 32), "embedding", "vec_id",
            "label", k = 10)
          .orderBy("label")
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS ql
              |           FROM embeddings WHERE vec_id < 32),
              |sc AS (
              |  SELECT q.qid, q.ql, e.vec_id AS cid, e.label AS cl,
              |    ${dotSql("e.embedding", "q.qv")} /
              |    (sqrt(${dotSql("e.embedding", "e.embedding")})
              |     * sqrt(${dotSql("q.qv", "q.qv")})) AS cos
              |  FROM embeddings e JOIN q ON e.vec_id <> q.qid),
              |r AS (SELECT *, row_number() OVER (
              |        PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
              |      FROM sc),
              |fr AS (SELECT qid, min(rnk) AS first_rank
              |       FROM r WHERE rnk <= 10 AND cl = ql GROUP BY qid),
              |per AS (SELECT q.qid, q.ql,
              |          COALESCE(1000000 // fr.first_rank, 0) AS rr_ppm
              |        FROM q LEFT JOIN fr USING (qid))
              |SELECT ql AS label, CAST(count(*) AS BIGINT) AS n_queries,
              |  CAST(sum(rr_ppm) // count(*) AS BIGINT) AS mean_rr_ppm
              |FROM per GROUP BY ql ORDER BY label""".stripMargin)),

    QueryDef.headline("embedding_dim_drift",
      // per-dimension drift census between reference (even vec_id) and
      // new (odd vec_id) slices: top-10 shifted dims by exact micro-unit
      // mean shift — a systematic encoder/preprocessing change shows as
      // a few strong dims, ordinary data drift as uniform noise. One
      // dims-wide (metadata-keyed) shuffle + TakeOrdered
      (s, dir) => graft.functions.Similarity.dimDrift(
          Tables.embeddings(s, dir), "embedding",
          pmod(col("vec_id"), lit(2)) === 1),
      Some("""WITH x AS (
             |  SELECT vec_id % 2 = 1 AS isnew, CAST(i AS INT) AS dim,
             |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5)
             |      AS BIGINT) AS q
             |  FROM embeddings,
             |    unnest(generate_series(1, len(embedding))) AS t(i)),
             |a AS (
             |  SELECT dim,
             |    CAST(sum(CASE WHEN NOT isnew THEN q END) AS BIGINT)
             |      AS sum_ref,
             |    CAST(count(CASE WHEN NOT isnew THEN 1 END) AS BIGINT)
             |      AS n_ref,
             |    CAST(sum(CASE WHEN isnew THEN q END) AS BIGINT)
             |      AS sum_new,
             |    CAST(count(CASE WHEN isnew THEN 1 END) AS BIGINT)
             |      AS n_new
             |  FROM x GROUP BY 1)
             |SELECT dim, sum_ref, n_ref, sum_new, n_new,
             |  CAST((CAST(sum_new AS HUGEINT) * n_ref
             |        - CAST(sum_ref AS HUGEINT) * n_new)
             |    // (CAST(n_ref AS HUGEINT) * n_new) AS BIGINT)
             |    AS shift_micro
             |FROM a WHERE n_ref > 0 AND n_new > 0
             |ORDER BY abs(shift_micro) DESC, dim LIMIT 10""".stripMargin)))
}
