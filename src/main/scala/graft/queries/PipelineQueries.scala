package graft.queries

import graft.functions.{Dedup, Graphs, Multimodal, Packing, Similarity, Sketches, TextAnalysis, TextClean}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over `documents` and `embeddings`:
  * dedup, similarity search, text analysis, multimodal plumbing. Oracles are
  * exact-arithmetic mirrors (sequential double folds, integer ratios) so the
  * hash compare is meaningful; the approximate operators whose internals are
  * not SQL-expressible (simhash, hyperplane LSH) ship rows-only and are
  * pinned by ScalaTest instead.
  */
object PipelineQueries {

  /** DuckDB fragment: marker-score per language, as columns s_en, s_es, … */
  private def langScoreSql: String =
    TextAnalysis.Langs.map { case (l, m) =>
      s"len(list_intersect(string_split(text,' '), [${m.map("'" + _ + "'").mkString(",")}])) AS s_$l"
    }.mkString(",\n       ")

  private def langCaseSql: String = {
    val names = TextAnalysis.Langs.map(_._1)
    val cases = names.indices.dropRight(1).map { i =>
      val cond = names.drop(i + 1).map(later => s"s_${names(i)} >= s_$later").mkString(" AND ")
      s"WHEN $cond THEN '${names(i)}'"
    }
    s"CASE ${cases.mkString(" ")} ELSE '${names.last}' END"
  }

  /** DuckDB fragment: sequential double dot-product fold of two lists. */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x,y) -> x+y)"

  /** Shortest-round-trip double literal: Java's Double.toString emits the
    * shortest decimal that parses back to the exact same double, and DuckDB's
    * parser is correctly rounded — so Spark-side doubles survive the trip
    * into SQL bit-for-bit. */
  private def fmtD(d: Double): String = d.toString

  /** DuckDB CTEs recomputing every 64-bit SimHash signature from scratch
    * (token split, md5-u64 token hash, per-bit vote, signed pack) — the
    * independent oracle for [[graft.plans.SimHash64]]. Yields a `sigs`
    * relation (doc_id, simhash). Bit j of a token's hash lives in hex char
    * 16 - j/4 (big-endian), at bit position j%4 within the nibble. */
  private val simhashSigsSql: String = {
    val sums = (0 until 64).map { j =>
      val pos = 16 - j / 4
      val shift = j % 4
      s"sum(CASE WHEN (((strpos('0123456789abcdef', substr(hx, $pos, 1)) - 1) >> $shift) & 1) = 1 THEN 1 ELSE -1 END) AS s$j"
    }.mkString(",\n       ")
    // bit 63 is the sign bit of the signed 64-bit result
    val packed = (0 until 63).map { j =>
      s"(CASE WHEN s$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
    val sign = "(CASE WHEN s63 > 0 THEN CAST(-9223372036854775807 - 1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    s"""tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t FROM documents),
       |hashed AS (SELECT doc_id, substr(md5(t), 1, 16) AS hx FROM tok),
       |sums AS (SELECT doc_id,
       |       $sums
       |     FROM hashed GROUP BY doc_id),
       |sigs AS (SELECT doc_id, CAST($sign + $packed AS BIGINT) AS simhash FROM sums)""".stripMargin
  }

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

  /** Shared DuckDB CTE chain for the pretraining-recipe gates
    * ([[graft.functions.Recipe.stageFlags]] replayed from raw text):
    * yields `s4` with one row per doc carrying doc_id, source, n_tokens,
    * the five stage flags, and the battery's first_failed. The quality
    * stage is the FULL Gopher battery ([[gopherBatterySql]]) at the
    * funnel's fixture word bounds (8..100,000). Final SELECTs differ
    * per gate. */
  private def recipeStageCtes: String = {
    s"""${gopherBatterySql(8, 100000)},
       |m AS (
       |  SELECT doc_id, source, text,
       |    len(string_split(text,' ')) AS n_tokens,
       |    $langScoreSql
       |  FROM documents),
       |f AS (
       |  SELECT m.doc_id, m.source, m.text, m.n_tokens,
       |    ($langCaseSql) = 'en' AS lang_ok,
       |    gv.first_failed,
       |    gv.first_failed IS NULL AS gopher_ok
       |  FROM m JOIN gv USING (doc_id)),
       |s2 AS (
       |  SELECT *, (lang_ok AND gopher_ok) AS surv_q,
       |    ((lang_ok AND gopher_ok) AND doc_id = min(CASE
       |        WHEN lang_ok AND gopher_ok THEN doc_id END)
       |      OVER (PARTITION BY md5(text))) AS surv_d
       |  FROM f),
       |bg AS (
       |  SELECT DISTINCT unnest($Shingles5Sql) AS gram
       |  FROM documents WHERE doc_id % 20 = 0),
       |contam AS (
       |  SELECT DISTINCT e.doc_id AS cid
       |  FROM (SELECT doc_id, unnest($Shingles5Sql) AS gram
       |        FROM s2 WHERE surv_d) e
       |  JOIN bg USING (gram)),
       |s4 AS (
       |  SELECT s2.doc_id, s2.source, s2.n_tokens, s2.lang_ok, s2.gopher_ok,
       |    s2.first_failed, s2.surv_q, s2.surv_d,
       |    (s2.surv_d AND c.cid IS NULL) AS surv_c,
       |    (s2.surv_d AND c.cid IS NULL AND ($DocHashSql) % 2 = 0) AS surv_s
       |  FROM s2 LEFT JOIN contam c ON s2.doc_id = c.cid)""".stripMargin
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

  /** DuckDB fragment: word-3-shingle list of `text` (distinct). */
  private val ShinglesSql =
    """list_distinct(CASE WHEN len(string_split(text,' ')) >= 3
      |  THEN list_transform(generate_series(1, len(string_split(text,' '))-2),
      |       i -> array_to_string((string_split(text,' '))[i:i+2], ' '))
      |  ELSE [text] END)""".stripMargin

  /** k=5 variant of [[ShinglesSql]] (decontamination grams). */
  private val Shingles5Sql =
    """list_distinct(CASE WHEN len(string_split(text,' ')) >= 5
      |  THEN list_transform(generate_series(1, len(string_split(text,' '))-4),
      |       i -> array_to_string((string_split(text,' '))[i:i+4], ' '))
      |  ELSE [text] END)""".stripMargin

  /** DuckDB rendering of [[graft.functions.Sampling.hashSlice32]] on
    * doc_id — the uniform 32-bit md5 slice every deterministic sampler
    * keys on. */
  private val DocHashSql =
    """list_reduce(list_transform(
      |    regexp_extract_all(substr(md5(CAST(doc_id AS VARCHAR)), 25, 8), '.'),
      |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16 + b)""".stripMargin

  /** [[DocHashSql]] generalized to an arbitrary VARCHAR expression —
    * DuckDB rendering of [[graft.functions.Sampling.hashSlice32]]. */
  private def md5SliceSql(expr: String): String =
    s"""list_reduce(list_transform(
       |    regexp_extract_all(substr(md5($expr), 25, 8), '.'),
       |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16 + b)""".stripMargin

  /** DuckDB replay of [[graft.functions.TextAnalysis
    * .doremiWeightTrajectory]]: the landed-LM per-domain NLL aggregate,
    * then `steps` UNROLLED EG iterations — weighted-mean excess, clipped
    * exp, ppm renormalization — carried between steps as MATERIALIZED
    * HUGEINT weight CTEs (w{i}/e{i} are each referenced twice per step;
    * inlined they would go exponential — the BPE/pagerank oracle
    * lesson). Final SELECT joins every w{i} for the trajectory average. */
  /** Unrolled DuckDB replay of [[graft.functions.Unigram.learn]] (and,
    * with `segment = true`, [[graft.functions.Unigram.learnSegment]]):
    * the seed gram census, then `rounds` hard-EM rounds — each a full
    * recursive-CTE Viterbi decode under the current scores (absent
    * pieces yield NULL candidates, skipped by list_max exactly as
    * Spark's array_max skips null structs), a frequency-weighted piece
    * re-count from the best segmentations, and the prune rule
    * (single chars floored at count 1, multi-char pieces kept at
    * cnt >= minCount). Every cross-referenced CTE is MATERIALIZED (the
    * BPE/pagerank inlining lesson). */
  /** The hard-Viterbi decode block over a vocabulary CTE v$r — shared
    * by the hard learner's oracle (every round + the segment census)
    * and the soft learner's segment census (decode under the
    * soft-learned vocabulary is plain Viterbi, the engine's
    * [[graft.functions.Unigram.segmentSoft]]). */
  private def unigramDecodeBlock(r: Int): String =
    s"""t$r AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM v$r),
         |sc$r AS MATERIALIZED (
         |  SELECT piece,
         |    CAST(floor(ln(CAST(cnt AS DOUBLE) / t) * 1e6 + 0.5)
         |      AS BIGINT) AS s
         |  FROM v$r, t$r),
         |wm$r AS MATERIALIZED (
         |  SELECT word, map_from_entries(list({'k': piece, 'v': s})) AS m
         |  FROM grams JOIN sc$r USING (piece) GROUP BY word),
         |st$r AS (
         |  SELECT word, m, 0 AS i, [CAST(0 AS BIGINT)] AS best,
         |         CAST([] AS INT[]) AS ptr
         |  FROM wm$r
         |  UNION ALL
         |  SELECT word, m, i + 1,
         |         list_append(best, cand[1]),
         |         list_append(ptr, CAST(coalesce(cand[2], 1) AS INT))
         |  FROM (
         |    SELECT *, list_max(list_transform(
         |      generate_series(1, least(4, i + 1)),
         |      l -> CASE WHEN m[substr(word, CAST(i + 2 - l AS INT),
         |                    CAST(l AS INT))][1] IS NULL
         |                  OR best[i + 2 - l] IS NULL THEN NULL
         |           ELSE [best[i + 2 - l]
         |                   + m[substr(word, CAST(i + 2 - l AS INT),
         |                       CAST(l AS INT))][1],
         |                 CAST(l AS BIGINT)] END)) AS cand
         |    FROM st$r WHERE i < length(word))),
         |fin$r AS MATERIALIZED (
         |  SELECT word, best[length(word) + 1] AS score_micronats, ptr,
         |         CAST(length(word) AS INT) AS n
         |  FROM st$r WHERE i = length(word)),
         |wk$r AS (
         |  SELECT word, ptr, n AS pos, CAST([] AS VARCHAR[]) AS ps
         |  FROM fin$r
         |  UNION ALL
         |  SELECT word, ptr, pos - ptr[pos] AS pos,
         |         list_prepend(substr(word,
         |           CAST(pos - ptr[pos] + 1 AS INT),
         |           CAST(ptr[pos] AS INT)), ps) AS ps
         |  FROM wk$r WHERE pos > 0)""".stripMargin

  private def unigramLearnOracleSql(rounds: Int, minCount: Int,
      segment: Boolean): String = {
    def decodeBlock(r: Int): String = unigramDecodeBlock(r)
    def pruneBlock(r: Int): String =
      s"""c${r + 1} AS MATERIALIZED (
         |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT wh.freq, unnest(k.ps) AS piece
         |    FROM (SELECT word, ps FROM wk$r WHERE pos = 0) k
         |    JOIN wh USING (word))
         |  GROUP BY piece),
         |v${r + 1} AS MATERIALIZED (
         |  SELECT ch.piece,
         |    greatest(coalesce(c${r + 1}.cnt, 0), CAST(1 AS BIGINT))
         |      AS cnt
         |  FROM ch LEFT JOIN c${r + 1} USING (piece)
         |  UNION ALL
         |  SELECT piece, cnt FROM c${r + 1}
         |  WHERE length(piece) > 1 AND cnt >= $minCount)""".stripMargin
    val head =
      s"""WITH RECURSIVE
         |wh AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word
         |        FROM documents)
         |  WHERE word <> '' GROUP BY word),
         |v0 AS MATERIALIZED (
         |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq,
         |      substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece
         |    FROM wh, unnest(generate_series(1, length(word))) AS t1(i),
         |         unnest(generate_series(1, 4)) AS t2(l)
         |    WHERE i + l - 1 <= length(word))
         |  GROUP BY piece),
         |ch AS MATERIALIZED (SELECT piece FROM v0 WHERE length(piece) = 1),
         |grams AS MATERIALIZED (
         |  SELECT DISTINCT word,
         |    substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece
         |  FROM wh, unnest(generate_series(1, length(word))) AS t1(i),
         |       unnest(generate_series(1, 4)) AS t2(l)
         |  WHERE i + l - 1 <= length(word))""".stripMargin
    val roundsSql = (0 until rounds)
      .map(r => decodeBlock(r) + ",\n" + pruneBlock(r))
    val finalScores =
      s"""t$rounds AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM v$rounds),
         |sc$rounds AS MATERIALIZED (
         |  SELECT piece,
         |    CAST(floor(ln(CAST(cnt AS DOUBLE) / t) * 1e6 + 0.5)
         |      AS BIGINT) AS s
         |  FROM v$rounds, t$rounds)""".stripMargin
    if (!segment)
      (Seq(head) ++ roundsSql ++ Seq(finalScores)).mkString(",\n") +
        s"""
           |SELECT v$rounds.piece, v$rounds.cnt,
           |  sc$rounds.s AS score_micronats,
           |  CAST(length(v$rounds.piece) AS INT) AS piece_len
           |FROM v$rounds JOIN sc$rounds USING (piece)
           |ORDER BY piece""".stripMargin
    else
      (Seq(head) ++ roundsSql ++ Seq(decodeBlock(rounds)))
        .mkString(",\n") +
        s"""
           |SELECT w.word, h.freq, CAST(len(k.ps) AS INT) AS n_pieces,
           |  w.score_micronats, array_to_string(k.ps, ' ') AS segmented
           |FROM fin$rounds w JOIN wh h ON w.word = h.word
           |JOIN (SELECT word, ps FROM wk$rounds WHERE pos = 0) k
           |  ON w.word = k.word
           |ORDER BY w.word""".stripMargin
  }

  /** Oracle for [[graft.functions.Unigram.learnSoft]] — the SOFT-EM
    * (lattice-marginal) rounds. Replays, per round: the micronat score
    * mint, the forward and backward quantized log-sum-exp DPs as
    * recursive CTEs (candidates accumulate in ascending piece-length
    * order — list order here, the fold order engine-side), the
    * per-occurrence expected MICROCOUNT quantization, and the integer
    * microcount prune. Every cross-engine float surface is a single
    * floor(f(x) * 1e6 + 0.5); every sum is an exact integer sum. */
  private def unigramLearnSoftOracleSql(rounds: Int,
      minCount: Int, segment: Boolean = false): String = {
    val floorC = minCount.toLong * 1000000L
    def lseStep(cte: String, idx: String, stateList: String,
        candsSql: String, bound: String): String =
      s"""  SELECT word, m, $idx + 1,
         |    list_append($stateList, CAST(floor(CAST(mx AS DOUBLE)
         |      + ln(list_aggregate(list_transform(cs,
         |          c -> exp(CAST(c - mx AS DOUBLE) / 1e6)), 'sum')) * 1e6
         |      + 0.5) AS BIGINT))
         |  FROM (SELECT word, m, $idx, $stateList, cs, list_max(cs) AS mx
         |        FROM (SELECT *, $candsSql AS cs
         |              FROM $cte WHERE $idx < $bound))""".stripMargin
    def softBlock(r: Int): String = {
      val fwdCands =
        s"""list_filter(list_transform(
           |        generate_series(1, least(4, i + 1)),
           |        l -> CASE WHEN m[substr(word, CAST(i + 2 - l AS INT),
           |                      CAST(l AS INT))][1] IS NULL THEN NULL
           |             ELSE a[i + 2 - l]
           |                  + m[substr(word, CAST(i + 2 - l AS INT),
           |                      CAST(l AS INT))][1] END),
           |        x -> x IS NOT NULL)""".stripMargin
      val bwdCands =
        s"""list_filter(list_transform(
           |        generate_series(1, least(4, j + 1)),
           |        l -> CASE WHEN m[substr(word,
           |                      CAST(length(word) - j AS INT),
           |                      CAST(l AS INT))][1] IS NULL THEN NULL
           |             ELSE m[substr(word,
           |                      CAST(length(word) - j AS INT),
           |                      CAST(l AS INT))][1]
           |                  + b[j + 2 - l] END),
           |        x -> x IS NOT NULL)""".stripMargin
      s"""t$r AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM v$r),
         |sc$r AS MATERIALIZED (
         |  SELECT piece,
         |    CAST(floor(ln(CAST(cnt AS DOUBLE) / t) * 1e6 + 0.5)
         |      AS BIGINT) AS s
         |  FROM v$r, t$r),
         |wm$r AS MATERIALIZED (
         |  SELECT word, map_from_entries(list({'k': piece, 'v': s})) AS m
         |  FROM grams JOIN sc$r USING (piece) GROUP BY word),
         |fw$r AS (
         |  SELECT word, m, 0 AS i, [CAST(0 AS BIGINT)] AS a FROM wm$r
         |  UNION ALL
         |${lseStep(s"fw$r", "i", "a", fwdCands, "length(word)")}),
         |bw$r AS (
         |  SELECT word, m, 0 AS j, [CAST(0 AS BIGINT)] AS b FROM wm$r
         |  UNION ALL
         |${lseStep(s"bw$r", "j", "b", bwdCands, "length(word)")}),
         |ffin$r AS MATERIALIZED (
         |  SELECT word, m, a FROM fw$r WHERE i = length(word)),
         |bfin$r AS MATERIALIZED (
         |  SELECT word, b FROM bw$r WHERE j = length(word)),
         |eo$r AS MATERIALIZED (
         |  SELECT word, piece,
         |    CAST(floor(exp(CAST(a[CAST(i AS INT)] + s
         |        + b[CAST(length(word) + 2 - i - l AS INT)]
         |        - a[CAST(length(word) + 1 AS INT)] AS DOUBLE) / 1e6)
         |      * 1e6 + 0.5) AS BIGINT) AS eq
         |  FROM (
         |    SELECT f.word, f.a, bb.b, i, l,
         |      substr(f.word, CAST(i AS INT), CAST(l AS INT)) AS piece,
         |      f.m[substr(f.word, CAST(i AS INT), CAST(l AS INT))][1] AS s
         |    FROM ffin$r f JOIN bfin$r bb USING (word),
         |         unnest(generate_series(1, length(f.word))) AS t1(i),
         |         unnest(generate_series(1, 4)) AS t2(l)
         |    WHERE i + l - 1 <= length(f.word))
         |  WHERE s IS NOT NULL),
         |c${r + 1} AS MATERIALIZED (
         |  SELECT piece, CAST(sum(eq * freq) AS BIGINT) AS cnt
         |  FROM eo$r JOIN wh USING (word) GROUP BY piece),
         |v${r + 1} AS MATERIALIZED (
         |  SELECT ch.piece,
         |    greatest(coalesce(c.cnt, 0), CAST(1000000 AS BIGINT)) AS cnt
         |  FROM ch LEFT JOIN c${r + 1} c USING (piece)
         |  UNION ALL
         |  SELECT piece, cnt FROM c${r + 1}
         |  WHERE length(piece) > 1 AND cnt >= $floorC)""".stripMargin
    }
    val head =
      s"""WITH RECURSIVE
         |wh AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word
         |        FROM documents)
         |  WHERE word <> '' GROUP BY word),
         |v0 AS MATERIALIZED (
         |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq,
         |      substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece
         |    FROM wh, unnest(generate_series(1, length(word))) AS t1(i),
         |         unnest(generate_series(1, 4)) AS t2(l)
         |    WHERE i + l - 1 <= length(word))
         |  GROUP BY piece),
         |ch AS MATERIALIZED (SELECT piece FROM v0 WHERE length(piece) = 1),
         |grams AS MATERIALIZED (
         |  SELECT DISTINCT word,
         |    substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece
         |  FROM wh, unnest(generate_series(1, length(word))) AS t1(i),
         |       unnest(generate_series(1, 4)) AS t2(l)
         |  WHERE i + l - 1 <= length(word))""".stripMargin
    val finalScores =
      s"""t$rounds AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM v$rounds),
         |sc$rounds AS MATERIALIZED (
         |  SELECT piece,
         |    CAST(floor(ln(CAST(cnt AS DOUBLE) / t) * 1e6 + 0.5)
         |      AS BIGINT) AS s
         |  FROM v$rounds, t$rounds)""".stripMargin
    if (!segment)
      (Seq(head) ++ (0 until rounds).map(softBlock) ++ Seq(finalScores))
        .mkString(",\n") +
        s"""
           |SELECT v$rounds.piece, v$rounds.cnt AS cnt_micro,
           |  sc$rounds.s AS score_micronats,
           |  CAST(length(v$rounds.piece) AS INT) AS piece_len
           |FROM v$rounds JOIN sc$rounds USING (piece)
           |ORDER BY piece""".stripMargin
    else
      // segment census under the soft-learned vocabulary: the soft
      // rounds land v$rounds, then the decode is plain hard Viterbi
      // over its minted scores — the shared decode block
      (Seq(head) ++ (0 until rounds).map(softBlock) ++
        Seq(unigramDecodeBlock(rounds))).mkString(",\n") +
        s"""
           |SELECT w.word, h.freq, CAST(len(k.ps) AS INT) AS n_pieces,
           |  w.score_micronats, array_to_string(k.ps, ' ') AS segmented
           |FROM fin$rounds w JOIN wh h ON w.word = h.word
           |JOIN (SELECT word, ps FROM wk$rounds WHERE pos = 0) k
           |  ON w.word = k.word
           |ORDER BY w.word""".stripMargin
  }

  /** DuckDB replay of [[graft.functions.Unigram.sampleSegments]] —
    * forward-filtering backward-sampling at temperature alpha under the
    * seed census model. The forward lattice is the soft oracle's
    * quantized log-sum-exp recursion over TEMPERATURE-SCALED scores;
    * the backward walk is a recursive CTE drawing each piece from the
    * integer MICROPROB weights with the md5-slice threshold — every
    * comparison integer-vs-integer, so the sampled segmentations match
    * the engine's bit-exactly. Candidate order is ascending piece
    * length in both engines (list order here, the fold order there). */
  private def unigramSampleOracleSql(nSamples: Int, alphaPpm: Long,
      seed: String): String =
    s"""WITH RECURSIVE
       |wh AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word
       |        FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |v0 AS MATERIALIZED (
       |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
       |    SELECT freq,
       |      substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece
       |    FROM wh, unnest(generate_series(1, length(word))) AS t1(i),
       |         unnest(generate_series(1, 4)) AS t2(l)
       |    WHERE i + l - 1 <= length(word))
       |  GROUP BY piece),
       |grams AS MATERIALIZED (
       |  SELECT DISTINCT word,
       |    substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece
       |  FROM wh, unnest(generate_series(1, length(word))) AS t1(i),
       |       unnest(generate_series(1, 4)) AS t2(l)
       |  WHERE i + l - 1 <= length(word)),
       |t0 AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM v0),
       |ssc AS MATERIALIZED (
       |  SELECT piece, CAST(floor(CAST(
       |      CAST(floor(ln(CAST(cnt AS DOUBLE) / t) * 1e6 + 0.5)
       |        AS BIGINT) * $alphaPpm AS DOUBLE) / 1e6 + 0.5)
       |      AS BIGINT) AS s
       |  FROM v0, t0),
       |wm AS MATERIALIZED (
       |  SELECT word, map_from_entries(list({'k': piece, 'v': s})) AS m
       |  FROM grams JOIN ssc USING (piece) GROUP BY word),
       |fw AS (
       |  SELECT word, m, 0 AS i, [CAST(0 AS BIGINT)] AS a FROM wm
       |  UNION ALL
       |  SELECT word, m, i + 1,
       |    list_append(a, CAST(floor(CAST(mx AS DOUBLE)
       |      + ln(list_aggregate(list_transform(cs,
       |          c -> exp(CAST(c - mx AS DOUBLE) / 1e6)), 'sum')) * 1e6
       |      + 0.5) AS BIGINT))
       |  FROM (SELECT word, m, i, a, cs, list_max(cs) AS mx
       |        FROM (SELECT *, list_filter(list_transform(
       |              generate_series(1, least(4, i + 1)),
       |              l -> CASE WHEN m[substr(word,
       |                        CAST(i + 2 - l AS INT),
       |                        CAST(l AS INT))][1] IS NULL THEN NULL
       |                   ELSE a[i + 2 - l]
       |                        + m[substr(word, CAST(i + 2 - l AS INT),
       |                            CAST(l AS INT))][1] END),
       |              x -> x IS NOT NULL) AS cs
       |              FROM fw WHERE i < length(word)))),
       |ffin AS MATERIALIZED (
       |  SELECT word, m, a FROM fw WHERE i = length(word)),
       |wk AS (
       |  SELECT word, k, 0 AS step, CAST(length(word) AS BIGINT) AS pos,
       |         CAST([] AS VARCHAR[]) AS ps, m, a
       |  FROM ffin, unnest(generate_series(1, $nSamples)) AS tk(k)
       |  UNION ALL
       |  SELECT word, k, step + 1, pos - pl AS pos,
       |         list_prepend(substr(word, CAST(pos - pl + 1 AS INT),
       |           CAST(pl AS INT)), ps) AS ps, m, a
       |  FROM (
       |    SELECT *, CAST(list_min(list_filter(list_transform(
       |        generate_series(1, 4),
       |        l -> CASE WHEN wa[l] IS NOT NULL
       |                   AND hm < list_aggregate(list_transform(
       |                     generate_series(1, l),
       |                     j -> coalesce(wa[j], CAST(0 AS BIGINT))),
       |                     'sum') THEN l END),
       |        x -> x IS NOT NULL)) AS BIGINT) AS pl
       |    FROM (
       |      SELECT *, hv % list_aggregate(list_transform(wa,
       |          w -> coalesce(w, CAST(0 AS BIGINT))), 'sum') AS hm
       |      FROM (
       |        SELECT word, k, step, pos, ps, m, a,
       |          list_transform(generate_series(1, 4), l ->
       |            CASE WHEN l <= pos AND m[substr(word,
       |                   CAST(pos - l + 1 AS INT),
       |                   CAST(l AS INT))][1] IS NOT NULL
       |            THEN CAST(floor(exp(CAST(a[CAST(pos - l + 1 AS INT)]
       |                 + m[substr(word, CAST(pos - l + 1 AS INT),
       |                     CAST(l AS INT))][1]
       |                 - a[CAST(pos + 1 AS INT)] AS DOUBLE) / 1e6)
       |                 * 1e6 + 0.5) AS BIGINT) END) AS wa,
       |          ${md5SliceSql(
               s"'sseg|$seed|' || word || '|' || CAST(k AS VARCHAR)" +
                 " || '|' || CAST(step + 1 AS VARCHAR)")} AS hv
       |        FROM wk WHERE pos > 0))))
       |SELECT s.word, h.freq, CAST(s.k AS INT) AS sample_id,
       |  CAST(len(s.ps) AS INT) AS n_pieces,
       |  array_to_string(s.ps, ' ') AS segmented
       |FROM (SELECT word, k, ps FROM wk WHERE pos = 0) s
       |JOIN wh h USING (word)
       |ORDER BY word, sample_id""".stripMargin

  private def doremiTrajectoryOracleSql(steps: Int): String = {
    val head =
      s"""d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
         |trA AS (SELECT lang, toks[i] AS prev, toks[i + 1] AS cur
         |        FROM (SELECT lang, toks,
         |                unnest(generate_series(1, len(toks) - 1)) AS i
         |              FROM d WHERE len(toks) >= 2)),
         |trT AS (SELECT toks[i] AS prev, toks[i + 1] AS cur
         |        FROM (SELECT toks,
         |                unnest(generate_series(1, len(toks) - 1)) AS i
         |              FROM d WHERE doc_id % 2 = 0 AND len(toks) >= 2)),
         |bc AS MATERIALIZED (SELECT prev, cur, count(*) AS bc FROM trT GROUP BY 1, 2),
         |ctx AS (SELECT prev, sum(bc) AS cc, count(*) AS fol FROM bc GROUP BY 1),
         |pre AS (SELECT cur, count(*) AS pre FROM bc GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS HUGEINT) AS nb,
         |               CAST(count(DISTINCT cur) AS HUGEINT) AS vc FROM bc),
         |sc AS (SELECT lang,
         |         CASE WHEN coalesce(ctx.cc, 0) > 0 THEN
         |           CAST(floor(ln(
         |             CAST(greatest(4 * CAST(coalesce(bc.bc, 0) AS HUGEINT) - 3, 0) * (nb + vc + 1)
         |                  + 3 * CAST(coalesce(ctx.fol, 0) AS HUGEINT)
         |                    * (CAST(coalesce(pre.pre, 0) AS HUGEINT) + 1) AS DOUBLE)
         |             / CAST(4 * CAST(ctx.cc AS HUGEINT) * (nb + vc + 1) AS DOUBLE))
         |               * 1000000 + 0.5) AS BIGINT)
         |         ELSE
         |           CAST(floor(ln((CAST(coalesce(pre.pre, 0) AS DOUBLE) + 1.0)
         |             / CAST(nb + vc + 1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
         |         END AS m
         |       FROM trA LEFT JOIN bc USING (prev, cur)
         |       LEFT JOIN ctx USING (prev) LEFT JOIN pre USING (cur)
         |       CROSS JOIN tot),
         |bd AS (SELECT lang, CAST(count(*) AS BIGINT) AS nt,
         |         CAST(sum(-m) AS BIGINT) AS nll
         |       FROM sc GROUP BY 1),
         |av AS (SELECT lang, nt, CAST(nll // nt AS HUGEINT) AS v FROM bd),
         |nd AS (SELECT CAST(count(*) AS HUGEINT) AS nd FROM av),
         |w0 AS MATERIALIZED (SELECT lang, nt, v,
         |        CAST(1000000 // nd AS HUGEINT) AS a
         |      FROM av CROSS JOIN nd)""".stripMargin
    val stepCtes = (1 to steps).map { i =>
      s"""m$i AS (SELECT CAST(sum(a * v) AS HUGEINT) AS sm,
         |          CAST(sum(a) AS HUGEINT) AS sa FROM w${i - 1}),
         |e$i AS MATERIALIZED (SELECT lang, nt, v, a,
         |        CAST(floor(exp(CAST(least(v - sm // sa, 13800000)
         |            AS DOUBLE) / 1000000.0) * 1000000 + 0.5)
         |          AS HUGEINT) AS e
         |      FROM w${i - 1} CROSS JOIN m$i),
         |z$i AS (SELECT CAST(sum(a * e) AS HUGEINT) AS z FROM e$i),
         |w$i AS MATERIALIZED (SELECT lang, nt, v,
         |        CAST((a * e * 1000000) // z AS HUGEINT) AS a
         |      FROM e$i CROSS JOIN z$i)""".stripMargin
    }.mkString(",\n")
    val trajSum = (1 to steps).map(i => s"t$i.a").mkString(" + ")
    val joins = (2 to steps).map(i => s"JOIN w$i t$i USING (lang)")
      .mkString(" ")
    s"""WITH $head,
       |$stepCtes
       |SELECT t1.lang, t1.nt AS n_transitions,
       |  CAST(t1.v AS BIGINT) AS avg_nll_micronats,
       |  CAST(t$steps.a AS BIGINT) AS weight_ppm,
       |  CAST(($trajSum) // $steps AS BIGINT) AS avg_weight_ppm
       |FROM w1 t1 $joins ORDER BY lang""".stripMargin
  }

  /** DuckDB CTE chain recomputing the FULL Gopher battery verdict
    * ([[graft.functions.TextAnalysis.gopherChain]]): every Table A1
    * census, every Table A2 repetition census, the exact integer ppm
    * ratios, and the first-failure precedence in the paper's table
    * order. Yields `gv` (doc_id, first_failed). Word bounds are the
    * caller's; every other threshold is the paper's. (Regexes avoid
    * backslashes — `[.]` == `\.` — because this is an interpolated
    * Scala string.) */
  private def gopherBatterySql(minWords: Int, maxWords: Int): String =
    s"""gt AS (SELECT doc_id, text, string_split(text, ' ') AS w,
       |         string_split(text, chr(10)) AS l FROM documents),
       |gm AS (SELECT doc_id,
       |        CAST(len(w) AS BIGINT) AS n_words,
       |        CAST(list_reduce(list_transform(w,
       |            x -> CAST(length(x) AS BIGINT)),
       |          (a, b) -> a + b) AS BIGINT) AS sl,
       |        CAST(len(l) AS BIGINT) AS nl,
       |        CAST(length(text) - length(replace(text, '#', ''))
       |            AS BIGINT)
       |          + CAST((length(text)
       |            - length(replace(text, '...', ''))) // 3
       |            AS BIGINT) AS sy,
       |        CAST(len(list_filter(l,
       |          x -> regexp_matches(x, '^[-*•]'))) AS BIGINT) AS bu,
       |        CAST(len(list_filter(l,
       |          x -> regexp_matches(x, '([.][.][.]|…)$$'))) AS BIGINT) AS el,
       |        CAST(len(list_filter(w,
       |          x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS al,
       |        CAST(len(list_filter(w,
       |          x -> x IN ('the','be','to','of','and','that','have',
       |                     'with','a'))) AS BIGINT) AS ns,
       |        CAST(list_reduce(list_transform(l,
       |            x -> CAST(length(x) AS BIGINT)),
       |          (a, b) -> a + b) AS BIGINT) AS lc,
       |        CAST(len(l) - len(list_distinct(l)) AS BIGINT) AS dl,
       |        CAST(list_reduce(list_transform(l,
       |            x -> CASE WHEN len(list_filter(l, y -> y = x)) >= 2
       |                 THEN CAST(length(x) AS BIGINT) ELSE 0 END),
       |          (a, b) -> a + b) AS BIGINT) AS dlc,
       |        CASE WHEN len(w) >= 2 THEN
       |          list_transform(generate_series(1,
       |            CAST(len(w) - 1 AS INT)),
       |            i -> w[i] || ' ' || w[i + 1])
       |        ELSE [] END AS g,
       |        CAST(length(text) AS BIGINT) AS n
       |      FROM gt),
       |gmm AS (SELECT doc_id, n_words,
       |         CAST((sl * 1000000) // n_words AS BIGINT) AS mwl,
       |         CAST((sy * 1000000) // n_words AS BIGINT) AS syp,
       |         CAST((bu * 1000000) // nl AS BIGINT) AS bup,
       |         CAST((el * 1000000) // nl AS BIGINT) AS elp,
       |         CAST((al * 1000000) // n_words AS BIGINT) AS alp,
       |         ns,
       |         CAST((dl * 1000000) // nl AS BIGINT) AS dlp,
       |         CAST(CASE WHEN lc > 0 THEN (dlc * 1000000) // lc
       |              ELSE 0 END AS BIGINT) AS dlcp,
       |         CAST(CASE WHEN n > 0 THEN
       |             (coalesce(list_max(list_transform(g,
       |                x -> CAST(len(list_filter(g, y -> y = x)) AS BIGINT)
       |                     * length(x))), 0) * 1000000) // n
       |              ELSE 0 END AS BIGINT) AS tcp
       |       FROM gm),
       |gv AS (SELECT doc_id,
       |        CASE WHEN n_words < $minWords OR n_words > $maxWords
       |               THEN 'word_count'
       |             WHEN mwl < 3000000 OR mwl > 10000000
       |               THEN 'mean_word_len'
       |             WHEN syp > 100000 THEN 'symbol_ratio'
       |             WHEN bup > 900000 THEN 'bullet_lines'
       |             WHEN elp > 300000 THEN 'ellipsis_lines'
       |             WHEN alp < 800000 THEN 'alpha_words'
       |             WHEN ns < 2 THEN 'stopwords'
       |             WHEN dlp > 300000 THEN 'dup_lines'
       |             WHEN dlcp > 200000 THEN 'dup_line_chars'
       |             WHEN tcp > 200000 THEN 'top_2gram'
       |        END AS first_failed
       |      FROM gmm)""".stripMargin

  /** DuckDB CTE chain recomputing [[graft.functions.Classifier.linearScore]]
    * from scratch — unigram+bigram features, md5-slice bucket, the
    * hash-derived micronat weight per bucket, and the exact integer
    * per-doc sum. Yields `d` (doc_id, n_features, score_micronats). */
  private def classifierScoreCteSql: String =
    s"""tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |bg AS (SELECT doc_id, t,
       |         unnest(generate_series(1, len(t) - 1)) AS i FROM tk),
       |f AS (
       |  SELECT doc_id, unnest(t) AS f FROM tk
       |  UNION ALL
       |  SELECT doc_id, t[i] || ' ' || t[i + 1] AS f FROM bg),
       |hb AS (SELECT doc_id,
       |         CAST(${md5SliceSql("f")} % 64 AS INT) AS b FROM f),
       |wt AS (SELECT doc_id,
       |         ${md5SliceSql("'qw42#' || CAST(b AS VARCHAR)")} % 2001 - 1000 AS w
       |       FROM hb),
       |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_features,
       |        CAST(sum(w) AS BIGINT) AS score_micronats
       |      FROM wt GROUP BY doc_id)""".stripMargin

  /** DuckDB replay of [[graft.functions.Classifier.train]]: hashed
    * unigram+bigram count features, then `iters` UNROLLED full-batch
    * GD steps — margin sum, ppm-quantized sigmoid residual, exact
    * integer gradient, toward-zero lr-scaled update (positive-operand
    * `//` == Spark's `div`) — weights carried between steps as
    * MATERIALIZED 64-row CTEs. */
  private def classifierTrainOracleSql(iters: Int): String = {
    val head = s"""tk AS (SELECT doc_id, lang = 'en' AS y,
       |              string_split(text, ' ') AS t FROM documents),
       |bg AS (SELECT doc_id, t,
       |         unnest(generate_series(1, len(t) - 1)) AS i FROM tk),
       |fe AS (
       |  SELECT doc_id, unnest(t) AS f FROM tk
       |  UNION ALL
       |  SELECT doc_id, t[i] || ' ' || t[i + 1] AS f FROM bg),
       |feat AS MATERIALIZED (
       |  SELECT doc_id, CAST(${md5SliceSql("f")} % 64 AS INT) AS b,
       |         CAST(count(*) AS BIGINT) AS cnt
       |  FROM fe GROUP BY 1, 2),
       |docs AS MATERIALIZED (SELECT doc_id, y FROM tk),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docs),
       |w0 AS MATERIALIZED (SELECT unnest(generate_series(0, 63)) AS b,
       |      CAST(0 AS BIGINT) AS w),
       |bb0 AS (SELECT CAST(0 AS BIGINT) AS bw)""".stripMargin
    val steps = (1 to iters).map { k =>
      val p = k - 1
      s"""s$k AS (SELECT f.doc_id, CAST(sum(f.cnt * w.w) AS BIGINT) AS fs
         |       FROM feat f JOIN w$p w USING (b) GROUP BY 1),
         |r$k AS MATERIALIZED (
         |  SELECT d.doc_id,
         |    CAST(floor(1000000.0 / (1.0 +
         |        exp(-(CAST(bb.bw + coalesce(s.fs, 0) AS DOUBLE))
         |            / 1000000.0)) + 0.5) AS BIGINT)
         |      - CASE WHEN d.y THEN 1000000 ELSE 0 END AS r
         |  FROM docs d LEFT JOIN s$k s USING (doc_id) CROSS JOIN bb$p bb),
         |g$k AS (SELECT f.b, CAST(sum(r.r * f.cnt) AS BIGINT) AS g
         |       FROM feat f JOIN r$k r USING (doc_id) GROUP BY 1),
         |w$k AS MATERIALIZED (
         |  SELECT w.b, w.w - (CASE WHEN coalesce(g.g, 0) < 0
         |      THEN -((-coalesce(g.g, 0)) // (4 * n))
         |      ELSE coalesce(g.g, 0) // (4 * n) END) AS w
         |  FROM w$p w LEFT JOIN g$k g USING (b) CROSS JOIN nd),
         |bb$k AS (SELECT bb.bw - (CASE WHEN gb.g < 0
         |      THEN -((-gb.g) // (4 * n)) ELSE gb.g // (4 * n) END) AS bw
         |    FROM bb$p bb CROSS JOIN (SELECT CAST(coalesce(sum(r), 0)
         |      AS BIGINT) AS g FROM r$k) gb CROSS JOIN nd)""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  /** Mixing weights for the `sample_stratified` gate query (ListMap: the
    * CASE chain must fold in a stable order in both engines). */
  private val StratRates = scala.collection.immutable.ListMap(
    "en" -> 0.5, "zh" -> 0.25)
  private val StratDefault = 0.1

  /** Target mixture for corpus_mix — exact binary fractions summing to 1.0,
    * so Scala's normalization (w / total) is bit-exact identity and the
    * oracle can embed the weights as plain literals. */
  private val MixWeights = scala.collection.immutable.ListMap(
    "en" -> 0.5, "es" -> 0.25, "de" -> 0.125, "fr" -> 0.125)

  def defs: Seq[QueryDef] = Seq(

    // ---- text analysis ----
    QueryDef("text_lang_id",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), col("lang").as("actual_lang"),
          TextAnalysis.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id"),
      Some(s"""WITH sc AS (SELECT doc_id, lang, $langScoreSql FROM documents)
              |SELECT doc_id, lang AS actual_lang, $langCaseSql AS pred_lang
              |FROM sc ORDER BY doc_id""".stripMargin)),

    QueryDef("text_langid_confusion",
      // classifier QA for the lang-id heuristic: (actual, predicted)
      // confusion counts against the table's ground-truth lang — the
      // evaluation loop every heuristic filter needs; oracle re-runs the
      // whole classifier and the census
      (s, dir) => Tables.documents(s, dir)
        .select(col("lang").as("actual_lang"),
          TextAnalysis.langId(col("text")).as("pred_lang"))
        .groupBy("actual_lang", "pred_lang")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("actual_lang", "pred_lang"),
      Some(s"""WITH sc AS (SELECT doc_id, lang, $langScoreSql FROM documents)
              |SELECT lang AS actual_lang, $langCaseSql AS pred_lang,
              |       count(*) AS n_docs
              |FROM sc GROUP BY 1, 2 ORDER BY actual_lang, pred_lang""".stripMargin)),

    QueryDef("dedup_minhash_sigs",
      // the MinHash signatures THEMSELVES, gate-compared value by value:
      // md5-u64-based hash family (the [[simhash]] oracle trick) exploded
      // to (doc_id, hash_idx, sig) rows so DuckDB recomputes every minimum
      // from scratch — the deepest form of "the oracle retrains the
      // sketch" (the xxhash64 production family is cross-checked against
      // this one structurally: same shingles, same affine family, only
      // the base hash differs)
      (s, dir) => Dedup.minhashSignaturesMd5(Tables.documents(s, dir),
          "doc_id", "text", k = 3, numHashes = 8)
        .orderBy("doc_id", "hash_idx"),
      Some {
        val coeffs = Dedup.minhashCoeffs(8)
        val h32 = """list_reduce(list_transform(
          |      regexp_extract_all(substr(md5(s), 25, 8), '.'),
          |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16 + b)"""
          .stripMargin
        val perIdx = coeffs.zipWithIndex.map { case ((a, b), i) =>
          s"SELECT doc_id, $i AS hash_idx, min(($a * h + $b) % 2147483647) AS sig FROM h GROUP BY doc_id"
        }.mkString("\n  UNION ALL ")
        s"""WITH sh AS (SELECT doc_id, unnest($ShinglesSql) AS s FROM documents),
           |h AS (SELECT doc_id, ($h32 % 2147483647) AS h FROM sh)
           |SELECT doc_id, hash_idx, sig FROM (
           |  $perIdx)
           |ORDER BY doc_id, hash_idx""".stripMargin
      }),

    QueryDef("text_quality",
      (s, dir) => TextAnalysis.qualityMetrics(Tables.documents(s, dir))
        .withColumn("quality_score", TextAnalysis.qualityScore())
        .select("doc_id", "n_tokens", "n_uniq_tokens", "type_token_ratio",
          "stopword_ratio", "mean_token_len", "quality_score")
        .orderBy("doc_id"),
      Some {
        val en = TextAnalysis.Langs.head._2.map("'" + _ + "'").mkString(",")
        s"""WITH m AS (
           |  SELECT doc_id,
           |    len(string_split(text,' ')) AS n_tokens,
           |    len(list_distinct(string_split(text,' '))) AS n_uniq_tokens,
           |    len(list_intersect(string_split(text,' '), [$en])) AS n_stop,
           |    length(text) AS n_chars
           |  FROM documents)
           |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
           |  CAST(n_uniq_tokens AS INT) AS n_uniq_tokens,
           |  CAST(n_uniq_tokens AS DOUBLE) / n_tokens AS type_token_ratio,
           |  CAST(n_stop AS DOUBLE) / n_uniq_tokens AS stopword_ratio,
           |  CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens AS mean_token_len,
           |  (CAST(n_uniq_tokens AS DOUBLE) / n_tokens) * 0.5
           |    + (CAST(n_stop AS DOUBLE) / n_uniq_tokens) * 0.2
           |    + least((CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens) / 10.0, 1.0) * 0.3 AS quality_score
           |FROM m ORDER BY doc_id""".stripMargin
      }),

    QueryDef("text_perplexity",
      // CCNet-style corpus-LM scoring: add-one-smoothed unigram
      // log-probability quantized to integer micronats per token (an
      // associative BIGINT sum — a raw double log-sum would differ in
      // ulps between engines), plus the corpus-relative head/middle/tail
      // perplexity bucket; the oracle retrains the LM (counts, totals)
      // AND rederives the bucket cutoffs from scratch in exact integer
      // arithmetic
      (s, dir) => TextAnalysis.perplexity(Tables.documents(s, dir),
          "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
             |            FROM documents),
             |cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
             |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total, count(*) AS v FROM cnt),
             |sc AS (SELECT doc_id,
             |         CAST(floor(ln(CAST(c + 1 AS DOUBLE) / (n_total + v))
             |              * 1000000 + 0.5) AS BIGINT) AS m
             |       FROM tok JOIN cnt USING (t) CROSS JOIN tot),
             |agg AS (SELECT doc_id, count(*) AS n_tokens, sum(m) AS lp
             |        FROM sc GROUP BY doc_id),
             |cut AS (SELECT CAST((100 * sum(-lp)) // (100 * sum(n_tokens)) AS BIGINT) AS hc,
             |               CAST((102 * sum(-lp)) // (100 * sum(n_tokens)) AS BIGINT) AS tc
             |        FROM agg)
             |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
             |  CAST(lp AS BIGINT) AS logprob_micronats,
             |  CASE WHEN -lp <= n_tokens * hc THEN 'head'
             |       WHEN -lp <= n_tokens * tc THEN 'middle'
             |       ELSE 'tail' END AS ppl_bucket
             |FROM agg CROSS JOIN cut ORDER BY doc_id""".stripMargin)),

    QueryDef("text_perplexity_bigram",
      // conditional (bigram) LM scoring — transitions, not token rarity:
      // p(cur|prev) = (c(prev,cur)+1) / (c(prev)+V) with c(prev) counted
      // as a context; same micronat/corpus-relative-cutoff discipline as
      // text_perplexity, oracle retrains everything from scratch
      (s, dir) => TextAnalysis.perplexityBigram(Tables.documents(s, dir),
          "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |tr AS (SELECT doc_id, toks[i] AS prev, toks[i + 1] AS cur
             |       FROM (SELECT doc_id, toks,
             |               unnest(generate_series(1, len(toks) - 1)) AS i
             |             FROM t WHERE len(toks) >= 2)),
             |bc AS (SELECT prev, cur, count(*) AS bc FROM tr GROUP BY 1, 2),
             |cc AS (SELECT prev, count(*) AS cc FROM tr GROUP BY 1),
             |voc AS (SELECT count(DISTINCT tk) AS v
             |        FROM (SELECT unnest(toks) AS tk FROM t)),
             |sc AS (SELECT doc_id,
             |         CAST(floor(ln(CAST(bc + 1 AS DOUBLE) / (cc + v))
             |              * 1000000 + 0.5) AS BIGINT) AS m
             |       FROM tr JOIN bc USING (prev, cur) JOIN cc USING (prev)
             |       CROSS JOIN voc),
             |agg0 AS (SELECT doc_id, count(*) AS nt, sum(m) AS lp
             |         FROM sc GROUP BY doc_id),
             |agg AS (SELECT d.doc_id, coalesce(nt, 0) AS nt, coalesce(lp, 0) AS lp
             |        FROM documents d LEFT JOIN agg0 ON agg0.doc_id = d.doc_id),
             |cut AS (SELECT CAST((100 * sum(-lp)) // (100 * sum(nt)) AS BIGINT) AS hc,
             |               CAST((102 * sum(-lp)) // (100 * sum(nt)) AS BIGINT) AS tc
             |        FROM agg)
             |SELECT doc_id, CAST(nt AS INT) AS n_transitions,
             |  CAST(lp AS BIGINT) AS logprob_micronats,
             |  CASE WHEN -lp <= nt * hc THEN 'head'
             |       WHEN -lp <= nt * tc THEN 'middle'
             |       ELSE 'tail' END AS ppl_bucket
             |FROM agg CROSS JOIN cut ORDER BY doc_id""".stripMargin)),

    QueryDef("text_perplexity_kn",
      // interpolated Kneser-Ney bigram scoring — the continuation-count
      // smoothing real LM filters (KenLM/CCNet) use: discounted mass is
      // redistributed by how many distinct CONTEXTS a word follows, not
      // raw frequency. D = 3/4 rational, probabilities exact integer
      // ratios (HUGEINT/DECIMAL(38,0) cross-moments), micronat log only
      // at the end; oracle retrains all three continuation aggregates
      (s, dir) => TextAnalysis.perplexityKneserNey(
          Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |tr AS (SELECT doc_id, toks[i] AS prev, toks[i + 1] AS cur
             |       FROM (SELECT doc_id, toks,
             |               unnest(generate_series(1, len(toks) - 1)) AS i
             |             FROM t WHERE len(toks) >= 2)),
             |bc AS (SELECT prev, cur, count(*) AS bc FROM tr GROUP BY 1, 2),
             |ctx AS (SELECT prev, sum(bc) AS cc, count(*) AS fol FROM bc GROUP BY 1),
             |pre AS (SELECT cur, count(*) AS pre FROM bc GROUP BY 1),
             |nb AS (SELECT CAST(count(*) AS HUGEINT) AS nb FROM bc),
             |sc AS (SELECT doc_id,
             |         CAST(floor(ln(
             |           CAST((4 * CAST(bc AS HUGEINT) - 3) * nb
             |                + 3 * CAST(fol AS HUGEINT) * pre AS DOUBLE)
             |           / CAST(4 * CAST(cc AS HUGEINT) * nb AS DOUBLE))
             |              * 1000000 + 0.5) AS BIGINT) AS m
             |       FROM tr JOIN bc USING (prev, cur) JOIN ctx USING (prev)
             |       JOIN pre USING (cur) CROSS JOIN nb),
             |agg0 AS (SELECT doc_id, count(*) AS nt, sum(m) AS lp
             |         FROM sc GROUP BY doc_id),
             |agg AS (SELECT d.doc_id, coalesce(nt, 0) AS nt, coalesce(lp, 0) AS lp
             |        FROM documents d LEFT JOIN agg0 ON agg0.doc_id = d.doc_id),
             |cut AS (SELECT CAST((100 * sum(-lp)) // (100 * sum(nt)) AS BIGINT) AS hc,
             |               CAST((102 * sum(-lp)) // (100 * sum(nt)) AS BIGINT) AS tc
             |        FROM agg)
             |SELECT doc_id, CAST(nt AS INT) AS n_transitions,
             |  CAST(lp AS BIGINT) AS logprob_micronats,
             |  CASE WHEN -lp <= nt * hc THEN 'head'
             |       WHEN -lp <= nt * tc THEN 'middle'
             |       ELSE 'tail' END AS ppl_bucket
             |FROM agg CROSS JOIN cut ORDER BY doc_id""".stripMargin)),

    QueryDef("text_perplexity_kn3",
      // interpolated TRIGRAM Kneser-Ney (Chen & Goodman recursion, D=3/4
      // at both discounted levels): the full continuation-count ladder —
      // trigram ML discounted, bigram level FROM continuation counts
      // N1+(·w2w3), unigram from the continuation-bigram type table.
      // Exact integer ratios in DECIMAL(38,0)/HUGEINT, micronat log at
      // the end; oracle retrains every table from scratch
      (s, dir) => TextAnalysis.perplexityKneserNey3(
          Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |tr AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
             |       FROM (SELECT doc_id, toks,
             |               unnest(generate_series(1, len(toks) - 2)) AS i
             |             FROM t WHERE len(toks) >= 3)),
             |tcn AS (SELECT w1, w2, w3, count(*) AS tc FROM tr GROUP BY 1, 2, 3),
             |ctx2 AS (SELECT w1, w2, sum(tc) AS cc2, count(*) AS f12 FROM tcn GROUP BY 1, 2),
             |cont AS (SELECT w2, w3, count(*) AS n1 FROM tcn GROUP BY 1, 2),
             |mid AS (SELECT w2, sum(n1) AS m2, count(*) AS f2 FROM cont GROUP BY 1),
             |pre AS (SELECT w3, count(*) AS pre3 FROM cont GROUP BY 1),
             |nbp AS (SELECT CAST(count(*) AS HUGEINT) AS nbp FROM cont),
             |sc AS (SELECT doc_id,
             |         CAST(floor(ln(
             |           CAST((4 * CAST(tc AS HUGEINT) - 3) * 4 * CAST(m2 AS HUGEINT) * nbp
             |                + 3 * CAST(f12 AS HUGEINT)
             |                  * ((4 * CAST(n1 AS HUGEINT) - 3) * nbp
             |                     + 3 * CAST(f2 AS HUGEINT) * pre3) AS DOUBLE)
             |           / CAST(16 * CAST(cc2 AS HUGEINT) * CAST(m2 AS HUGEINT) * nbp AS DOUBLE))
             |              * 1000000 + 0.5) AS BIGINT) AS m
             |       FROM tr JOIN tcn USING (w1, w2, w3) JOIN ctx2 USING (w1, w2)
             |       JOIN cont USING (w2, w3) JOIN mid USING (w2)
             |       JOIN pre USING (w3) CROSS JOIN nbp),
             |agg0 AS (SELECT doc_id, count(*) AS nt, sum(m) AS lp
             |         FROM sc GROUP BY doc_id),
             |agg AS (SELECT d.doc_id, coalesce(nt, 0) AS nt, coalesce(lp, 0) AS lp
             |        FROM documents d LEFT JOIN agg0 ON agg0.doc_id = d.doc_id),
             |cut AS (SELECT CAST((100 * sum(-lp)) // (100 * sum(nt)) AS BIGINT) AS hc,
             |               CAST((102 * sum(-lp)) // (100 * sum(nt)) AS BIGINT) AS tc
             |        FROM agg)
             |SELECT doc_id, CAST(nt AS INT) AS n_transitions,
             |  CAST(lp AS BIGINT) AS logprob_micronats,
             |  CASE WHEN -lp <= nt * hc THEN 'head'
             |       WHEN -lp <= nt * tc THEN 'middle'
             |       ELSE 'tail' END AS ppl_bucket
             |FROM agg CROSS JOIN cut ORDER BY doc_id""".stripMargin)),

    QueryDef("text_perplexity_pretrained",
      // the TRAIN/APPLY split every other perplexity gate deliberately
      // avoids — the production CCNet shape: the LM (KN bigram, D=3/4)
      // trains on the even-doc_id half and scores the odd half, so
      // unseen bigrams/contexts/words must receive mass (one
      // pseudo-count on the continuation distribution; unseen context
      // backs off to it with weight 1). Emits the per-doc unseen-bigram
      // count next to the score — the OOV diagnostic. Exact integer
      // ratios; oracle retrains the LM from the even half.
      // Since round 12 the LM is a LANDED artifact ([[Artifacts.knModelPath]],
      // built offline like the other registry artifacts) and the timed query is
      // APPLY ONLY — the per-crawl production cost the gate's doc
      // always described (round-11 verdict #3)
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        TextAnalysis.perplexityKneserNeyApplyModel(
            TextAnalysis.knBigramModelRead(s, Artifacts.knModelPath(s, dir)),
            docs.filter(pmod(col("doc_id"), lit(2)) === 1),
            "doc_id", "text")
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |trA AS (SELECT doc_id, toks[i] AS prev, toks[i + 1] AS cur
             |        FROM (SELECT doc_id, toks,
             |                unnest(generate_series(1, len(toks) - 1)) AS i
             |              FROM d WHERE doc_id % 2 = 1 AND len(toks) >= 2)),
             |trT AS (SELECT toks[i] AS prev, toks[i + 1] AS cur
             |        FROM (SELECT toks,
             |                unnest(generate_series(1, len(toks) - 1)) AS i
             |              FROM d WHERE doc_id % 2 = 0 AND len(toks) >= 2)),
             |bc AS (SELECT prev, cur, count(*) AS bc FROM trT GROUP BY 1, 2),
             |ctx AS (SELECT prev, sum(bc) AS cc, count(*) AS fol FROM bc GROUP BY 1),
             |pre AS (SELECT cur, count(*) AS pre FROM bc GROUP BY 1),
             |tot AS (SELECT CAST(count(*) AS HUGEINT) AS nb,
             |               CAST(count(DISTINCT cur) AS HUGEINT) AS vc FROM bc),
             |sc AS (SELECT doc_id, coalesce(bc.bc, 0) AS bcv,
             |         CASE WHEN coalesce(ctx.cc, 0) > 0 THEN
             |           CAST(floor(ln(
             |             CAST(greatest(4 * CAST(coalesce(bc.bc, 0) AS HUGEINT) - 3, 0) * (nb + vc + 1)
             |                  + 3 * CAST(coalesce(ctx.fol, 0) AS HUGEINT)
             |                    * (CAST(coalesce(pre.pre, 0) AS HUGEINT) + 1) AS DOUBLE)
             |             / CAST(4 * CAST(ctx.cc AS HUGEINT) * (nb + vc + 1) AS DOUBLE))
             |               * 1000000 + 0.5) AS BIGINT)
             |         ELSE
             |           CAST(floor(ln((CAST(coalesce(pre.pre, 0) AS DOUBLE) + 1.0)
             |             / CAST(nb + vc + 1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
             |         END AS m
             |       FROM trA LEFT JOIN bc USING (prev, cur)
             |       LEFT JOIN ctx USING (prev) LEFT JOIN pre USING (cur)
             |       CROSS JOIN tot),
             |agg0 AS (SELECT doc_id, count(*) AS nt,
             |           sum(CASE WHEN bcv = 0 THEN 1 ELSE 0 END) AS nu,
             |           sum(m) AS lp
             |         FROM sc GROUP BY 1)
             |SELECT a.doc_id, CAST(coalesce(nt, 0) AS INT) AS n_transitions,
             |  CAST(coalesce(nu, 0) AS INT) AS n_unseen_bigrams,
             |  CAST(coalesce(lp, 0) AS BIGINT) AS logprob_micronats
             |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) a
             |LEFT JOIN agg0 USING (doc_id) ORDER BY doc_id""".stripMargin)),

    QueryDef("text_perplexity_pretrained3",
      // the pretrained split at TRIGRAM order (round-11 verdict #3's
      // second half): the kn3 continuation ladder composed with the
      // open-vocabulary smoothing — discounted terms floor at 0 on
      // unseen apply-side counts, the unigram continuation distribution
      // carries one Laplace unseen-word class, unseen (w2) backs off to
      // it, unseen (w1,w2) to the middle distribution. LM landed
      // offline ([[Artifacts.kn3ModelPath]]); timed query = apply only. Oracle
      // retrains from the even half and replays every branch
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        TextAnalysis.perplexityKneserNey3ApplyModel(
            TextAnalysis.kn3ModelRead(s, Artifacts.kn3ModelPath(s, dir)),
            docs.filter(pmod(col("doc_id"), lit(2)) === 1),
            "doc_id", "text")
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |trA AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
             |        FROM (SELECT doc_id, toks,
             |                unnest(generate_series(1, len(toks) - 2)) AS i
             |              FROM d WHERE doc_id % 2 = 1 AND len(toks) >= 3)),
             |trT AS (SELECT toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
             |        FROM (SELECT toks,
             |                unnest(generate_series(1, len(toks) - 2)) AS i
             |              FROM d WHERE doc_id % 2 = 0 AND len(toks) >= 3)),
             |tcn AS (SELECT w1, w2, w3, count(*) AS tc FROM trT GROUP BY 1, 2, 3),
             |ctx2 AS (SELECT w1, w2, sum(tc) AS cc2, count(*) AS f12 FROM tcn GROUP BY 1, 2),
             |cont AS (SELECT w2, w3, count(*) AS n1 FROM tcn GROUP BY 1, 2),
             |mid AS (SELECT w2, sum(n1) AS m2, count(*) AS f2 FROM cont GROUP BY 1),
             |pre AS (SELECT w3, count(*) AS pre3 FROM cont GROUP BY 1),
             |tot AS (SELECT CAST(count(*) AS HUGEINT) AS nbp,
             |               CAST(count(DISTINCT w3) AS HUGEINT) AS vc3 FROM cont),
             |sc AS (SELECT doc_id, coalesce(tcn.tc, 0) AS tcv,
             |         CASE WHEN coalesce(ctx2.cc2, 0) > 0 THEN
             |           CAST(floor(ln(
             |             CAST(greatest(4 * CAST(coalesce(tcn.tc, 0) AS HUGEINT) - 3, 0)
             |                    * 4 * CAST(mid.m2 AS HUGEINT) * (nbp + vc3 + 1)
             |                  + 3 * CAST(ctx2.f12 AS HUGEINT)
             |                    * (greatest(4 * CAST(coalesce(cont.n1, 0) AS HUGEINT) - 3, 0)
             |                         * (nbp + vc3 + 1)
             |                       + 3 * CAST(coalesce(mid.f2, 0) AS HUGEINT)
             |                         * (CAST(coalesce(pre.pre3, 0) AS HUGEINT) + 1)) AS DOUBLE)
             |             / CAST(16 * CAST(ctx2.cc2 AS HUGEINT) * CAST(mid.m2 AS HUGEINT)
             |                    * (nbp + vc3 + 1) AS DOUBLE))
             |               * 1000000 + 0.5) AS BIGINT)
             |         WHEN coalesce(mid.m2, 0) > 0 THEN
             |           CAST(floor(ln(
             |             CAST(greatest(4 * CAST(coalesce(cont.n1, 0) AS HUGEINT) - 3, 0)
             |                    * (nbp + vc3 + 1)
             |                  + 3 * CAST(mid.f2 AS HUGEINT)
             |                    * (CAST(coalesce(pre.pre3, 0) AS HUGEINT) + 1) AS DOUBLE)
             |             / CAST(4 * CAST(mid.m2 AS HUGEINT) * (nbp + vc3 + 1) AS DOUBLE))
             |               * 1000000 + 0.5) AS BIGINT)
             |         ELSE
             |           CAST(floor(ln((CAST(coalesce(pre.pre3, 0) AS DOUBLE) + 1.0)
             |             / CAST(nbp + vc3 + 1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
             |         END AS m
             |       FROM trA LEFT JOIN tcn USING (w1, w2, w3)
             |       LEFT JOIN ctx2 USING (w1, w2) LEFT JOIN cont USING (w2, w3)
             |       LEFT JOIN mid USING (w2) LEFT JOIN pre USING (w3)
             |       CROSS JOIN tot),
             |agg0 AS (SELECT doc_id, count(*) AS nt,
             |           sum(CASE WHEN tcv = 0 THEN 1 ELSE 0 END) AS nu,
             |           sum(m) AS lp
             |         FROM sc GROUP BY 1)
             |SELECT a.doc_id, CAST(coalesce(nt, 0) AS INT) AS n_transitions,
             |  CAST(coalesce(nu, 0) AS INT) AS n_unseen_trigrams,
             |  CAST(coalesce(lp, 0) AS BIGINT) AS logprob_micronats
             |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) a
             |LEFT JOIN agg0 USING (doc_id) ORDER BY doc_id""".stripMargin)),

    QueryDef("moore_lewis_select",
      // Moore-Lewis contrastive selection (Moore & Lewis 2010): score
      // the odd-doc_id half by cross-entropy DIFFERENCE between the
      // landed in-domain LM (even half, lang='en' — [[Artifacts.knDomainModelPath]])
      // and the landed general LM (even half — [[Artifacts.knModelPath]]); keep
      // docs the domain model finds easier (positive difference). Both
      // LMs are landed artifacts; the timed query is apply-only x2.
      // Oracle retrains both and replays every smoothing branch
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        TextAnalysis.mooreLewisSelect(
            TextAnalysis.knBigramModelRead(s, Artifacts.knDomainModelPath(s, dir)),
            TextAnalysis.knBigramModelRead(s, Artifacts.knModelPath(s, dir)),
            docs.filter(pmod(col("doc_id"), lit(2)) === 1),
            "doc_id", "text")
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
             |trA AS (SELECT doc_id, toks[i] AS prev, toks[i + 1] AS cur
             |        FROM (SELECT doc_id, toks,
             |                unnest(generate_series(1, len(toks) - 1)) AS i
             |              FROM d WHERE doc_id % 2 = 1 AND len(toks) >= 2)),
             |trG AS (SELECT toks[i] AS prev, toks[i + 1] AS cur
             |        FROM (SELECT toks,
             |                unnest(generate_series(1, len(toks) - 1)) AS i
             |              FROM d WHERE doc_id % 2 = 0 AND len(toks) >= 2)),
             |trD AS (SELECT toks[i] AS prev, toks[i + 1] AS cur
             |        FROM (SELECT toks,
             |                unnest(generate_series(1, len(toks) - 1)) AS i
             |              FROM d WHERE doc_id % 2 = 0 AND lang = 'en'
             |                AND len(toks) >= 2)),
             |bcG AS (SELECT prev, cur, count(*) AS bc FROM trG GROUP BY 1, 2),
             |ctxG AS (SELECT prev, sum(bc) AS cc, count(*) AS fol FROM bcG GROUP BY 1),
             |preG AS (SELECT cur, count(*) AS pre FROM bcG GROUP BY 1),
             |totG AS (SELECT CAST(count(*) AS HUGEINT) AS nb,
             |                CAST(count(DISTINCT cur) AS HUGEINT) AS vc FROM bcG),
             |bcD AS (SELECT prev, cur, count(*) AS bc FROM trD GROUP BY 1, 2),
             |ctxD AS (SELECT prev, sum(bc) AS cc, count(*) AS fol FROM bcD GROUP BY 1),
             |preD AS (SELECT cur, count(*) AS pre FROM bcD GROUP BY 1),
             |totD AS (SELECT CAST(count(*) AS HUGEINT) AS nb,
             |                CAST(count(DISTINCT cur) AS HUGEINT) AS vc FROM bcD),
             |scG AS (SELECT doc_id,
             |          CASE WHEN coalesce(ctxG.cc, 0) > 0 THEN
             |            CAST(floor(ln(
             |              CAST(greatest(4 * CAST(coalesce(bcG.bc, 0) AS HUGEINT) - 3, 0) * (nb + vc + 1)
             |                   + 3 * CAST(coalesce(ctxG.fol, 0) AS HUGEINT)
             |                     * (CAST(coalesce(preG.pre, 0) AS HUGEINT) + 1) AS DOUBLE)
             |              / CAST(4 * CAST(ctxG.cc AS HUGEINT) * (nb + vc + 1) AS DOUBLE))
             |                * 1000000 + 0.5) AS BIGINT)
             |          ELSE
             |            CAST(floor(ln((CAST(coalesce(preG.pre, 0) AS DOUBLE) + 1.0)
             |              / CAST(nb + vc + 1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
             |          END AS m
             |        FROM trA LEFT JOIN bcG USING (prev, cur)
             |        LEFT JOIN ctxG USING (prev) LEFT JOIN preG USING (cur)
             |        CROSS JOIN totG),
             |scD AS (SELECT doc_id,
             |          CASE WHEN coalesce(ctxD.cc, 0) > 0 THEN
             |            CAST(floor(ln(
             |              CAST(greatest(4 * CAST(coalesce(bcD.bc, 0) AS HUGEINT) - 3, 0) * (nb + vc + 1)
             |                   + 3 * CAST(coalesce(ctxD.fol, 0) AS HUGEINT)
             |                     * (CAST(coalesce(preD.pre, 0) AS HUGEINT) + 1) AS DOUBLE)
             |              / CAST(4 * CAST(ctxD.cc AS HUGEINT) * (nb + vc + 1) AS DOUBLE))
             |                * 1000000 + 0.5) AS BIGINT)
             |          ELSE
             |            CAST(floor(ln((CAST(coalesce(preD.pre, 0) AS DOUBLE) + 1.0)
             |              / CAST(nb + vc + 1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
             |          END AS m
             |        FROM trA LEFT JOIN bcD USING (prev, cur)
             |        LEFT JOIN ctxD USING (prev) LEFT JOIN preD USING (cur)
             |        CROSS JOIN totD),
             |aggG AS (SELECT doc_id, count(*) AS nt, sum(m) AS lp FROM scG GROUP BY 1),
             |aggD AS (SELECT doc_id, sum(m) AS lp FROM scD GROUP BY 1)
             |SELECT a.doc_id, CAST(coalesce(nt, 0) AS INT) AS n_transitions,
             |  CAST(coalesce(aggD.lp, 0) AS BIGINT) AS lp_domain_micronats,
             |  CAST(coalesce(aggG.lp, 0) AS BIGINT) AS lp_general_micronats,
             |  CAST(coalesce(aggD.lp, 0) - coalesce(aggG.lp, 0) AS BIGINT)
             |    AS ml_score_micronats,
             |  coalesce(nt, 0) > 0
             |    AND coalesce(aggD.lp, 0) - coalesce(aggG.lp, 0) > 0 AS selected
             |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) a
             |LEFT JOIN aggG USING (doc_id) LEFT JOIN aggD USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    QueryDef("mixture_unimax",
      // UniMax budget allocation (Chung et al. 2023): total budget 25000
      // tokens, epoch cap 1 — languages visited smallest-first, each gets
      // min(corpus x cap, remaining / langs-left); capped languages' slack
      // flows to larger ones. Integer floor arithmetic throughout; the
      // oracle replays the sequential water-filling with a recursive CTE
      (s, dir) => graft.functions.Sampling.unimaxBudgets(
          Tables.documents(s, dir), "lang", "text",
          totalBudget = 25000L, maxEpochs = 1)
        .orderBy("lang"),
      Some("""WITH RECURSIVE c AS (
             |  SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
             |  FROM documents GROUP BY 1),
             |o AS (SELECT lang, n_tokens,
             |        CAST(row_number() OVER (ORDER BY n_tokens, lang) AS BIGINT) AS rn,
             |        CAST(count(*) OVER () AS BIGINT) AS n
             |      FROM c),
             |a(rn, lang, n_tokens, b, rem, n) AS (
             |  SELECT rn, lang, n_tokens,
             |    least(n_tokens * 1, 25000 // n) AS b,
             |    25000 - least(n_tokens * 1, 25000 // n) AS rem, n
             |  FROM o WHERE rn = 1
             |  UNION ALL
             |  SELECT o.rn, o.lang, o.n_tokens,
             |    least(o.n_tokens * 1, a.rem // (a.n - a.rn)) AS b,
             |    a.rem - least(o.n_tokens * 1, a.rem // (a.n - a.rn)), a.n
             |  FROM a JOIN o ON o.rn = a.rn + 1)
             |SELECT lang, n_tokens, CAST(b AS BIGINT) AS budget_tokens,
             |  CASE WHEN n_tokens = 0 THEN 0
             |       ELSE CAST((1000000 * CAST(b AS HUGEINT)) // n_tokens AS BIGINT)
             |  END AS epochs_micro
             |FROM a ORDER BY lang""".stripMargin)),

    QueryDef("mixture_unimax_epochs",
      // the round-11 verdict #6 gate: UniMax where the EPOCH CAP binds —
      // budget 40000 with cap 2 epochs makes the smaller languages hit
      // min(2 x corpus, fair share) on the cap side (at sf0.01 four of
      // five languages cap and their slack water-fills into en; at
      // sf0.001 two cap mid-walk), oracle-pinning the cap-then-slack
      // redistribution branch the maxEpochs=1 gate never enters. Same
      // recursive-CTE replay, epoch multiplier 2
      (s, dir) => graft.functions.Sampling.unimaxBudgets(
          Tables.documents(s, dir), "lang", "text",
          totalBudget = 40000L, maxEpochs = 2)
        .orderBy("lang"),
      Some("""WITH RECURSIVE c AS (
             |  SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
             |  FROM documents GROUP BY 1),
             |o AS (SELECT lang, n_tokens,
             |        CAST(row_number() OVER (ORDER BY n_tokens, lang) AS BIGINT) AS rn,
             |        CAST(count(*) OVER () AS BIGINT) AS n
             |      FROM c),
             |a(rn, lang, n_tokens, b, rem, n) AS (
             |  SELECT rn, lang, n_tokens,
             |    least(n_tokens * 2, 40000 // n) AS b,
             |    40000 - least(n_tokens * 2, 40000 // n) AS rem, n
             |  FROM o WHERE rn = 1
             |  UNION ALL
             |  SELECT o.rn, o.lang, o.n_tokens,
             |    least(o.n_tokens * 2, a.rem // (a.n - a.rn)) AS b,
             |    a.rem - least(o.n_tokens * 2, a.rem // (a.n - a.rn)), a.n
             |  FROM a JOIN o ON o.rn = a.rn + 1)
             |SELECT lang, n_tokens, CAST(b AS BIGINT) AS budget_tokens,
             |  CASE WHEN n_tokens = 0 THEN 0
             |       ELSE CAST((1000000 * CAST(b AS HUGEINT)) // n_tokens AS BIGINT)
             |  END AS epochs_micro
             |FROM a ORDER BY lang""".stripMargin)),

    QueryDef("grouped_percentiles_scalable",
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

    QueryDef("ccnet_lang_buckets",
      // CCNet §4.3: per-LANGUAGE thirds by LM surprisal-per-token (head /
      // middle / tail). Engine: integer surprisal score, per-lang tercile
      // cutoffs from the bounded-histogram percentile pass, broadcast
      // threshold assignment. Oracle: retrains the LM, re-derives every
      // score, both cutoffs per language, and the bucket of every doc
      (s, dir) => TextAnalysis.ccnetBuckets(Tables.documents(s, dir),
          "doc_id", "text", "lang")
        .orderBy("doc_id"),
      Some {
        val (f1, f2) = (fmtD(1.0 / 3), fmtD(2.0 / 3))
        s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
           |            FROM documents),
           |cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
           |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total, count(*) AS v FROM cnt),
           |sc AS (SELECT doc_id,
           |         CAST(floor(ln(CAST(c + 1 AS DOUBLE) / (n_total + v))
           |              * 1000000 + 0.5) AS BIGINT) AS m
           |       FROM tok JOIN cnt USING (t) CROSS JOIN tot),
           |agg AS (SELECT doc_id, count(*) AS n_tokens, sum(m) AS lp
           |        FROM sc GROUP BY doc_id),
           |s AS (SELECT d.doc_id, d.lang,
           |        CAST((-lp) // n_tokens AS BIGINT) AS surprisal_micronats
           |      FROM agg JOIN documents d USING (doc_id)),
           |n AS (SELECT lang, count(*) AS n FROM s GROUP BY 1),
           |cv AS (SELECT lang, surprisal_micronats AS v, count(*) AS c
           |       FROM s GROUP BY 1, 2),
           |r AS (SELECT lang, v,
           |        sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum
           |      FROM cv),
           |c1 AS (SELECT n.lang, min(r.v) AS c FROM n
           |       JOIN r ON r.lang = n.lang
           |        AND r.cum >= ceil(n.n * CAST('$f1' AS DOUBLE))
           |       GROUP BY n.lang),
           |c2 AS (SELECT n.lang, min(r.v) AS c FROM n
           |       JOIN r ON r.lang = n.lang
           |        AND r.cum >= ceil(n.n * CAST('$f2' AS DOUBLE))
           |       GROUP BY n.lang)
           |SELECT s.doc_id, s.lang, s.surprisal_micronats,
           |  CASE WHEN s.surprisal_micronats <= c1.c THEN 'head'
           |       WHEN s.surprisal_micronats <= c2.c THEN 'middle'
           |       ELSE 'tail' END AS ccnet_bucket
           |FROM s JOIN c1 USING (lang) JOIN c2 USING (lang)
           |ORDER BY doc_id""".stripMargin
      }),

    QueryDef("token_count",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.tokenCountWs(col("text")).as("n_ws_tokens"),
          TextAnalysis.tokenCountBpe(col("text")).as("n_bpe_tokens"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(len(string_split(text,' ')) AS INT) AS n_ws_tokens,
             |  CAST(len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9 ]')) AS INT) AS n_bpe_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("decontam_minkprob",
      // Min-K% probability membership score (Shi et al. 2023): the
      // contamination AUDIT after decontamination — mean NLL of each
      // doc's k%=20 most-surprising transitions under the LANDED
      // general LM (low => likely trained-on). Integer k-cutoff,
      // (logprob, index) tie-break, toward-zero mean of the
      // non-negative NLL sum — engine-exact. Timed query = apply only
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        TextAnalysis.minKProbScore(
            TextAnalysis.knBigramModelRead(s, Artifacts.knModelPath(s, dir)),
            docs.filter(pmod(col("doc_id"), lit(2)) === 1),
            "doc_id", "text", kPct = 20)
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |trA AS (SELECT doc_id, i, toks[i] AS prev, toks[i + 1] AS cur
             |        FROM (SELECT doc_id, toks,
             |                unnest(generate_series(1, len(toks) - 1)) AS i
             |              FROM d WHERE doc_id % 2 = 1 AND len(toks) >= 2)),
             |trT AS (SELECT toks[i] AS prev, toks[i + 1] AS cur
             |        FROM (SELECT toks,
             |                unnest(generate_series(1, len(toks) - 1)) AS i
             |              FROM d WHERE doc_id % 2 = 0 AND len(toks) >= 2)),
             |bc AS (SELECT prev, cur, count(*) AS bc FROM trT GROUP BY 1, 2),
             |ctx AS (SELECT prev, sum(bc) AS cc, count(*) AS fol FROM bc GROUP BY 1),
             |pre AS (SELECT cur, count(*) AS pre FROM bc GROUP BY 1),
             |tot AS (SELECT CAST(count(*) AS HUGEINT) AS nb,
             |               CAST(count(DISTINCT cur) AS HUGEINT) AS vc FROM bc),
             |sc AS (SELECT doc_id, i,
             |         CASE WHEN coalesce(ctx.cc, 0) > 0 THEN
             |           CAST(floor(ln(
             |             CAST(greatest(4 * CAST(coalesce(bc.bc, 0) AS HUGEINT) - 3, 0) * (nb + vc + 1)
             |                  + 3 * CAST(coalesce(ctx.fol, 0) AS HUGEINT)
             |                    * (CAST(coalesce(pre.pre, 0) AS HUGEINT) + 1) AS DOUBLE)
             |             / CAST(4 * CAST(ctx.cc AS HUGEINT) * (nb + vc + 1) AS DOUBLE))
             |               * 1000000 + 0.5) AS BIGINT)
             |         ELSE
             |           CAST(floor(ln((CAST(coalesce(pre.pre, 0) AS DOUBLE) + 1.0)
             |             / CAST(nb + vc + 1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
             |         END AS m
             |       FROM trA LEFT JOIN bc USING (prev, cur)
             |       LEFT JOIN ctx USING (prev) LEFT JOIN pre USING (cur)
             |       CROSS JOIN tot),
             |r AS (SELECT doc_id, m,
             |        row_number() OVER (PARTITION BY doc_id ORDER BY m, i) AS rn,
             |        count(*) OVER (PARTITION BY doc_id) AS n
             |      FROM sc),
             |a AS (SELECT doc_id, count(*) AS nt,
             |        max((n * 20 + 99) // 100) AS nl,
             |        sum(CASE WHEN rn <= (n * 20 + 99) // 100
             |            THEN -m ELSE 0 END) AS s
             |      FROM r GROUP BY 1)
             |SELECT a2.doc_id, CAST(coalesce(nt, 0) AS INT) AS n_transitions,
             |  CAST(coalesce(nl, 0) AS INT) AS n_lowest,
             |  CAST(coalesce(s, 0) AS BIGINT) AS mink_nll_micronats,
             |  CAST(CASE WHEN coalesce(nl, 0) > 0 THEN s // nl ELSE 0 END
             |    AS BIGINT) AS mink_avg_nll_micronats
             |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) a2
             |LEFT JOIN a USING (doc_id) ORDER BY doc_id""".stripMargin)),

    QueryDef("mixture_doremi_weights",
      // DoReMi-style domain reweighting (Xie et al. 2023): one
      // exponentiated-gradient step over per-domain EXCESS LOSS under
      // the landed reference LM — hard domains upweight, memorized
      // domains shrink. Means are toward-zero integer divisions; the
      // only double op is one exp per DOMAIN, ppm-quantized before the
      // normalizing sum; the EG step clips at +13.8 nats
      (s, dir) => TextAnalysis.doremiDomainWeights(
          TextAnalysis.knBigramModelRead(s, Artifacts.knModelPath(s, dir)),
          Tables.documents(s, dir), "lang", "text")
        .orderBy("lang"),
      Some("""WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
             |trA AS (SELECT lang, toks[i] AS prev, toks[i + 1] AS cur
             |        FROM (SELECT lang, toks,
             |                unnest(generate_series(1, len(toks) - 1)) AS i
             |              FROM d WHERE len(toks) >= 2)),
             |trT AS (SELECT toks[i] AS prev, toks[i + 1] AS cur
             |        FROM (SELECT toks,
             |                unnest(generate_series(1, len(toks) - 1)) AS i
             |              FROM d WHERE doc_id % 2 = 0 AND len(toks) >= 2)),
             |bc AS (SELECT prev, cur, count(*) AS bc FROM trT GROUP BY 1, 2),
             |ctx AS (SELECT prev, sum(bc) AS cc, count(*) AS fol FROM bc GROUP BY 1),
             |pre AS (SELECT cur, count(*) AS pre FROM bc GROUP BY 1),
             |tot AS (SELECT CAST(count(*) AS HUGEINT) AS nb,
             |               CAST(count(DISTINCT cur) AS HUGEINT) AS vc FROM bc),
             |sc AS (SELECT lang,
             |         CASE WHEN coalesce(ctx.cc, 0) > 0 THEN
             |           CAST(floor(ln(
             |             CAST(greatest(4 * CAST(coalesce(bc.bc, 0) AS HUGEINT) - 3, 0) * (nb + vc + 1)
             |                  + 3 * CAST(coalesce(ctx.fol, 0) AS HUGEINT)
             |                    * (CAST(coalesce(pre.pre, 0) AS HUGEINT) + 1) AS DOUBLE)
             |             / CAST(4 * CAST(ctx.cc AS HUGEINT) * (nb + vc + 1) AS DOUBLE))
             |               * 1000000 + 0.5) AS BIGINT)
             |         ELSE
             |           CAST(floor(ln((CAST(coalesce(pre.pre, 0) AS DOUBLE) + 1.0)
             |             / CAST(nb + vc + 1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
             |         END AS m
             |       FROM trA LEFT JOIN bc USING (prev, cur)
             |       LEFT JOIN ctx USING (prev) LEFT JOIN pre USING (cur)
             |       CROSS JOIN tot),
             |bd AS (SELECT lang, CAST(count(*) AS BIGINT) AS nt,
             |         CAST(sum(-m) AS BIGINT) AS nll
             |       FROM sc GROUP BY 1),
             |tt AS (SELECT CAST(sum(nll) AS HUGEINT) AS tn,
             |              CAST(sum(nt) AS HUGEINT) AS tc FROM bd),
             |ex AS (SELECT lang, nt, CAST(nll // nt AS BIGINT) AS avg_nll,
             |         CAST(nll // nt AS BIGINT)
             |           - CAST(tn // tc AS BIGINT) AS excess
             |       FROM bd CROSS JOIN tt),
             |ee AS (SELECT lang, nt, avg_nll, excess,
             |         CAST(floor(exp(CAST(least(excess, 13800000) AS DOUBLE)
             |           / 1000000.0) * 1000000 + 0.5) AS BIGINT) AS e
             |       FROM ex),
             |z AS (SELECT CAST(sum(e) AS HUGEINT) AS z FROM ee)
             |SELECT lang, nt AS n_transitions, avg_nll AS avg_nll_micronats,
             |  CAST(excess AS BIGINT) AS excess_micronats,
             |  CAST((CAST(e AS HUGEINT) * 1000000) // z AS BIGINT) AS weight_ppm
             |FROM ee CROSS JOIN z ORDER BY lang""".stripMargin)),

    QueryDef("mixture_doremi_trajectory",
      // the DoReMi fixed-point loop (Xie et al. 2023): 5 EG steps with
      // driver-held |domains| weights — each step measures excess
      // against the CURRENT-mixture-weighted mean (the coupling), clips
      // at +13.8 nats, exponentiates, renormalizes to ppm; output
      // carries the final weights AND the trajectory average (the
      // paper's eq. 2 output). Corpus touched ONCE (one transition
      // shuffle -> |domains| rows collected); every step is driver
      // BigInt arithmetic. Oracle unrolls all 5 steps as MATERIALIZED
      // weight CTEs in HUGEINT
      (s, dir) => TextAnalysis.doremiWeightTrajectory(
          TextAnalysis.knBigramModelRead(s, Artifacts.knModelPath(s, dir)),
          Tables.documents(s, dir), "lang", "text", steps = 5)
        .orderBy("lang"),
      Some(doremiTrajectoryOracleSql(5))),

    QueryDef("doc_fingerprint",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CASE WHEN length(text) = 0 THEN 0
             |       ELSE list_reduce(list_transform(regexp_extract_all(text, '.'),
             |              c -> CAST(unicode(c) AS BIGINT)),
             |            (a, b) -> (a * 31 + b) % 1000000007) END AS fp
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("suffix_ranks",
      // distributed suffix-array construction (Manber-Myers prefix
      // doubling): global dense lexicographic rank of every (doc, pos)
      // token suffix in O(log maxLCP) relational rounds — the structure
      // behind Lee et al.'s exact-substring dedup. No global window
      // (bucket-offset dense ranking); oracle is ONE dense_rank over the
      // materialized suffix strings, exact because token-sequence order
      // equals space-joined string order
      (s, dir) => graft.functions.SuffixArray.suffixRanks(
          Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id", "pos"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |s AS (SELECT doc_id, i AS pos,
             |        array_to_string(tk[CAST(i AS INT):CAST(len(tk) AS INT)], ' ') AS suf
             |      FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM t))
             |SELECT doc_id, CAST(pos AS INT) AS pos,
             |  CAST(dense_rank() OVER (ORDER BY suf) AS BIGINT) AS suffix_rank
             |FROM s ORDER BY doc_id, pos""".stripMargin)),

    QueryDef("suffix_ranks_incremental",
      // INCREMENTAL SA maintenance (round-11 verdict #5): a synthetic
      // crawl delta — half exact re-crawls (doc_id%14=3, text verbatim),
      // half genuinely-new near-variants (doc_id%14=10, one appended
      // token, so every suffix is fresh and shares its whole old doc as
      // prefix — the escalation worst case) — merges into the LANDED
      // corpus build ([[Artifacts.suffixRanksFrame]], the same artifact the
      // derived passes consume). Oracle: the full rebuild over the
      // union, which the merge must equal exactly
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val delta = docs.filter(pmod(col("doc_id"), lit(14)) === 3)
            .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
          .unionAll(docs.filter(pmod(col("doc_id"), lit(14)) === 10)
            .select((col("doc_id") + 10000000L).as("doc_id"),
              concat(col("text"), lit(" zzqx")).as("text")))
        graft.functions.SuffixArray.suffixRanksIncrementalFrom(
            s.read.parquet(Artifacts.suffixMergeRepsPath(s, dir)),
            Artifacts.suffixRanksFrame(s, dir), docs, delta, "doc_id", "text")
          .orderBy("doc_id", "pos")
      },
      Some("""WITH u AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 14 = 3
             |  UNION ALL SELECT doc_id + 10000000, text || ' zzqx' FROM documents WHERE doc_id % 14 = 10),
             |t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM u),
             |s AS (SELECT doc_id, i AS pos,
             |        array_to_string(tk[CAST(i AS INT):CAST(len(tk) AS INT)], ' ') AS suf
             |      FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM t))
             |SELECT doc_id, CAST(pos AS INT) AS pos,
             |  CAST(dense_rank() OVER (ORDER BY suf) AS BIGINT) AS suffix_rank
             |FROM s ORDER BY doc_id, pos""".stripMargin)),

    QueryDef("suffix_repeats",
      // adjacent-rank LCP census over the suffix array: the repeated-
      // substring detector exact-substring dedup builds on — consecutive
      // ranks are lexicographic neighbors, their common prefix is a
      // substring occurring at both positions; capped at 30 tokens,
      // top-50 by (lcp desc, rank). Consumes the SHARED offline SA build
      // ([[Artifacts.suffixRanksFrame]]) — one construction, many passes
      (s, dir) => graft.functions.SuffixArray.suffixRepeatsFrom(
          Artifacts.suffixRanksFrame(s, dir), Tables.documents(s, dir),
          "doc_id", "text"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |s AS (SELECT doc_id, tk, i AS pos,
             |        array_to_string(tk[CAST(i AS INT):CAST(len(tk) AS INT)], ' ') AS suf
             |      FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM t)),
             |r AS (SELECT doc_id, tk, pos,
             |        CAST(dense_rank() OVER (ORDER BY suf) AS BIGINT) AS rk
             |      FROM s),
             |reps AS (SELECT rk, doc_id, pos, pref FROM (
             |    SELECT rk, doc_id, pos,
             |      row_number() OVER (PARTITION BY rk ORDER BY doc_id, pos) AS rn,
             |      tk[CAST(pos AS INT):CAST(least(pos + 29, len(tk)) AS INT)] AS pref
             |    FROM r) WHERE rn = 1),
             |j AS (SELECT a.rk AS suffix_rank, a.doc_id AS doc_a, a.pos AS pos_a,
             |        b.doc_id AS doc_b, b.pos AS pos_b,
             |        len(list_filter(generate_series(1, least(len(a.pref), len(b.pref), 30)),
             |          i -> a.pref[1:CAST(i AS INT)] = b.pref[1:CAST(i AS INT)])) AS lcp
             |      FROM reps a JOIN reps b ON b.rk = a.rk + 1)
             |SELECT suffix_rank, doc_a, CAST(pos_a AS INT) AS pos_a,
             |  doc_b, CAST(pos_b AS INT) AS pos_b,
             |  CAST(greatest(lcp, 0) AS INT) AS lcp_tokens
             |FROM j ORDER BY lcp_tokens DESC, suffix_rank ASC LIMIT 50""".stripMargin)),

    QueryDef("suffix_dup_spans",
      // per-document duplicated-span census at suffix-array precision
      // (the Lee et al. exact-substring detector): a position starts a
      // >= 8-token duplicated run iff its suffix's max neighbor LCP in
      // SA order clears 8 (rank ties = whole-suffix duplicates). All
      // LCP work at RANK level (clique-safe; reps chosen BEFORE prefix
      // materialization), one linear expansion join; shared SA build
      (s, dir) => graft.functions.SuffixArray.suffixDupSpansFrom(
          Artifacts.suffixRanksFrame(s, dir), Tables.documents(s, dir),
          "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |s AS (SELECT doc_id, i AS pos, len(tk) AS n,
             |        array_to_string(tk[CAST(i AS INT):CAST(len(tk) AS INT)], ' ') AS suf,
             |        tk[CAST(i AS INT):CAST(least(i + 29, len(tk)) AS INT)] AS pref
             |      FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM t)),
             |r AS (SELECT doc_id, pos, n - pos + 1 AS slen, pref,
             |        CAST(dense_rank() OVER (ORDER BY suf) AS BIGINT) AS rk
             |      FROM s),
             |reps AS (SELECT rk, nm, pref, slen FROM (
             |    SELECT rk, pref, slen,
             |      row_number() OVER (PARTITION BY rk ORDER BY doc_id, pos) AS rn,
             |      count(*) OVER (PARTITION BY rk) AS nm
             |    FROM r) WHERE rn = 1),
             |nx AS (SELECT a.rk,
             |         len(list_filter(generate_series(1, least(len(a.pref), len(b.pref))),
             |           i -> a.pref[1:CAST(i AS INT)] = b.pref[1:CAST(i AS INT)])) AS lcpn
             |       FROM reps a JOIN reps b ON b.rk = a.rk + 1),
             |stats AS (SELECT reps.rk,
             |            greatest(coalesce(nx.lcpn, 0), coalesce(pv.lcpn, 0),
             |              CASE WHEN reps.nm > 1 THEN least(reps.slen, 30) ELSE 0 END) AS maxl
             |          FROM reps LEFT JOIN nx ON nx.rk = reps.rk
             |          LEFT JOIN nx pv ON pv.rk = reps.rk - 1),
             |j AS (SELECT r.doc_id, stats.maxl FROM r JOIN stats ON stats.rk = r.rk)
             |SELECT doc_id,
             |  CAST(sum(CASE WHEN maxl >= 8 THEN 1 ELSE 0 END) AS INT) AS n_dup_starts,
             |  CAST(max(maxl) AS INT) AS max_lcp_tokens
             |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QueryDef("suffix_spans_remove",
      // the REMOVAL half of Lee et al.'s exact-substring dedup at SA
      // precision (completing the loop suffix_dup_spans detects for):
      // every token position covered by a >= 8-token duplicated run —
      // start positions are ranks whose max neighbor LCP clears 8, the
      // run extends maxl tokens — is dropped and the text rebuilt from
      // survivors. Same output surface as the 3-gram-quantized
      // dedup_spans_remove, exact span boundaries (up to the 30 cap);
      // consumes the SHARED offline SA build AND the landed detector
      // stats ([[Artifacts.suffixLcpPath]] — detect once, cut from findings).
      // Oracle replays the full dense_rank construction, rank-level LCP
      // stats, position coverage, and the rebuild
      (s, dir) => graft.functions.SuffixArray.suffixSpansRemoveFromStats(
          Artifacts.suffixRanksFrame(s, dir),
          s.read.parquet(Artifacts.suffixLcpPath(s, dir)),
          Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
             |s AS (SELECT doc_id, i AS pos, len(tk) AS n,
             |        array_to_string(tk[CAST(i AS INT):CAST(len(tk) AS INT)], ' ') AS suf,
             |        tk[CAST(i AS INT):CAST(least(i + 29, len(tk)) AS INT)] AS pref
             |      FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM t)),
             |r AS (SELECT doc_id, pos, n - pos + 1 AS slen, pref,
             |        CAST(dense_rank() OVER (ORDER BY suf) AS BIGINT) AS rk
             |      FROM s),
             |reps AS (SELECT rk, nm, pref, slen FROM (
             |    SELECT rk, pref, slen,
             |      row_number() OVER (PARTITION BY rk ORDER BY doc_id, pos) AS rn,
             |      count(*) OVER (PARTITION BY rk) AS nm
             |    FROM r) WHERE rn = 1),
             |nx AS (SELECT a.rk,
             |         len(list_filter(generate_series(1, least(len(a.pref), len(b.pref))),
             |           i -> a.pref[1:CAST(i AS INT)] = b.pref[1:CAST(i AS INT)])) AS lcpn
             |       FROM reps a JOIN reps b ON b.rk = a.rk + 1),
             |stats AS (SELECT reps.rk,
             |            greatest(coalesce(nx.lcpn, 0), coalesce(pv.lcpn, 0),
             |              CASE WHEN reps.nm > 1 THEN least(reps.slen, 30) ELSE 0 END) AS maxl
             |          FROM reps LEFT JOIN nx ON nx.rk = reps.rk
             |          LEFT JOIN nx pv ON pv.rk = reps.rk - 1),
             |st AS (SELECT r.doc_id, r.pos, stats.maxl
             |       FROM r JOIN stats ON stats.rk = r.rk WHERE stats.maxl >= 8),
             |cov AS (SELECT DISTINCT doc_id, j FROM
             |         (SELECT doc_id, unnest(generate_series(pos, pos + maxl - 1)) AS j
             |          FROM st)),
             |covs AS (SELECT doc_id, list(j) AS cov, count(*) AS n_rem
             |         FROM cov GROUP BY doc_id)
             |SELECT t.doc_id,
             |  CASE WHEN c.doc_id IS NULL THEN t.text
             |       ELSE coalesce(array_to_string(list_filter(t.tk,
             |              (x, i) -> NOT list_contains(c.cov, i)), ' '), '') END AS clean_text,
             |  CAST(coalesce(c.n_rem, 0) AS INT) AS n_removed
             |FROM t LEFT JOIN covs c USING (doc_id) ORDER BY t.doc_id""".stripMargin)),

    QueryDef("cdc_chunks",
      // content-defined chunking (Rabin/FastCDC at word granularity):
      // boundaries where the 4-token window hash ≡ 0 (mod 16) — local
      // content decides the cut, so edits only perturb O(1) chunks
      // (the storage-dedup / incremental-sync property fixed windows
      // lack); oracle recomputes every window hash, boundary, and span
      (s, dir) => TextAnalysis.cdcChunks(Tables.documents(s, dir),
          "doc_id", "text")
        .orderBy("doc_id", "chunk_idx"),
      Some {
        val winHash = md5SliceSql(
          "tk[i-3] || ' ' || tk[i-2] || ' ' || tk[i-1] || ' ' || tk[i]")
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
           |b AS (SELECT doc_id, tk, len(tk) AS n,
           |        list_append(
           |          CASE WHEN len(tk) > 4 THEN
           |            list_filter(generate_series(4, len(tk) - 1),
           |              i -> ($winHash) % 16 = 0)
           |          ELSE CAST([] AS BIGINT[]) END, len(tk)) AS bp
           |      FROM t),
           |c AS (SELECT doc_id, tk, bp, unnest(generate_series(1, len(bp))) AS j FROM b),
           |d AS (SELECT doc_id, tk, bp, j,
           |        CASE WHEN j = 1 THEN 1 ELSE bp[CAST(j - 1 AS INT)] + 1 END AS st
           |      FROM c)
           |SELECT doc_id, CAST(j AS INT) AS chunk_idx,
           |  CAST(st AS INT) AS start_pos,
           |  CAST(bp[CAST(j AS INT)] - st + 1 AS INT) AS chunk_len,
           |  md5(array_to_string(tk[CAST(st AS INT):CAST(bp[CAST(j AS INT)] AS INT)], ' ')) AS chunk_md5
           |FROM d ORDER BY doc_id, chunk_idx""".stripMargin
      }),

    QueryDef("winnow_fingerprints",
      // winnowing (Schleimer et al. 2003, MOSS): min-hash of each sliding
      // window of w=4 gram hashes over k=3-word grams, leftmost ties,
      // deduped — shared runs >= w+k-1 words guarantee a shared
      // fingerprint. Narrow array expressions; the oracle recomputes every
      // gram hash and every window argmin
      (s, dir) => TextAnalysis.winnowFingerprints(Tables.documents(s, dir),
          "doc_id", "text", k = 3, w = 4)
        .orderBy("doc_id", "pos"),
      Some {
        val gramHash = md5SliceSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
           |           FROM documents WHERE len(string_split(text, ' ')) >= 3),
           |h AS (SELECT doc_id,
           |        list_transform(generate_series(1, len(tk) - 2),
           |          i -> $gramHash) AS hs
           |      FROM t),
           |wj AS (SELECT doc_id, hs,
           |         unnest(generate_series(1, greatest(len(hs) - 3, 1))) AS j
           |       FROM h),
           |sel AS (SELECT doc_id, hs,
           |          list_reduce(generate_series(j, least(j + 3, len(hs))),
           |            (a, b) -> CASE WHEN hs[b] < hs[a] THEN b ELSE a END) AS pos
           |        FROM wj)
           |SELECT DISTINCT doc_id, CAST(pos AS INT) AS pos, hs[pos] AS fp
           |FROM sel ORDER BY doc_id, pos""".stripMargin
      }),

    QueryDef("winnow_overlap_pairs",
      // local-overlap candidates from the winnowing index: doc pairs
      // sharing >= 2 selected fingerprints (MOSS's match step) — an
      // inverted-index equi-join on fp at winnowed density, never doc x
      // doc, with identical-content cliques collapsed to one
      // representative before the join (round-10; winnowing + candidate
      // counting run at distinct-text level, id pairs expand at the end)
      (s, dir) => TextAnalysis.winnowOverlapPairs(Tables.documents(s, dir),
          "doc_id", "text", k = 3, w = 4, minShared = 2L)
        .orderBy("id_a", "id_b"),
      Some {
        val gramHash = md5SliceSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
           |           FROM documents WHERE len(string_split(text, ' ')) >= 3),
           |h AS (SELECT doc_id,
           |        list_transform(generate_series(1, len(tk) - 2),
           |          i -> $gramHash) AS hs
           |      FROM t),
           |wj AS (SELECT doc_id, hs,
           |         unnest(generate_series(1, greatest(len(hs) - 3, 1))) AS j
           |       FROM h),
           |sel AS (SELECT DISTINCT doc_id,
           |          hs[list_reduce(generate_series(j, least(j + 3, len(hs))),
           |            (a, b) -> CASE WHEN hs[b] < hs[a] THEN b ELSE a END)] AS fp
           |        FROM wj)
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |  count(*) AS n_shared_fps
           |FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
           |GROUP BY 1, 2 HAVING count(*) >= 2
           |ORDER BY id_a, id_b""".stripMargin
      }),

    QueryDef("dedup_edit_verify",
      // edit-distance verification of the winnowing candidates: the MOSS
      // match step's survivors re-checked with exact Levenshtein over the
      // 80-char prefixes — candidates only (the fp-keyed inverted index
      // blocks the O(n²)), never doc × doc. Both engines implement the
      // classic unit-cost DP, so the distance is engine-exact
      // clique-collapsed (round-10): the Levenshtein DP runs once per
      // DISTINCT-TEXT pair; within-clique pairs are distance 0 with no DP
      (s, dir) => TextAnalysis.editVerifiedPairs(Tables.documents(s, dir),
          "doc_id", "text", k = 3, w = 4, minShared = 2L, prefixLen = 80)
        .orderBy("id_a", "id_b"),
      Some {
        val gramHash = md5SliceSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
           |           FROM documents WHERE len(string_split(text, ' ')) >= 3),
           |h AS (SELECT doc_id,
           |        list_transform(generate_series(1, len(tk) - 2),
           |          i -> $gramHash) AS hs
           |      FROM t),
           |wj AS (SELECT doc_id, hs,
           |         unnest(generate_series(1, greatest(len(hs) - 3, 1))) AS j
           |       FROM h),
           |sel AS (SELECT DISTINCT doc_id,
           |          hs[list_reduce(generate_series(j, least(j + 3, len(hs))),
           |            (a, b) -> CASE WHEN hs[b] < hs[a] THEN b ELSE a END)] AS fp
           |        FROM wj),
           |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |         CAST(count(*) AS BIGINT) AS n_shared_fps
           |       FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
           |       GROUP BY 1, 2 HAVING count(*) >= 2)
           |SELECT pr.id_a, pr.id_b, pr.n_shared_fps,
           |  CAST(levenshtein(substr(da.text, 1, 80), substr(db.text, 1, 80)) AS BIGINT) AS edit_dist
           |FROM pr
           |JOIN documents da ON da.doc_id = pr.id_a
           |JOIN documents db ON db.doc_id = pr.id_b
           |ORDER BY id_a, id_b""".stripMargin
      }),

    QueryDef("winsorize_by_group",
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

    QueryDef("score_quantile_normalize",
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

    QueryDef("text_char_entropy",
      // character-entropy quality signal (quantize-then-sum micronats —
      // the perplexity family's exactness discipline); oracle recomputes
      // every per-char count, every quantized log, and both divisions
      (s, dir) => TextAnalysis.charEntropy(Tables.documents(s, dir),
          "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH ex AS (SELECT doc_id, unnest(string_split(text, '')) AS c
             |            FROM documents),
             |cnt AS (SELECT doc_id, c, count(*) AS n FROM ex
             |        WHERE c <> '' GROUP BY 1, 2),
             |agg AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_chars_total,
             |          CAST(sum(n * CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS s
             |        FROM cnt GROUP BY 1)
             |SELECT doc_id, n_chars_total,
             |  CAST(CAST(floor(ln(CAST(n_chars_total AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
             |       - (s // n_chars_total) AS BIGINT) AS entropy_micronats
             |FROM agg ORDER BY doc_id""".stripMargin)),

    QueryDef("vocab_coverage_curve",
      // vocab-size decision curve: occurrence coverage of top-N
      // vocabularies, computed from the COUNT-OF-COUNTS histogram (driver
      // sees count VALUES, never a token ranking); the oracle ranks the
      // whole vocabulary with a window — the very plan the engine avoids —
      // and must agree because tie levels sum identically
      (s, dir) => TextAnalysis.vocabCoverage(Tables.documents(s, dir),
          "text", Seq(100L, 500L, 2000L))
        .orderBy("n"),
      Some("""WITH tk AS (SELECT unnest(string_split(text, ' ')) AS t
             |            FROM documents),
             |c AS (SELECT t, count(*) AS c FROM tk GROUP BY t),
             |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM c),
             |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, t) AS rn
             |      FROM c),
             |n AS (SELECT CAST(unnest([100, 500, 2000]) AS BIGINT) AS n)
             |SELECT n.n,
             |  CAST(sum(CASE WHEN r.rn <= n.n THEN r.c ELSE 0 END) AS BIGINT)
             |    AS covered_occurrences,
             |  tot.total AS total_occurrences,
             |  CAST(sum(CASE WHEN r.rn <= n.n THEN r.c ELSE 0 END) AS DOUBLE)
             |    / tot.total AS coverage
             |FROM r CROSS JOIN n CROSS JOIN tot
             |GROUP BY n.n, tot.total ORDER BY n""".stripMargin)),

    QueryDef("langid_margin",
      // language-call confidence: best minus second-best marker score per
      // doc (integer intersection counts — engine-exact); the oracle
      // recomputes every per-language score and the sorted gap
      (s, dir) => TextAnalysis.langIdMargin(Tables.documents(s, dir),
          "doc_id", "text")
        .orderBy("doc_id"),
      Some {
        val sList = TextAnalysis.Langs.map(l => s"s_${l._1}").mkString(", ")
        s"""WITH m AS (SELECT doc_id, $langScoreSql
           |           FROM documents)
           |SELECT doc_id, $langCaseSql AS lang_pred,
           |  CAST(list_sort([$sList], 'DESC')[1]
           |     - list_sort([$sList], 'DESC')[2] AS INT) AS margin
           |FROM m ORDER BY doc_id""".stripMargin
      }),

    QueryDef("oov_rate_by_lang",
      // tokenizer-coverage dashboard: out-of-vocabulary rate per language
      // under the top-500 corpus vocabulary — the number a tokenizer/vocab
      // decision is made on; vocabulary + ranking + every id recomputed
      (s, dir) => {
        val ids = TextAnalysis.tokenizeIds(Tables.documents(s, dir),
          "doc_id", "text", vocabSize = 500)
        val langs = Tables.documents(s, dir).select("doc_id", "lang")
        ids.join(langs.hint("shuffle_hash"), Seq("doc_id"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("tok_id") === 0, 1L).otherwise(0L)).as("n_oov"))
          .withColumn("oov_rate",
            col("n_oov").cast("double") / col("n_tokens"))
          .orderBy("lang")
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             |            FROM documents),
             |v AS (SELECT tok FROM (
             |        SELECT tok, count(*) AS c FROM tok GROUP BY tok
             |        ORDER BY c DESC, tok LIMIT 500)),
             |j AS (SELECT t.doc_id, (v.tok IS NOT NULL) AS inv
             |      FROM tok t LEFT JOIN v ON t.tok = v.tok)
             |SELECT d.lang, count(*) AS n_tokens,
             |  CAST(sum(CASE WHEN NOT inv THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
             |  CAST(sum(CASE WHEN NOT inv THEN 1 ELSE 0 END) AS DOUBLE)
             |    / count(*) AS oov_rate
             |FROM j JOIN documents d USING (doc_id)
             |GROUP BY d.lang ORDER BY lang""".stripMargin)),

    QueryDef("ngram_topk",
      // most frequent word bigrams across the corpus: explode -> count -> topk
      (s, dir) => Tables.documents(s, dir)
        .select(explode(graft.functions.Dedup.shingles(col("text"), 2)).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("gram")).limit(20),
      Some("""SELECT gram, count(*) AS n FROM (
             |  SELECT unnest(list_distinct(CASE WHEN len(string_split(text,' ')) >= 2
             |    THEN list_transform(generate_series(1, len(string_split(text,' '))-1),
             |         i -> array_to_string((string_split(text,' '))[i:i+1], ' '))
             |    ELSE [text] END)) AS gram
             |  FROM documents)
             |GROUP BY gram ORDER BY n DESC, gram LIMIT 20""".stripMargin)),

    QueryDef("bpe_learn",
      // BPE vocabulary learning (Sennrich 2016): 8 merge rounds over the
      // word histogram — after one corpus-sized shuffle every round is
      // model-sized. The oracle unrolls all 8 rounds (pair census, total-
      // order argmax, greedy leftmost non-overlapping merge via
      // parity-kept starts) and must reproduce the exact merge table
      (s, dir) => graft.functions.Bpe.learn(
          Tables.documents(s, dir), "text", steps = 8)
        .orderBy("step"),
      Some(graft.functions.Bpe.learnOracleSql("documents", "text", steps = 8))),

    QueryDef("bpe_learn_batched",
      // the production-vocab path: up to 4 pairwise-non-interacting merges
      // applied per Spark round (strict-dominance guarded — see
      // Bpe.learnBatched), provably identical to sequential greedy. Gate
      // replays the SAME unrolled sequential oracle as bpe_learn: the
      // equivalence is checked bit-for-bit against DuckDB, not just
      // self-consistency
      (s, dir) => graft.functions.Bpe.learnBatched(
          Tables.documents(s, dir), "text", steps = 8, maxBatch = 4)
        .orderBy("step"),
      Some(graft.functions.Bpe.learnOracleSql("documents", "text", steps = 8))),

    QueryDef("bpe_token_census",
      // the consumer half of BPE learning: segment the corpus under the 8
      // learned merges and census the resulting symbol inventory (token
      // frequency table under the learned vocabulary). The oracle re-learns
      // all 8 merges AND re-segments every word
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.functions.Bpe.segment(docs, "text", Artifacts.bpeMerges(s, dir))
          .select(explode(col("syms")).as("sym"), col("freq"))
          .groupBy("sym").agg(sum(col("freq")).as("n"))
          .orderBy(col("n").desc, col("sym"))
      },
      Some(s"""${graft.functions.Bpe.learnSegmentedCteSql("documents", "text", steps = 8)}
              |SELECT sym, CAST(sum(freq) AS BIGINT) AS n
              |FROM (SELECT unnest(syms) AS sym, freq FROM w8)
              |GROUP BY sym ORDER BY n DESC, sym""".stripMargin)),

    QueryDef("bpe_fertility_by_lang",
      // tokenizer-fertility dashboard: chars per subword token by language
      // under the LEARNED 8-merge vocabulary — the number vocab-size and
      // language-mix decisions are made on. The segmented histogram is
      // model-sized, so the word -> n_subtokens map BROADCASTS; the corpus
      // side is one explode + one shuffle-free broadcast join + one
      // lang-keyed aggregate. Integer everything; fertility in micro-units
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val seg = graft.functions.Bpe.segment(docs, "text", Artifacts.bpeMerges(s, dir))
          .select(col("word"), size(col("syms")).cast("long").as("n_sub"))
        val words = docs.select(col("lang"),
            explode(split(col("text"), " ")).as("word"))
          .filter(col("word") =!= "")
        words.join(broadcast(seg), Seq("word"))
          .groupBy("lang")
          .agg(sum(length(col("word")).cast("long")).as("n_chars"),
            sum(col("n_sub")).as("n_subtokens"))
          .withColumn("fertility_micro",
            expr("(1000000 * n_chars) div n_subtokens"))
          .orderBy("lang")
      },
      Some(s"""${graft.functions.Bpe.learnSegmentedCteSql("documents", "text", steps = 8)},
              |seg AS MATERIALIZED (
              |  SELECT word, CAST(len(syms) AS BIGINT) AS n_sub FROM w8),
              |wrd AS (
              |  SELECT lang, unnest(string_split(text, ' ')) AS word
              |  FROM documents)
              |SELECT lang, CAST(sum(len(word)) AS BIGINT) AS n_chars,
              |       CAST(sum(n_sub) AS BIGINT) AS n_subtokens,
              |       CAST((1000000 * CAST(sum(len(word)) AS BIGINT))
              |            // CAST(sum(n_sub) AS BIGINT) AS BIGINT) AS fertility_micro
              |FROM wrd JOIN seg USING (word)
              |WHERE word <> ''
              |GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef("tokenize_ids",
      // vocabulary-indexed tokenization: top-1000 vocab by (freq desc,
      // token asc), ids 1..N, OOV -> 0, one row per token position; the
      // oracle retrains the vocabulary and re-maps every position
      (s, dir) => TextAnalysis.tokenizeIds(Tables.documents(s, dir),
          "doc_id", "text", vocabSize = 1000)
        .orderBy("doc_id", "pos"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |tok AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS pos, toks FROM t),
             |tk AS (SELECT doc_id, pos, toks[pos] AS tok FROM tok),
             |cnt AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
             |voc AS (SELECT tok, CAST(row_number() OVER (ORDER BY c DESC, tok) AS INT) AS tok_id
             |        FROM cnt ORDER BY c DESC, tok LIMIT 1000)
             |SELECT tk.doc_id, CAST(tk.pos AS INT) AS pos,
             |       coalesce(voc.tok_id, 0) AS tok_id
             |FROM tk LEFT JOIN voc USING (tok)
             |ORDER BY doc_id, pos""".stripMargin)),

    QueryDef("seq_concat_blocks",
      // GPT-style concatenate-and-chunk: docs in seeded-shuffle order, the
      // global token stream cut into 64-token blocks crossing doc
      // boundaries; the engine's bucketed global cumsum must equal the
      // oracle's one-pass global window exactly (integer token counts)
      (s, dir) => graft.functions.Packing.concatBlocks(
          Tables.documents(s, dir), "doc_id", "text", blockWidth = 64)
        .orderBy("doc_id"),
      Some("""WITH d AS (
             |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
             |         list_reduce(list_transform(
             |           regexp_extract_all(substr(md5('pack42#' || CAST(doc_id AS VARCHAR)), 25, 8), '.'),
             |           c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16 + b) AS h
             |  FROM documents),
             |o AS (
             |  SELECT doc_id, n,
             |         coalesce(sum(n) OVER (ORDER BY h, doc_id
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
             |  FROM d)
             |SELECT doc_id, n AS n_tokens,
             |       CAST(start_off AS BIGINT) AS start_off,
             |       CAST(start_off // 64 AS BIGINT) AS block_first,
             |       CAST((start_off + n - 1) // 64 AS BIGINT) AS block_last
             |FROM o ORDER BY doc_id""".stripMargin)),

    QueryDef("novelty_score",
      // per-doc fraction of distinct 3-gram shingles unique to the doc
      // corpus-wide (df = 1) — the boilerplate-vs-unique-content signal;
      // the oracle rebuilds the whole inverted index and every ratio
      (s, dir) => TextAnalysis.noveltyScores(Tables.documents(s, dir),
          "doc_id", "text", k = 3)
        .orderBy("doc_id"),
      Some(s"""WITH sh AS (SELECT doc_id, unnest($ShinglesSql) AS g FROM documents),
              |dfreq AS (SELECT g, count(*) AS df FROM sh GROUP BY g)
              |SELECT doc_id, count(*) AS n_grams,
              |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
              |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS novelty
              |FROM sh JOIN dfreq USING (g)
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QueryDef("collocations",
      // top-20 adjacent-pair collocations by PMI, ranked on the integer
      // MICRONAT quantization (engine-exact cut); counts, totals, and
      // every PMI value recomputed from scratch by the oracle
      (s, dir) => TextAnalysis.collocations(Tables.documents(s, dir),
          "doc_id", "text", topK = 20, minCount = 5L),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |tr AS (SELECT toks[i] AS tok_a, toks[i + 1] AS tok_b
             |       FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
             |             FROM t WHERE len(toks) >= 2)),
             |pc AS (SELECT tok_a, tok_b, count(*) AS c_ab FROM tr GROUP BY 1, 2),
             |tp AS (SELECT CAST(count(*) AS BIGINT) AS t_pair FROM tr),
             |tok AS (SELECT unnest(toks) AS tok FROM t),
             |tc AS (SELECT tok, count(*) AS c_tok FROM tok GROUP BY tok),
             |tt AS (SELECT CAST(count(*) AS BIGINT) AS t_tok FROM tok)
             |SELECT tok_a, tok_b, c_ab,
             |  CAST(floor(ln((CAST(c_ab AS DOUBLE) / t_pair) /
             |       ((CAST(ca.c_tok AS DOUBLE) / t_tok) * (CAST(cb.c_tok AS DOUBLE) / t_tok)))
             |     * 1000000 + 0.5) AS BIGINT) AS pmi_micronats
             |FROM pc
             |JOIN tc ca ON ca.tok = pc.tok_a
             |JOIN tc cb ON cb.tok = pc.tok_b
             |CROSS JOIN tp CROSS JOIN tt
             |WHERE c_ab >= 5
             |ORDER BY pmi_micronats DESC, tok_a, tok_b LIMIT 20""".stripMargin)),

    QueryDef("text_repetition",
      // duplicate-3-gram fraction, the corpus-filtering repetition signal
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.repetitionRatio(col("text"), 3).as("rep3"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |  CASE WHEN len(string_split(text,' ')) - 2 <= 0 THEN 0.0
              |       ELSE 1.0 - CAST(len($ShinglesSql) AS DOUBLE)
              |              / (len(string_split(text,' ')) - 2) END AS rep3
              |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("text_quality_gopher",
      // Gopher-style rule-level quality flags: one boolean per rule plus
      // the conjunction (practitioners audit WHICH rule fired, not a
      // blended score); oracle recomputes every metric and every flag
      (s, dir) => TextAnalysis.gopherFlags(Tables.documents(s, dir))
        .select("doc_id", "ok_length", "ok_mean_len", "ok_repetition",
          "ok_stopwords", "keep")
        .orderBy("doc_id"),
      Some {
        val en = TextAnalysis.Langs.head._2.map("'" + _ + "'").mkString(",")
        s"""WITH m AS (
           |  SELECT doc_id,
           |    len(string_split(text,' ')) AS n_tokens,
           |    len(list_distinct(string_split(text,' '))) AS n_uniq,
           |    len(list_intersect(string_split(text,' '), [$en])) AS n_stop,
           |    length(text) AS n_chars,
           |    CASE WHEN len(string_split(text,' ')) - 2 <= 0 THEN 0.0
           |         ELSE 1.0 - CAST(len($ShinglesSql) AS DOUBLE)
           |                / (len(string_split(text,' ')) - 2) END AS rep3
           |  FROM documents),
           |f AS (
           |  SELECT doc_id,
           |    (n_tokens >= 8 AND n_tokens <= 100000) AS ok_length,
           |    (CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens >= 2.0
           |     AND CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens <= 12.0) AS ok_mean_len,
           |    (rep3 <= 0.5) AS ok_repetition,
           |    (CAST(n_stop AS DOUBLE) / n_uniq >= 0.02) AS ok_stopwords
           |  FROM m)
           |SELECT doc_id, ok_length, ok_mean_len, ok_repetition, ok_stopwords,
           |       (ok_length AND ok_mean_len AND ok_repetition AND ok_stopwords) AS keep
           |FROM f ORDER BY doc_id""".stripMargin
      }),

    QueryDef("quality_by_source",
      // per-source curation dashboard: doc counts, quality-score sums in
      // integer nanos (associative — a raw double sum would be
      // merge-order-dependent), Gopher pass counts; everything recomputed
      // by the oracle from the text
      (s, dir) => TextAnalysis.qualityByGroup(Tables.documents(s, dir),
          "source")
        .orderBy("source"),
      Some {
        val en = TextAnalysis.Langs.head._2.map("'" + _ + "'").mkString(",")
        s"""WITH m AS (
           |  SELECT doc_id, source,
           |    len(string_split(text,' ')) AS n_tokens,
           |    len(list_distinct(string_split(text,' '))) AS n_uniq,
           |    len(list_intersect(string_split(text,' '), [$en])) AS n_stop,
           |    length(text) AS n_chars,
           |    CASE WHEN len(string_split(text,' ')) - 2 <= 0 THEN 0.0
           |         ELSE 1.0 - CAST(len($ShinglesSql) AS DOUBLE)
           |                / (len(string_split(text,' ')) - 2) END AS rep3
           |  FROM documents),
           |q AS (
           |  SELECT doc_id, source,
           |    (CAST(n_uniq AS DOUBLE) / n_tokens) * 0.5
           |      + (CAST(n_stop AS DOUBLE) / n_uniq) * 0.2
           |      + least((CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens) / 10.0, 1.0) * 0.3 AS q,
           |    ((n_tokens >= 8 AND n_tokens <= 100000)
           |     AND (CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens >= 2.0
           |          AND CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens <= 12.0)
           |     AND (rep3 <= 0.5)
           |     AND (CAST(n_stop AS DOUBLE) / n_uniq >= 0.02)) AS keep
           |  FROM m)
           |SELECT source, count(*) AS n_docs,
           |  CAST(sum(CAST(floor(q * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS q_nanos_sum,
           |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_pass
           |FROM q GROUP BY source ORDER BY source""".stripMargin
      }),

    QueryDef("text_normalize",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.normalize(col("text")).as("norm"),
          (length(col("text")) - length(TextAnalysis.normalize(col("text"))))
            .as("n_saved"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  regexp_replace(lower(trim(text)), ' +', ' ', 'g') AS norm,
             |  CAST(length(text) - length(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS INT) AS n_saved
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("sample_stratified",
      // deterministic mixing-weight sampling: membership is a pure hash of
      // the key, so the oracle verifies the EXACT sample, not just its size
      (s, dir) => graft.functions.Sampling.stratifiedSample(
          Tables.documents(s, dir), "doc_id", "lang",
          rates = StratRates, defaultRate = StratDefault)
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      Some {
        def th(r: Double): Long = math.round(r * 4294967296.0)
        val cases = StratRates.map { case (l, r) =>
          s"WHEN lang = '$l' THEN ${th(r)}"
        }.mkString(" ")
        s"""SELECT doc_id, lang FROM documents
           |WHERE list_reduce(list_transform(
           |    regexp_extract_all(substr(md5(CAST(doc_id AS VARCHAR)), 25, 8), '.'),
           |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16 + b)
           |  < CASE $cases ELSE ${th(StratDefault)} END
           |ORDER BY doc_id""".stripMargin
      }),

    QueryDef("sample_epochs",
      // fractional epoch expansion: src0 x2.5, src1 x0.5, everything else
      // x1.25 — integer copies for all, plus a deterministic hash slice for
      // the extra epoch; the oracle rematerializes every copy
      (s, dir) => graft.functions.Sampling.epochExpand(
          Tables.documents(s, dir), "doc_id", "source",
          Map("src0" -> 2.5, "src1" -> 0.5), defaultEpochs = 1.25)
        .groupBy("source", "epoch")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("source", "epoch"),
      Some {
        def th(f: Double): Long = math.round(f * 4294967296.0)
        s"""WITH h AS (SELECT doc_id, source,
           |    list_reduce(list_transform(
           |      regexp_extract_all(substr(md5(CAST(doc_id AS VARCHAR) || '#ep'), 25, 8), '.'),
           |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16 + b) AS hv
           |  FROM documents),
           |c AS (SELECT source,
           |    (CASE WHEN source = 'src0' THEN 2 WHEN source = 'src1' THEN 0 ELSE 1 END)
           |    + (CASE WHEN hv < (CASE WHEN source = 'src0' THEN ${th(0.5)}
           |                            WHEN source = 'src1' THEN ${th(0.5)}
           |                            ELSE ${th(0.25)} END)
           |       THEN 1 ELSE 0 END) AS copies
           |  FROM h),
           |e AS (SELECT source, unnest(generate_series(1, copies)) AS epoch
           |      FROM c WHERE copies >= 1)
           |SELECT source, CAST(epoch AS BIGINT) AS epoch, count(*) AS n_docs
           |FROM e GROUP BY source, epoch ORDER BY source, epoch""".stripMargin
      }),

    QueryDef("sample_reservoir",
      // exact-k bottom-k-by-hash "reservoir" per stratum: deterministic
      // membership AND rank, so the oracle verifies the full sample order
      (s, dir) => graft.functions.Sampling.reservoirPerKey(
          Tables.documents(s, dir), "doc_id", "lang", k = 5)
        .select("lang", "sample_rank", "doc_id")
        .orderBy("lang", "sample_rank"),
      Some("""WITH r AS (
             |  SELECT lang, doc_id,
             |         row_number() OVER (PARTITION BY lang ORDER BY
             |           list_reduce(list_transform(
             |             regexp_extract_all(substr(md5(CAST(doc_id AS VARCHAR)), 25, 8), '.'),
             |             c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16 + b) ASC,
             |           doc_id ASC) AS sample_rank
             |  FROM documents)
             |SELECT lang, sample_rank, doc_id FROM r
             |WHERE sample_rank <= 5 ORDER BY lang, sample_rank""".stripMargin)),

    QueryDef("corpus_shuffle",
      // deterministic corpus shuffle for training-order randomization:
      // sort by a seeded hash of the id — a range-partitioned sort on a
      // uniform key (no skew, no global window); re-runs and retries give
      // byte-identical order
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          md5(concat(lit("shuf42#"), col("doc_id").cast("string"))).as("shuffle_key"))
        .orderBy("shuffle_key"),
      Some("""SELECT doc_id, md5('shuf42#' || CAST(doc_id AS VARCHAR)) AS shuffle_key
             |FROM documents ORDER BY shuffle_key""".stripMargin)),

    QueryDef("salient_terms",
      // top-3 tf/df salient terms per document (tf-idf ranking with the
      // log-free 1/df weight — same ordering, engine-exact arithmetic)
      (s, dir) => TextAnalysis.salientTerms(Tables.documents(s, dir),
          "doc_id", "text", topK = 3)
        .orderBy("doc_id", "term_rank"),
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
             |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
             |r AS (SELECT doc_id, term, tf, df, CAST(tf AS DOUBLE) / df AS score,
             |        row_number() OVER (PARTITION BY doc_id
             |          ORDER BY CAST(tf AS DOUBLE) / df DESC, term ASC) AS term_rank
             |      FROM tf JOIN dfreq USING (term))
             |SELECT doc_id, term_rank, term, tf, df, score FROM r
             |WHERE term_rank <= 3 ORDER BY doc_id, term_rank""".stripMargin)),

    QueryDef("salient_terms_by_source",
      // c-TF-IDF (BERTopic topic-word score): each SOURCE as one pseudo-
      // document, term scored tf * ln(n_sources/gdf), micronat-quantized
      // right after the ln so the top-5 cut is engine-exact; terms present
      // in every source score 0 and drop out (the boilerplate filter)
      (s, dir) => TextAnalysis.salientTermsByGroup(
          Tables.documents(s, dir), "source", "text", topK = 5)
        .orderBy("source", "term_rank"),
      None,
      dynOracle = Some { (s, dir) =>
        val n = Tables.documents(s, dir)
          .select(col("source")).distinct().count()
        s"""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS term
           |  FROM documents),
           |tf AS (SELECT source, term, count(*) AS tf FROM tok GROUP BY source, term),
           |gdf AS (SELECT term, count(*) AS gdf FROM tf GROUP BY term),
           |sc AS (SELECT source, term, tf, gdf,
           |    CAST(floor(tf * ln(CAST($n AS DOUBLE) / gdf) * 1e6 + 0.5) AS BIGINT) AS score_micronat
           |  FROM tf JOIN gdf USING (term)),
           |r AS (SELECT *, row_number() OVER (PARTITION BY source
           |        ORDER BY score_micronat DESC, term ASC) AS term_rank
           |      FROM sc WHERE score_micronat > 0)
           |SELECT source, term_rank, term, tf, gdf, score_micronat
           |FROM r WHERE term_rank <= 5 ORDER BY source, term_rank""".stripMargin
      }),

    QueryDef("dedup_spans",
      // corpus-wide duplicated-span census (the exact-substring primitive
      // of Lee et al. 2022): every 3-word shingle in >= 2 distinct docs
      // with its doc frequency; oracle recomputes shingling + counting
      (s, dir) => graft.functions.Dedup.duplicatedSpans(
          Tables.documents(s, dir), "doc_id", "text", k = 3, minDocs = 2)
        .orderBy("sh"),
      Some(s"""WITH sh AS (SELECT doc_id, unnest($ShinglesSql) AS sh FROM documents)
              |SELECT sh, count(DISTINCT doc_id) AS n_docs
              |FROM sh GROUP BY sh HAVING count(DISTINCT doc_id) >= 2
              |ORDER BY sh""".stripMargin)),

    QueryDef("dedup_spans_remove",
      // the removal half of Lee et al.: words covered by any corpus-
      // duplicated 3-gram are dropped from each doc; oracle recomputes the
      // census, positional gram hits, covered indices, and the rebuilt text
      (s, dir) => graft.functions.Dedup.removeDuplicatedSpans(
          Tables.documents(s, dir), "doc_id", "text", k = 3, minDocs = 2)
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
              |allsh AS (SELECT doc_id, unnest($ShinglesSql) AS sh FROM documents),
              |dup AS (SELECT sh FROM (SELECT sh, count(DISTINCT doc_id) AS nd
              |                        FROM allsh GROUP BY sh) WHERE nd >= 2),
              |p AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
              |      FROM t WHERE len(toks) >= 3),
              |g AS (SELECT doc_id, i, array_to_string(toks[i:i+2], ' ') AS sh FROM p),
              |cov AS (SELECT DISTINCT doc_id, j FROM
              |         (SELECT doc_id, unnest(generate_series(i, i + 2)) AS j
              |          FROM g JOIN dup USING (sh))),
              |covs AS (SELECT doc_id, list(j) AS cov, count(*) AS n_rem
              |         FROM cov GROUP BY doc_id)
              |SELECT t.doc_id,
              |  CASE WHEN c.doc_id IS NULL THEN t.text
              |       ELSE coalesce(array_to_string(list_filter(t.toks,
              |              (x, i) -> NOT list_contains(c.cov, i)), ' '), '') END AS clean_text,
              |  CAST(coalesce(c.n_rem, 0) AS INT) AS n_removed
              |FROM t LEFT JOIN covs c USING (doc_id) ORDER BY t.doc_id""".stripMargin)),

    QueryDef("text_chunk",
      // fixed-window word chunking with overlap (width 32, stride 24) —
      // the tokenize-and-pack prep stage; oracle recomputes every window
      (s, dir) => TextAnalysis.chunk(Tables.documents(s, dir),
          "doc_id", "text", width = 32, stride = 24)
        .orderBy("doc_id", "chunk_idx"),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t,
             |               len(string_split(text, ' ')) AS n FROM documents),
             |c AS (SELECT doc_id, t,
             |        CASE WHEN n <= 32 THEN 1
             |             ELSE CAST(floor((n - 32 + 23) / 24) AS INT) + 1 END AS nc
             |      FROM d),
             |e AS (SELECT doc_id, t, unnest(generate_series(0, nc - 1)) AS ci FROM c)
             |SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
             |       array_to_string(t[ci * 24 + 1 : ci * 24 + 32], ' ') AS chunk_text
             |FROM e ORDER BY doc_id, chunk_idx""".stripMargin)),

    QueryDef("corpus_pipeline",
      // the whole spec-driven corpus prep in one declared pipeline:
      // lang filter -> min-token filter -> normalize -> exact dedup ->
      // stratified sample -> chunk; oracle recomputes every stage
      (s, dir) => graft.spec.CorpusSpec.run(
        Tables.documents(s, dir),
        graft.spec.CorpusSpec.parse("""{
          "filter": {"minTokens": 5, "langs": ["en", "es"]},
          "normalize": true,
          "dedup": {"method": "exact"},
          "sample": {"strataCol": "lang", "rates": {"en": 0.5}, "default": 0.25},
          "chunk": {"width": 32, "stride": 24}}"""))
        .select("doc_id", "chunk_idx", "chunk_text")
        .orderBy("doc_id", "chunk_idx"),
      Some {
        def th(r: Double): Long = math.round(r * 4294967296.0)
        s"""WITH f AS (
           |  SELECT doc_id, lang,
           |         regexp_replace(lower(trim(text)), ' +', ' ', 'g') AS ntext
           |  FROM documents
           |  WHERE lang IN ('en', 'es') AND len(string_split(text, ' ')) >= 5),
           |d AS (SELECT *, row_number() OVER (PARTITION BY md5(ntext) ORDER BY doc_id) AS rn FROM f),
           |k AS (SELECT doc_id, lang, ntext FROM d WHERE rn = 1),
           |smp AS (
           |  SELECT doc_id, ntext FROM k
           |  WHERE list_reduce(list_transform(
           |      regexp_extract_all(substr(md5(CAST(doc_id AS VARCHAR)), 25, 8), '.'),
           |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16 + b)
           |    < CASE WHEN lang = 'en' THEN ${th(0.5)} ELSE ${th(0.25)} END),
           |t AS (SELECT doc_id, string_split(ntext, ' ') AS t,
           |             len(string_split(ntext, ' ')) AS n FROM smp),
           |c AS (SELECT doc_id, t,
           |        CASE WHEN n <= 32 THEN 1
           |             ELSE CAST(floor((n - 32 + 23) / 24) AS INT) + 1 END AS nc
           |      FROM t),
           |e AS (SELECT doc_id, t, unnest(generate_series(0, nc - 1)) AS ci FROM c)
           |SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
           |       array_to_string(t[ci * 24 + 1 : ci * 24 + 32], ' ') AS chunk_text
           |FROM e ORDER BY doc_id, chunk_idx""".stripMargin
      }),

    QueryDef("pii_redact",
      // PII scrub gate. The synthetic corpus carries no real PII, so the
      // query first augments each row with a deterministic email + phone
      // built from doc_id (both engines construct the identical input),
      // then scrubs; the oracle recomputes the exact redacted text.
      (s, dir) => {
        def aug = concat(col("text"), lit(" reach user"),
          col("doc_id").cast("string"), lit("@example.com or call 555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
          lit(" now"))
        Tables.documents(s, dir).select(col("doc_id"),
          TextClean.countEmails(aug).cast("int").as("n_emails"),
          TextClean.countPhones(TextClean.redactEmails(aug)).cast("int")
            .as("n_phones"),
          md5(TextClean.redactPii(aug)).as("redacted_md5"))
          .orderBy("doc_id")
      },
      Some(s"""WITH a AS (SELECT doc_id,
              |  text || ' reach user' || CAST(doc_id AS VARCHAR)
              |    || '@example.com or call 555-'
              |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now' AS aug
              |  FROM documents),
              |r AS (SELECT doc_id, aug,
              |  regexp_replace(aug, '${TextClean.EmailPattern}', '[EMAIL]', 'g') AS no_email
              |  FROM a)
              |SELECT doc_id,
              |  CAST(len(regexp_extract_all(aug, '${TextClean.EmailPattern}')) AS INT) AS n_emails,
              |  CAST(len(regexp_extract_all(no_email, '${TextClean.PhonePattern}')) AS INT) AS n_phones,
              |  md5(regexp_replace(no_email, '${TextClean.PhonePattern}', '[PHONE]', 'g')) AS redacted_md5
              |FROM r ORDER BY doc_id""".stripMargin)),

    QueryDef("secret_scan",
      // credential/secret scanning census + scrub — the corpus-hygiene
      // step PII redaction does not cover. The synthetic corpus carries
      // no secrets, so the query injects deterministic ones (AWS key id
      // on doc_id%7, JWT-shaped on %11, 40-hex on %13 — both engines
      // build the identical input, the pii_redact fixture discipline);
      // classes overlap by design and the high-entropy detector uses the
      // exact quantize-then-sum micronat entropy
      (s, dir) => {
        def idS = col("doc_id").cast("string")
        def aug = concat(col("text"),
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(lit(" AKIA"),
              upper(substring(md5(concat(lit("sk"), idS)), 1, 16))))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(11)) === 0,
            concat(lit(" eyJ"),
              substring(md5(concat(lit("jwt"), idS)), 1, 24)))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(13)) === 0,
            concat(lit(" "), md5(concat(lit("hex"), idS)),
              substring(md5(concat(lit("hex2"), idS)), 1, 8)))
            .otherwise(lit("")))
        TextClean.secretScan(
            Tables.documents(s, dir).select(col("doc_id"), aug.as("text")),
            "doc_id", "text")
          .orderBy("doc_id")
      },
      Some("""WITH a AS (SELECT doc_id, text
             |  || CASE WHEN doc_id % 7 = 0 THEN ' AKIA' || upper(substr(md5('sk' || CAST(doc_id AS VARCHAR)), 1, 16)) ELSE '' END
             |  || CASE WHEN doc_id % 11 = 0 THEN ' eyJ' || substr(md5('jwt' || CAST(doc_id AS VARCHAR)), 1, 24) ELSE '' END
             |  || CASE WHEN doc_id % 13 = 0 THEN ' ' || md5('hex' || CAST(doc_id AS VARCHAR)) || substr(md5('hex2' || CAST(doc_id AS VARCHAR)), 1, 8) ELSE '' END AS text
             |  FROM documents),
             |t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM a),
             |occ AS (SELECT doc_id, i, tk[i] AS tok
             |        FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM t)),
             |toku AS (SELECT DISTINCT tok FROM occ),
             |cc AS (SELECT tok, c, count(*) AS n
             |       FROM (SELECT tok, unnest(regexp_extract_all(tok, '.')) AS c FROM toku)
             |       GROUP BY 1, 2),
             |ent AS (SELECT tok,
             |          CAST(CAST(floor(ln(CAST(sum(n) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
             |            - sum(n * CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)) // sum(n)
             |            AS BIGINT) AS e
             |        FROM cc GROUP BY tok),
             |cls AS (SELECT tok, e,
             |          regexp_full_match(tok, 'AKIA[0-9A-Z]{16}') AS is_aws,
             |          regexp_full_match(tok, 'eyJ[A-Za-z0-9._-]{17,}') AS is_jwt,
             |          regexp_full_match(tok, '[0-9a-f]{40}') AS is_hex40,
             |          (len(tok) >= 20 AND regexp_full_match(tok, '[A-Za-z0-9+/=_-]+') AND e >= 2300000) AS is_he
             |        FROM ent),
             |-- LEFT join: '' tokens (empty text, consecutive spaces) have no
             |-- chars, so regexp_extract_all drops them from cc/ent/cls — an
             |-- inner join would drop their occ rows entirely, shifting
             |-- scrubbed_md5 and losing empty-text docs. The engine keeps ''
             |-- tokens, classifies them non-secret, and computes NULL entropy
             |-- for them (NULLs are ignored by max/array_max on both engines)
             |j AS (SELECT doc_id, i, tok, e,
             |        coalesce(is_aws, FALSE) AS is_aws,
             |        coalesce(is_jwt, FALSE) AS is_jwt,
             |        coalesce(is_hex40, FALSE) AS is_hex40,
             |        coalesce(is_he, FALSE) AS is_he,
             |        coalesce(is_aws OR is_jwt OR is_hex40 OR is_he, FALSE) AS is_sec
             |      FROM occ LEFT JOIN cls USING (tok)),
             |agg AS (SELECT doc_id,
             |          CAST(sum(CASE WHEN is_sec THEN 1 ELSE 0 END) AS INT) AS n_secret_tokens,
             |          CAST(sum(CASE WHEN is_aws THEN 1 ELSE 0 END) AS INT) AS n_aws_keys,
             |          CAST(sum(CASE WHEN is_jwt THEN 1 ELSE 0 END) AS INT) AS n_jwt,
             |          CAST(sum(CASE WHEN is_hex40 THEN 1 ELSE 0 END) AS INT) AS n_hex40,
             |          CAST(sum(CASE WHEN is_he THEN 1 ELSE 0 END) AS INT) AS n_high_entropy,
             |          max(e) AS max_token_entropy_micronats
             |        FROM j GROUP BY doc_id),
             |scr AS (SELECT doc_id,
             |          md5(string_agg(CASE WHEN is_sec THEN '[SECRET]' ELSE tok END, ' ' ORDER BY i)) AS scrubbed_md5
             |        FROM j GROUP BY doc_id)
             |SELECT doc_id, n_secret_tokens, n_aws_keys, n_jwt, n_hex40,
             |  n_high_entropy, max_token_entropy_micronats, scrubbed_md5
             |FROM agg JOIN scr USING (doc_id) ORDER BY doc_id""".stripMargin)),

    QueryDef("governance_dp_release",
      // ε-differentially-private corpus-composition release (Laplace
      // mechanism, ε = 0.5): per-(lang, source) counts + seeded
      // deterministic Laplace noise drawn by inverse CDF from the 32-bit
      // md5 slice — reproducible across reruns and bit-exactly verified
      // by the oracle; a production release swaps the seed, nothing else
      (s, dir) => graft.functions.Stats.dpNoisyCounts(
          Tables.documents(s, dir), Seq("lang", "source"),
          epsilonPpm = 500000L, seed = "r10dp")
        .orderBy("lang", "source"),
      Some(s"""WITH c AS (SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2),
              |h AS (SELECT lang, source, n,
              |        ${md5SliceSql("'dp|r10dp|' || lang || '|' || source")} AS hv
              |      FROM c),
              |u AS (SELECT lang, source, n,
              |        (CAST(hv AS DOUBLE) + 0.5) / 4294967296.0 - 0.5 AS cu
              |      FROM h)
              |SELECT lang, source,
              |  CAST(n * 1000000 + CAST(floor(
              |    ((CASE WHEN cu >= 0 THEN -1.0 ELSE 1.0 END) * 2.0
              |      * ln(1 - 2 * abs(cu))) * 1000000 + 0.5) AS BIGINT) AS BIGINT)
              |    AS noisy_count_micro,
              |  CAST(500000 AS BIGINT) AS epsilon_ppm
              |FROM u ORDER BY lang, source""".stripMargin)),

    QueryDef("seq_fim_transform",
      // fill-in-the-middle (PSM) reordering with seeded-hash cut points —
      // nonempty prefix/middle guaranteed, suffix may be empty, < 2-token
      // docs pass through with fim_applied = 0; oracle rebuilds the exact
      // PSM string from the same 32-bit md5-slice hashes
      (s, dir) => Packing.fimTransform(Tables.documents(s, dir),
          "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
              |c AS (SELECT doc_id, text, tk, len(tk) AS n,
              |        ${md5SliceSql("'fim42#|1|' || CAST(doc_id AS VARCHAR)")} AS h1,
              |        ${md5SliceSql("'fim42#|2|' || CAST(doc_id AS VARCHAR)")} AS h2
              |      FROM t),
              |d AS (SELECT doc_id, text, tk, n, h2,
              |        CASE WHEN n >= 2 THEN h1 % (n - 1) + 1 ELSE n END AS cut1
              |      FROM c),
              |e AS (SELECT doc_id, text, tk, n, cut1,
              |        CASE WHEN n >= 2 THEN cut1 + 1 + h2 % (n - cut1) ELSE n END AS cut2
              |      FROM d)
              |SELECT doc_id, CAST(n AS INT) AS n_tokens,
              |  CAST(n >= 2 AS INT) AS fim_applied,
              |  CAST(CASE WHEN n >= 2 THEN cut1 ELSE 0 END AS INT) AS prefix_len,
              |  CAST(CASE WHEN n >= 2 THEN cut2 - cut1 ELSE 0 END AS INT) AS middle_len,
              |  CAST(CASE WHEN n >= 2 THEN n - cut2 ELSE 0 END AS INT) AS suffix_len,
              |  md5(CASE WHEN n >= 2
              |      THEN array_to_string(tk[1:CAST(cut1 AS INT)], ' ') || ' <SUF> '
              |        || coalesce(array_to_string(tk[CAST(cut2 + 1 AS INT):CAST(n AS INT)], ' '), '') || ' <MID> '
              |        || array_to_string(tk[CAST(cut1 + 1 AS INT):CAST(cut2 AS INT)], ' ')
              |      ELSE text END) AS psm_md5
              |FROM e ORDER BY doc_id""".stripMargin)),

    QueryDef("text_normalize_nfc",
      // Unicode NFC canonical composition — the ASCII corpus is
      // augmented with deterministic decomposed (e + combining acute,
      // doc_id%3) and precomposed (é, doc_id%5) tokens so both the
      // changed and already-normal paths are oracle-exercised; DuckDB's
      // nfc_normalize is the reference implementation
      (s, dir) => {
        def aug = concat(col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            lit(" caf" + "e" + "́")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 0,
            lit(" caf" + "é")).otherwise(lit("")))
        TextClean.nfcReport(
            Tables.documents(s, dir).select(col("doc_id"), aug.as("text")),
            "doc_id", "text")
          .orderBy("doc_id")
      },
      Some("""WITH a AS (SELECT doc_id, text
             |  || CASE WHEN doc_id % 3 = 0 THEN ' cafe' || chr(769) ELSE '' END
             |  || CASE WHEN doc_id % 5 = 0 THEN ' caf' || chr(233) ELSE '' END AS t
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(nfc_normalize(t) != t AS INT) AS changed,
             |  CAST(len(t) AS INT) AS n_chars_before,
             |  CAST(len(nfc_normalize(t)) AS INT) AS n_chars_after,
             |  md5(nfc_normalize(t)) AS normalized_md5
             |FROM a ORDER BY doc_id""".stripMargin)),

    QueryDef("text_strip_markup",
      // HTML-to-text gate: wrap each doc in deterministic markup, strip it,
      // and prove the round trip recovers the original text exactly
      (s, dir) => {
        def html = concat(lit("<p id=\""), col("doc_id").cast("string"),
          lit("\"><b>"), col("text"), lit("</b></p>"))
        Tables.documents(s, dir).select(col("doc_id"),
          (TextClean.stripMarkup(html) === col("text")).cast("int")
            .as("roundtrip_ok"),
          md5(TextClean.stripTags(html)).as("stripped_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH h AS (SELECT doc_id, text,
             |  '<p id="' || CAST(doc_id AS VARCHAR) || '"><b>' || text || '</b></p>' AS html
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(trim(regexp_replace(regexp_replace(html, '<[^>]*>', '', 'g'), ' +', ' ', 'g')) = text AS INT) AS roundtrip_ok,
             |  md5(regexp_replace(html, '<[^>]*>', '', 'g')) AS stripped_md5
             |FROM h ORDER BY doc_id""".stripMargin)),

    QueryDef("seq_pack",
      // concatenate-and-chunk sequence packing (budget 256 tokens), packed
      // per source shard — the pack cumsum is shard-partitioned, never a
      // single global ordered stream
      (s, dir) => Packing.packedStats(
          Tables.documents(s, dir).select(col("doc_id"), col("source"),
            TextAnalysis.tokenCountWs(col("text")).as("tok")),
          "doc_id", "tok", "source", budget = 256)
        .orderBy("source", "seq_id"),
      Some("""WITH t AS (SELECT source, doc_id, len(string_split(text,' ')) AS tok FROM documents),
             |c AS (SELECT source, doc_id, tok,
             |        COALESCE(sum(tok) OVER (PARTITION BY source ORDER BY doc_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
             |      FROM t)
             |SELECT source, CAST(floor(CAST(cum AS DOUBLE) / 256) AS BIGINT) AS seq_id,
             |       count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS n_tokens
             |FROM c GROUP BY source, seq_id ORDER BY source, seq_id""".stripMargin)),

    QueryDef("batch_length_buckets",
      // length-bucketed batching (bucket width 32 tokens, batch size 8,
      // 4 hash slices): one row per batch with its padding bill — the
      // pad-efficiency layout for padded (SFT/eval) batching; the oracle
      // renumbers every batch with the same (bucket, slice, id-order)
      // row_number
      (s, dir) => Packing.lengthBucketBatches(
          Tables.documents(s, dir), "doc_id", "text",
          bucketWidth = 32, batchSize = 8, nSlices = 4)
        .orderBy("bucket", "slice", "batch_id"),
      Some(s"""WITH t AS (SELECT doc_id,
              |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
              |    ($DocHashSql) % 4 AS slice
              |  FROM documents),
              |b AS (SELECT doc_id, n_tokens, n_tokens // 32 AS bucket,
              |        CAST(slice AS INT) AS slice FROM t),
              |r AS (SELECT *, (row_number() OVER (PARTITION BY bucket, slice
              |        ORDER BY doc_id) - 1) // 8 AS batch_id FROM b)
              |SELECT bucket, slice, batch_id, count(*) AS n_docs,
              |  max(n_tokens) AS max_tok, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
              |  count(*) * max(n_tokens) - CAST(sum(n_tokens) AS BIGINT) AS pad_tokens
              |FROM r GROUP BY bucket, slice, batch_id
              |ORDER BY bucket, slice, batch_id""".stripMargin)),

    QueryDef("source_json_roundtrip",
      // the READ side of the reference's JSON-file sink format: land the
      // table as JSON lines, read it back through spark.read.json with an
      // EXPLICIT schema (inference would scan twice at 100 TB), prove the
      // round trip is content-identical against the parquet-sourced oracle
      (s, dir) => {
        val out = Artifacts.scratchPath("jsonl", dir)
        Tables.documents(s, dir)
          .select("doc_id", "text", "lang", "source", "n_chars")
          .write.mode("overwrite").json(out)
        s.read.schema(
            "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
          .json(out)
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, text, lang, source, n_chars
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("source_schema_evolution",
      // schema evolution on a landed layout: an old batch without `lang`
      // plus a new batch with it, read back through mergeSchema — rows
      // from the pre-evolution files surface the new column as NULL; the
      // oracle states exactly that contract
      (s, dir) => {
        val out = Artifacts.scratchPath("evolve", dir)
        val docs = Tables.documents(s, dir)
        docs.filter(col("doc_id") % 2 === 0).select("doc_id", "n_chars")
          .write.mode("overwrite").parquet(out)
        docs.filter(col("doc_id") % 2 =!= 0).select("doc_id", "n_chars", "lang")
          .write.mode("append").parquet(out)
        s.read.option("mergeSchema", "true").parquet(out)
          .select("doc_id", "n_chars", "lang")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, n_chars,
             |  CASE WHEN doc_id % 2 != 0 THEN lang END AS lang
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("compact_roundtrip",
      // storage-maintenance gate: compact the table into ~4 MB range-
      // clustered files and prove the rewrite is content-identical (the
      // layout changed, the data did not)
      (s, dir) => {
        val out = Artifacts.scratchPath("compact", dir)
        graft.sources.Layout.compact(Tables.documents(s, dir), out,
          sortCols = Seq("source", "doc_id"), targetFileBytes = 4L * 1024 * 1024)
        s.read.parquet(out).select("doc_id", "source", "n_chars").orderBy("doc_id")
      },
      Some("SELECT doc_id, source, n_chars FROM documents ORDER BY doc_id")),

    QueryDef("layout_zorder",
      // multi-column clustering gate: land the table Z-ordered on
      // (n_chars, doc_id), read it back, and recompute every Morton value —
      // proves the rewrite is content-identical AND the bit interleave is
      // engine-exact (the file-skipping evidence itself is PlanSpec-side:
      // per-file min/max tightness on both dimensions)
      (s, dir) => {
        val out = Artifacts.scratchPath("zorder", dir)
        graft.sources.Layout.writeZOrdered(
          Tables.documents(s, dir), "n_chars", "doc_id", out, numFiles = 8)
        s.read.parquet(out)
          .select(col("doc_id"), col("n_chars"),
            graft.sources.Layout.zValue(col("n_chars"), col("doc_id")).as("zval"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, n_chars,
              |  CAST(${graft.sources.Layout.zValueSql("n_chars", "doc_id")} AS BIGINT) AS zval
              |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("scan_point_lookup",
      // serving-path point read: documents landed bucketed+sorted on
      // doc_id, an IN-list lookup prunes to the matching buckets at plan
      // time (SelectedBucketsCount — asserted in PlanSpec) and reads
      // 1/buckets of the table no matter how big it is
      (s, dir) => {
        graft.sources.Layout.lookupKeys(s,
            Artifacts.lookupTable(s, dir), "doc_id", Seq(7L, 42L, 123L, 444L))
          .select("doc_id", "text", "lang", "source", "n_chars")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, text, lang, source, n_chars FROM documents
             |WHERE doc_id IN (7, 42, 123, 444) ORDER BY doc_id""".stripMargin)),

    QueryDef("table_profile",
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

    QueryDef("heavy_hitters",
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

    QueryDef("entity_match_names",
      // cross-table entity resolution: customer names fuzzy-matched to
      // supplier names by char-3-gram Jaccard through the PREFIX-FILTERED
      // similarity join; the oracle is the COMPLETE inverted-index join —
      // prefix filtering is an engine-side optimization with an exactness
      // theorem, so outputs are identical. The gate slices the customer
      // side (custkey % 10 = 0): at this corpus's LOW threshold (0.27 — the
      // synthetic names cap at jaccard 0.294) the prefix keeps 12 of 16
      // grams, so BOTH engines degrade toward all-pairs and the exact
      // oracle is quadratic — the embedding_near_dup stance: exact-oracle
      // shape capped, full-side behavior measured in SCALING.md (real
      // deployments match at t >= 0.5 where the prefix is 2-3 grams)
      (s, dir) => graft.functions.Entity.similarNamePairs(
          Tables.customer(s, dir).filter(col("c_custkey") % 10 === 0),
          "c_custkey", "c_name",
          Tables.supplier(s, dir), "s_suppkey", "s_name",
          k = 3, threshold = 0.27)
        .orderBy("id_a", "id_b"),
      Some("""WITH ag AS (SELECT c_custkey AS id_a,
             |    unnest(list_distinct(list_transform(
             |      generate_series(1, len(lower(c_name)) - 2),
             |      i -> lower(c_name)[i:i+2]))) AS g
             |  FROM customer WHERE c_custkey % 10 = 0),
             |bg AS (SELECT s_suppkey AS id_b,
             |    unnest(list_distinct(list_transform(
             |      generate_series(1, len(lower(s_name)) - 2),
             |      i -> lower(s_name)[i:i+2]))) AS g FROM supplier),
             |na AS (SELECT id_a, count(*) AS n FROM ag GROUP BY id_a),
             |nb AS (SELECT id_b, count(*) AS n FROM bg GROUP BY id_b),
             |j AS (SELECT id_a, id_b, count(*) AS n_shared
             |      FROM ag JOIN bg USING (g) GROUP BY id_a, id_b)
             |SELECT id_a, id_b, n_shared,
             |  CAST(n_shared AS DOUBLE) / (na.n + nb.n - n_shared) AS jaccard
             |FROM j JOIN na USING (id_a) JOIN nb USING (id_b)
             |WHERE CAST(n_shared AS DOUBLE) / (na.n + nb.n - n_shared) >= 0.27
             |ORDER BY id_a, id_b""".stripMargin)),

    QueryDef("entity_match_keys",
      // the production regime of the same operator: normalized (digit)
      // keys at t=0.8 over the FULL sides — the prefix keeps 2-3 of ~7
      // grams, so candidates come only from rare-gram collisions and the
      // join never degenerates (37.6s -> 1.5s at sf0.1, SCALING.md)
      (s, dir) => graft.functions.Entity.similarNamePairs(
          Tables.customer(s, dir).withColumn("ckey",
            regexp_replace(col("c_name"), "[^0-9]", "")),
          "c_custkey", "ckey",
          Tables.supplier(s, dir).withColumn("skey",
            regexp_replace(col("s_name"), "[^0-9]", "")),
          "s_suppkey", "skey",
          k = 3, threshold = 0.8)
        .orderBy("id_a", "id_b"),
      Some("""WITH ag AS (SELECT c_custkey AS id_a,
             |    unnest(list_distinct(list_transform(
             |      generate_series(1, len(regexp_replace(c_name, '[^0-9]', '', 'g')) - 2),
             |      i -> regexp_replace(c_name, '[^0-9]', '', 'g')[i:i+2]))) AS g
             |  FROM customer),
             |bg AS (SELECT s_suppkey AS id_b,
             |    unnest(list_distinct(list_transform(
             |      generate_series(1, len(regexp_replace(s_name, '[^0-9]', '', 'g')) - 2),
             |      i -> regexp_replace(s_name, '[^0-9]', '', 'g')[i:i+2]))) AS g
             |  FROM supplier),
             |na AS (SELECT id_a, count(*) AS n FROM ag GROUP BY id_a),
             |nb AS (SELECT id_b, count(*) AS n FROM bg GROUP BY id_b),
             |j AS (SELECT id_a, id_b, count(*) AS n_shared
             |      FROM ag JOIN bg USING (g) GROUP BY id_a, id_b)
             |SELECT id_a, id_b, n_shared,
             |  CAST(n_shared AS DOUBLE) / (na.n + nb.n - n_shared) AS jaccard
             |FROM j JOIN na USING (id_a) JOIN nb USING (id_b)
             |WHERE CAST(n_shared AS DOUBLE) / (na.n + nb.n - n_shared) >= 0.8
             |ORDER BY id_a, id_b""".stripMargin)),

    QueryDef("quality_expectations",
      // declarative pre-publish validation: row-local rules fold into one
      // scan, uniqueness is one (count, distinct) aggregate, referential
      // integrity is an anti-join — violations counted exactly (the
      // in-range/in-set/fk rules are tuned to catch real rows here)
      (s, dir) => {
        import graft.functions.Expectations._
        val docRules = check(Tables.documents(s, dir), Seq(
          NotNull("text"),
          InRange("n_chars", 0, 300),
          InSet("lang", Seq("en", "zh")),
          Matches("text", "^[a-z ]*$"),
          Unique("doc_id")))
        val fkRules = check(Tables.lineitem(s, dir), Seq(
          FkIn("l_partkey",
            Tables.part(s, dir).filter(col("p_size") <= 25), "p_partkey")))
        docRules.unionAll(fkRules).orderBy("rule")
      },
      Some("""SELECT * FROM (
             |  SELECT 'not_null(text)' AS rule,
             |    count(*) FILTER (WHERE text IS NULL) AS n_violations FROM documents
             |  UNION ALL SELECT 'in_range(n_chars,0.0,300.0)',
             |    count(*) FILTER (WHERE n_chars IS NOT NULL
             |      AND (n_chars < 0 OR n_chars > 300)) FROM documents
             |  UNION ALL SELECT 'in_set(lang)',
             |    count(*) FILTER (WHERE lang IS NOT NULL
             |      AND lang NOT IN ('en', 'zh')) FROM documents
             |  UNION ALL SELECT 'matches(text)',
             |    count(*) FILTER (WHERE text IS NOT NULL
             |      AND NOT regexp_matches(text, '^[a-z ]*$')) FROM documents
             |  UNION ALL SELECT 'unique(doc_id)',
             |    count(doc_id) - count(DISTINCT doc_id) FROM documents
             |  UNION ALL SELECT 'fk(l_partkey)',
             |    (SELECT count(*) FROM lineitem l
             |     WHERE l.l_partkey IS NOT NULL AND NOT EXISTS (
             |       SELECT 1 FROM part p
             |       WHERE p.p_partkey = l.l_partkey AND p.p_size <= 25))
             |) ORDER BY rule""".stripMargin)),

    QueryDef("agg_rollup_cascade",
      // granularity cascade: WEEKLY totals re-aggregated from the daily
      // partial states (associativity is the whole contract) — identical
      // to aggregating raw events by epoch week
      (s, dir) =>
        graft.sources.Layout.readRollupWeekly(s, Artifacts.rollupPath(s, dir))
          .orderBy("wk", "event_type"),
      Some("""SELECT datediff('day', DATE '1970-01-01',
             |         CAST(CAST(ts AS TIMESTAMP) AS DATE)) // 7 AS wk,
             |  event_type, count(*) AS n_events,
             |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS value_sum
             |FROM events
             |GROUP BY wk, event_type ORDER BY wk, event_type""".stripMargin)),

    QueryDef("scd2_merge",
      // type-2 dimension maintenance (the versioned sibling of
      // snapshot_merge's type-1 overwrite): changed keys close their
      // current version and append an open one, no-op change rows touch
      // nothing, never-seen keys append. One id-keyed join + unions; the
      // oracle reconstructs every branch
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val base = c.select(col("c_custkey").as("id"),
          col("c_mktsegment").as("segment"),
          lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"))
        val changes = c.filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey").as("id"),
            concat(lit("MOVED-"), (col("c_custkey") % 3).cast("string"))
              .as("segment"), lit(1000L).as("ts"))
          .unionAll(c.filter(col("c_custkey") % 7 === 3)
            .select(col("c_custkey").as("id"),
              col("c_mktsegment").as("segment"), lit(1000L).as("ts")))
          .unionAll(c.filter(col("c_custkey") % 97 === 0)
            .select((col("c_custkey") + 1000000L).as("id"),
              lit("NEWSEG").as("segment"), lit(1000L).as("ts")))
        graft.functions.Scd.scd2Merge(base, changes, "id",
            Seq("segment"), "ts")
          .orderBy("id", "valid_from")
      },
      Some("""WITH base AS (SELECT c_custkey AS id, c_mktsegment AS segment,
             |         CAST(0 AS BIGINT) AS valid_from,
             |         CAST(NULL AS BIGINT) AS valid_to
             |       FROM customer),
             |ch AS (
             |  SELECT c_custkey AS id,
             |    'MOVED-' || CAST(c_custkey % 3 AS VARCHAR) AS segment,
             |    CAST(1000 AS BIGINT) AS ts
             |  FROM customer WHERE c_custkey % 7 = 0
             |  UNION ALL SELECT c_custkey, c_mktsegment, 1000
             |  FROM customer WHERE c_custkey % 7 = 3
             |  UNION ALL SELECT c_custkey + 1000000, 'NEWSEG', 1000
             |  FROM customer WHERE c_custkey % 97 = 0),
             |j AS (SELECT b.id, b.segment, b.valid_from,
             |        ch.segment AS nseg, ch.ts
             |      FROM base b LEFT JOIN ch USING (id)),
             |closed AS (SELECT id, segment, valid_from,
             |             CAST(ts AS BIGINT) AS valid_to
             |           FROM j WHERE ts IS NOT NULL AND nseg <> segment),
             |kept AS (SELECT id, segment, valid_from,
             |           CAST(NULL AS BIGINT) AS valid_to
             |         FROM j WHERE ts IS NULL OR nseg = segment),
             |fresh AS (SELECT id, nseg AS segment, CAST(ts AS BIGINT),
             |            CAST(NULL AS BIGINT)
             |          FROM j WHERE ts IS NOT NULL AND nseg <> segment),
             |brandnew AS (SELECT ch.id, ch.segment, CAST(ch.ts AS BIGINT),
             |               CAST(NULL AS BIGINT)
             |             FROM ch LEFT JOIN base USING (id)
             |             WHERE base.id IS NULL)
             |SELECT * FROM closed UNION ALL SELECT * FROM kept
             |UNION ALL SELECT * FROM fresh UNION ALL SELECT * FROM brandnew
             |ORDER BY id, valid_from""".stripMargin)),

    QueryDef("bootstrap_stats",
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

    QueryDef("scd2_asof_lookup",
      // the point-in-time join SCD2 exists FOR: each order resolves the
      // segment its customer had ON THE ORDER DATE — equi-join on the key
      // with the validity window as join filter (broadcastable dim, never
      // a range explosion). Orders before the day-10000 change batch see
      // the original segment, later ones the moved segment; the oracle
      // rebuilds the SCD2 table and the temporal resolution end-to-end
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val base = c.select(col("c_custkey").as("id"),
          col("c_mktsegment").as("segment"),
          lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"))
        val changes = c.filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey").as("id"),
            concat(lit("MOVED-"), (col("c_custkey") % 3).cast("string"))
              .as("segment"), lit(10000L).as("ts"))
        val dim = graft.functions.Scd.scd2Merge(base, changes, "id",
          Seq("segment"), "ts")
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"),
            datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
              .cast("long").as("_day"))
        o.join(dim, o("o_custkey") === dim("id")
            && o("_day") >= dim("valid_from")
            && (dim("valid_to").isNull || o("_day") < dim("valid_to")))
          .groupBy(col("segment"))
          .agg(count(lit(1)).as("n_orders"),
            min(col("o_orderkey")).as("min_okey"),
            max(col("o_orderkey")).as("max_okey"))
          .orderBy("segment")
      },
      Some("""WITH base AS (SELECT c_custkey AS id, c_mktsegment AS segment,
             |         CAST(0 AS BIGINT) AS valid_from,
             |         CAST(NULL AS BIGINT) AS valid_to
             |       FROM customer),
             |ch AS (SELECT c_custkey AS id,
             |         'MOVED-' || CAST(c_custkey % 3 AS VARCHAR) AS segment,
             |         CAST(10000 AS BIGINT) AS ts
             |       FROM customer WHERE c_custkey % 7 = 0),
             |closed AS (SELECT b.id, b.segment, b.valid_from, ch.ts AS valid_to
             |           FROM base b JOIN ch USING (id)
             |           WHERE ch.segment <> b.segment),
             |fresh AS (SELECT ch.id, ch.segment, ch.ts, CAST(NULL AS BIGINT)
             |          FROM base b JOIN ch USING (id)
             |          WHERE ch.segment <> b.segment),
             |kept AS (SELECT b.id, b.segment, b.valid_from, b.valid_to
             |         FROM base b LEFT JOIN ch USING (id)
             |         WHERE ch.id IS NULL OR ch.segment = b.segment),
             |dim AS (SELECT * FROM closed UNION ALL SELECT * FROM fresh
             |        UNION ALL SELECT * FROM kept),
             |o AS (SELECT o_orderkey, o_custkey,
             |        CAST(datediff('day', DATE '1970-01-01',
             |          CAST(o_orderdate AS DATE)) AS BIGINT) AS d
             |      FROM orders)
             |SELECT dim.segment, count(*) AS n_orders,
             |  min(o.o_orderkey) AS min_okey, max(o.o_orderkey) AS max_okey
             |FROM o JOIN dim ON o.o_custkey = dim.id
             |  AND o.d >= dim.valid_from
             |  AND (dim.valid_to IS NULL OR o.d < dim.valid_to)
             |GROUP BY dim.segment ORDER BY segment""".stripMargin)),

    QueryDef("snapshot_merge",
      // CDC apply: a change batch (deletes, updates, inserts, and a delete
      // SHADOWED by a later upsert — latest seq wins) merged into the
      // snapshot; one batch-side reduction shuffle + one key-keyed join
      (s, dir) => {
        val snap = Tables.documents(s, dir)
          .select("doc_id", "lang", "source", "n_chars")
        val d = Tables.documents(s, dir)
        val ch = d.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), lit("d").as("op"), lit(1L).as("seq"),
            col("lang"), col("source"), col("n_chars"))
          .unionAll(d.filter(col("doc_id") % 10 === 1)
            .select(col("doc_id"), lit("u").as("op"), lit(1L).as("seq"),
              lit("xx").as("lang"), col("source"),
              (col("n_chars") + 1000).as("n_chars")))
          .unionAll(d.filter(col("doc_id") % 10 === 2)
            .select((col("doc_id") + 1000000L).as("doc_id"), lit("u").as("op"),
              lit(1L).as("seq"), col("lang"), lit("ins").as("source"),
              col("n_chars")))
          .unionAll(d.filter(col("doc_id") % 10 === 3)
            .select(col("doc_id"), lit("d").as("op"), lit(1L).as("seq"),
              col("lang"), col("source"), col("n_chars")))
          .unionAll(d.filter(col("doc_id") % 10 === 3)
            .select(col("doc_id"), lit("u").as("op"), lit(2L).as("seq"),
              col("lang"), col("source"), (col("n_chars") + 5).as("n_chars")))
        graft.functions.Merge.applyChanges(snap, ch, "doc_id")
          .orderBy("doc_id")
      },
      Some("""WITH snap AS (SELECT doc_id, lang, source, n_chars FROM documents),
             |ch AS (
             |  SELECT doc_id, 'd' AS op, 1 AS seq, lang, source, n_chars
             |  FROM documents WHERE doc_id % 10 = 0
             |  UNION ALL SELECT doc_id, 'u', 1, 'xx', source, n_chars + 1000
             |  FROM documents WHERE doc_id % 10 = 1
             |  UNION ALL SELECT doc_id + 1000000, 'u', 1, lang, 'ins', n_chars
             |  FROM documents WHERE doc_id % 10 = 2
             |  UNION ALL SELECT doc_id, 'd', 1, lang, source, n_chars
             |  FROM documents WHERE doc_id % 10 = 3
             |  UNION ALL SELECT doc_id, 'u', 2, lang, source, n_chars + 5
             |  FROM documents WHERE doc_id % 10 = 3),
             |latest AS (SELECT * FROM (
             |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
             |  FROM ch) WHERE rn = 1)
             |SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
             |  CASE WHEN l.op IS NOT NULL THEN l.lang ELSE s.lang END AS lang,
             |  CASE WHEN l.op IS NOT NULL THEN l.source ELSE s.source END AS source,
             |  CASE WHEN l.op IS NOT NULL THEN l.n_chars ELSE s.n_chars END AS n_chars
             |FROM snap s FULL OUTER JOIN latest l ON s.doc_id = l.doc_id
             |WHERE l.op IS NULL OR l.op <> 'd'
             |ORDER BY doc_id""".stripMargin)),

    QueryDef("snapshot_merge_mor",
      // merge-on-read: the SAME change set as snapshot_merge, landed as an
      // append-only two-batch change log and resolved at READ time — same
      // oracle, proving MOR == eager apply (the Hudi/Iceberg trade: append-
      // only writes, one join at read)
      (s, dir) => {
        val out = Artifacts.scratchPath("cdclog", dir)
        val snap = Tables.documents(s, dir)
          .select("doc_id", "lang", "source", "n_chars")
        val d = Tables.documents(s, dir)
        // batch 0: deletes + updates; batch 1: inserts + shadowed delete
        val b0 = d.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), lit("d").as("op"), lit(1L).as("seq"),
            col("lang"), col("source"), col("n_chars"))
          .unionAll(d.filter(col("doc_id") % 10 === 1)
            .select(col("doc_id"), lit("u").as("op"), lit(1L).as("seq"),
              lit("xx").as("lang"), col("source"),
              (col("n_chars") + 1000).as("n_chars")))
        val b1 = d.filter(col("doc_id") % 10 === 2)
          .select((col("doc_id") + 1000000L).as("doc_id"), lit("u").as("op"),
            lit(1L).as("seq"), col("lang"), lit("ins").as("source"),
            col("n_chars"))
          .unionAll(d.filter(col("doc_id") % 10 === 3)
            .select(col("doc_id"), lit("d").as("op"), lit(1L).as("seq"),
              col("lang"), col("source"), col("n_chars")))
          .unionAll(d.filter(col("doc_id") % 10 === 3)
            .select(col("doc_id"), lit("u").as("op"), lit(2L).as("seq"),
              col("lang"), col("source"), (col("n_chars") + 5).as("n_chars")))
        val log = graft.streaming.Incremental.cdcLog(out)
        log(b0, 0L); log(b1, 1L)
        graft.functions.Merge.readMergeOnRead(snap, out, "doc_id")
          .orderBy("doc_id")
      },
      Some("""WITH snap AS (SELECT doc_id, lang, source, n_chars FROM documents),
             |ch AS (
             |  SELECT doc_id, 'd' AS op, 1 AS seq, lang, source, n_chars
             |  FROM documents WHERE doc_id % 10 = 0
             |  UNION ALL SELECT doc_id, 'u', 1, 'xx', source, n_chars + 1000
             |  FROM documents WHERE doc_id % 10 = 1
             |  UNION ALL SELECT doc_id + 1000000, 'u', 1, lang, 'ins', n_chars
             |  FROM documents WHERE doc_id % 10 = 2
             |  UNION ALL SELECT doc_id, 'd', 1, lang, source, n_chars
             |  FROM documents WHERE doc_id % 10 = 3
             |  UNION ALL SELECT doc_id, 'u', 2, lang, source, n_chars + 5
             |  FROM documents WHERE doc_id % 10 = 3),
             |latest AS (SELECT * FROM (
             |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
             |  FROM ch) WHERE rn = 1)
             |SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
             |  CASE WHEN l.op IS NOT NULL THEN l.lang ELSE s.lang END AS lang,
             |  CASE WHEN l.op IS NOT NULL THEN l.source ELSE s.source END AS source,
             |  CASE WHEN l.op IS NOT NULL THEN l.n_chars ELSE s.n_chars END AS n_chars
             |FROM snap s FULL OUTER JOIN latest l ON s.doc_id = l.doc_id
             |WHERE l.op IS NULL OR l.op <> 'd'
             |ORDER BY doc_id""".stripMargin)),

    QueryDef("agg_incremental_rollup",
      // incremental view maintenance: land per-(day, type) PARTIAL
      // aggregate states (associative longs) day-partitioned, then answer
      // a two-week range query by merging partials — pruned to the touched
      // day directories, identical to aggregating the raw range
      (s, dir) => {
        graft.sources.Layout.readRollupRange(s, Artifacts.rollupPath(s, dir),
            "2024-01-08", "2024-01-21")
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n_events,
             |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS value_sum
             |FROM events
             |WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE)
             |      BETWEEN DATE '2024-01-08' AND DATE '2024-01-21'
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- dedup ----
    QueryDef("dedup_exact",
      (s, dir) => Dedup.exactGroups(Tables.documents(s, dir), "text", "doc_id")
        .orderBy("digest"),
      Some("""SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_dups
             |FROM documents GROUP BY md5(text) ORDER BY digest""".stripMargin)),

    QueryDef("dedup_exact_rows",
      (s, dir) => Dedup.exactDedup(Tables.documents(s, dir), "text", "doc_id")
        .select("doc_id", "lang", "source", "n_chars").orderBy("doc_id"),
      Some("""SELECT doc_id, lang, source, n_chars FROM (
             |  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
             |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    QueryDef("dedup_cap",
      // soft dedup: at most 2 copies of any exact text survive (pipelines
      // that UP-weight common docs keep N copies instead of hard-deduping)
      (s, dir) => Dedup.capDuplicates(Tables.documents(s, dir),
          "text", "doc_id", maxCopies = 2)
        .select("doc_id", "copy_rank", "lang", "source")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, copy_rank, lang, source FROM (
             |  SELECT doc_id, lang, source,
             |    CAST(row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS INT)
             |      AS copy_rank
             |  FROM documents) WHERE copy_rank <= 2 ORDER BY doc_id""".stripMargin)),

    QueryDef("dedup_incremental",
      // nightly-ingest dedup: the new batch (doc_id % 7 = 0) anti-joined by
      // content hash against the already-accepted corpus (the rest); the
      // documents table's replicated dup clusters make real hash hits
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Dedup.dedupAgainstCorpus(
            docs.filter(col("doc_id") % 7 === 0),
            docs.filter(col("doc_id") % 7 =!= 0), "text")
          .select("doc_id", "lang", "source")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source FROM documents
             |WHERE doc_id % 7 = 0 AND md5(text) NOT IN
             |  (SELECT md5(text) FROM documents WHERE doc_id % 7 != 0)
             |ORDER BY doc_id""".stripMargin)),

    QueryDef("dedup_incremental_near",
      // the NEAR-dup analogue of dedup_incremental: the new batch
      // (doc_id % 7 = 0) probes a PERSISTED band index of the accepted
      // corpus (parquet partitioned by band — built once, offline), then
      // exact-Jaccard-verifies candidates against only the corpus docs
      // that were hit; the oracle recomputes the exact cross-set pair
      // set independently (LSH recall is 1 at this threshold/banding on
      // this corpus, pinned in ScalaTest)
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val incoming = docs.filter(col("doc_id") % 7 === 0)
        val corpus = docs.filter(col("doc_id") % 7 =!= 0)
        val index = s.read.parquet(Artifacts.bandIndexPath(s, dir))
        Dedup.nearDupAgainstCorpus(incoming, corpus, index, "doc_id", "text",
            k = 3, numHashes = 16, threshold = 0.8)
          .orderBy("id_new", "id_corp")
      },
      Some(s"""WITH sh AS (
              |  SELECT doc_id, unnest($ShinglesSql) AS sh
              |  FROM documents),
              |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |pairs AS (
              |  SELECT a.doc_id AS id_new, b.doc_id AS id_corp, count(*) AS inter
              |  FROM sh a JOIN sh b USING (sh)
              |  WHERE a.doc_id % 7 = 0 AND b.doc_id % 7 != 0
              |  GROUP BY 1, 2)
              |SELECT id_new, id_corp,
              |       CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
              |FROM pairs
              |JOIN sizes sa ON sa.doc_id = id_new
              |JOIN sizes sb ON sb.doc_id = id_corp
              |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
              |ORDER BY id_new, id_corp""".stripMargin)),

    QueryDef("corpus_stats",
      // curation dashboard: per (lang, source) doc/char/token/unique-text
      // totals — all integer aggregates, merge-order independent
      (s, dir) => TextAnalysis.corpusStats(Tables.documents(s, dir),
          "text", Seq("lang", "source"))
        .orderBy("lang", "source"),
      Some("""SELECT lang, source, count(*) AS n_docs,
             |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
             |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
             |  count(DISTINCT md5(text)) AS n_unique_texts
             |FROM documents GROUP BY lang, source
             |ORDER BY lang, source""".stripMargin)),

    QueryDef("source_overlap",
      // pairwise 3-gram Jaccard between sources over each source's
      // distinct shingle set — which slices of the corpus are worth
      // cross-deduplicating; the oracle rebuilds the whole matrix
      (s, dir) => Dedup.groupOverlap(Tables.documents(s, dir),
          "source", "text", k = 3)
        .orderBy("grp_a", "grp_b"),
      Some(s"""WITH sg AS (
              |  SELECT DISTINCT source AS grp, g FROM (
              |    SELECT source, unnest($ShinglesSql) AS g FROM documents)),
              |sz AS (SELECT grp, count(*) AS n FROM sg GROUP BY grp),
              |p AS (SELECT a.grp AS grp_a, b.grp AS grp_b, count(*) AS n_shared
              |      FROM sg a JOIN sg b ON a.g = b.g AND a.grp < b.grp
              |      GROUP BY 1, 2)
              |SELECT grp_a, grp_b, sa.n AS n_a, sb.n AS n_b, n_shared,
              |       CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) AS jaccard
              |FROM p JOIN sz sa ON sa.grp = grp_a JOIN sz sb ON sb.grp = grp_b
              |ORDER BY grp_a, grp_b""".stripMargin)),

    QueryDef("source_similarity_sketch",
      // the sketch-merge sibling of source_overlap: per-source MinHash
      // signatures (associative min — sketches of slices merge without
      // re-reading data) and pairwise agreement as the Jaccard estimate;
      // md5-based base hash so the oracle retrains every signature
      (s, dir) => Dedup.groupMinhashSimilarity(Tables.documents(s, dir),
          "source", "text", k = 3, numHashes = 16)
        .orderBy("grp_a", "grp_b"),
      Some {
        val coeffs = Dedup.minhashCoeffs(16)
        val h32 = """list_reduce(list_transform(
          |      regexp_extract_all(substr(md5(s), 25, 8), '.'),
          |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16 + b)"""
          .stripMargin
        val minCols = coeffs.zipWithIndex.map { case ((a, b), i) =>
          s"min(($a * h + $b) % 2147483647) AS m$i"
        }.mkString(",\n       ")
        val agree = (0 until 16)
          .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
        s"""WITH sh AS (SELECT source AS grp, unnest($ShinglesSql) AS s FROM documents),
           |h AS (SELECT grp, ($h32 % 2147483647) AS h FROM sh),
           |sig AS (SELECT grp,
           |       $minCols
           |       FROM h GROUP BY grp)
           |SELECT a.grp AS grp_a, b.grp AS grp_b,
           |  CAST($agree AS BIGINT) AS n_agree,
           |  CAST($agree AS DOUBLE) / 16.0 AS est_jaccard
           |FROM sig a JOIN sig b ON a.grp < b.grp
           |ORDER BY grp_a, grp_b""".stripMargin
      }),

    QueryDef("corpus_divergence",
      // mixture QA: per-language Jensen-Shannon decomposition between two
      // corpus halves (doc_id parity stands in for "two crawl snapshots").
      // Counts are exact integers; the JS contribution is quantized to
      // integer nanonats right after the ln (the perplexity discipline),
      // so the gate is engine-exact
      (s, dir) => {
        val d = Tables.documents(s, dir)
        TextAnalysis.jsDivergenceByStratum(
            d.filter(col("doc_id") % 2 === 0),
            d.filter(col("doc_id") % 2 =!= 0), "lang")
          .orderBy("lang")
      },
      Some("""WITH a AS (SELECT lang, count(*) AS n_a FROM documents
             |           WHERE doc_id % 2 = 0 GROUP BY lang),
             |b AS (SELECT lang, count(*) AS n_b FROM documents
             |      WHERE doc_id % 2 != 0 GROUP BY lang),
             |ta AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM documents WHERE doc_id % 2 = 0),
             |tb AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM documents WHERE doc_id % 2 != 0),
             |j AS (SELECT coalesce(a.lang, b.lang) AS lang,
             |             CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
             |             CAST(coalesce(n_b, 0) AS BIGINT) AS n_b
             |      FROM a FULL OUTER JOIN b ON a.lang = b.lang),
             |pq AS (SELECT lang, n_a, n_b,
             |         CAST(n_a AS DOUBLE) / (SELECT t FROM ta) AS p,
             |         CAST(n_b AS DOUBLE) / (SELECT t FROM tb) AS q
             |       FROM j),
             |d AS (SELECT lang, n_a, n_b, p, q, (p + q) / 2.0 AS m FROM pq)
             |SELECT lang, n_a, n_b,
             |  CAST(floor((
             |    (CASE WHEN p = 0.0 THEN 0.0 ELSE 0.5 * p * ln(p / m) END)
             |    + (CASE WHEN q = 0.0 THEN 0.0 ELSE 0.5 * q * ln(q / m) END)
             |  ) * 1000000000.0 + 0.5) AS BIGINT) AS js_nanonats
             |FROM d ORDER BY lang""".stripMargin)),

    QueryDef("dedup_minhash",
      (s, dir) => Dedup.minhashDedupPairs(Tables.documents(s, dir),
          "doc_id", "text", k = 3, numHashes = 16, threshold = 0.8)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH sh AS (
              |  SELECT doc_id, unnest($ShinglesSql) AS sh
              |  FROM documents),
              |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |pairs AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              |  FROM sh a JOIN sh b USING (sh) WHERE a.doc_id < b.doc_id
              |  GROUP BY 1, 2)
              |SELECT id_a, id_b,
              |       CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
              |FROM pairs
              |JOIN sizes sa ON sa.doc_id = id_a
              |JOIN sizes sb ON sb.doc_id = id_b
              |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
              |ORDER BY id_a, id_b""".stripMargin)),

    QueryDef("dedup_pair_provenance",
      // where do near-dups come from — the same source or across sources?
      // The census that decides whether per-source dedup (cheap, parallel)
      // suffices or global dedup (one corpus-wide shuffle) is required;
      // oracle recomputes the exact pair set and both provenance joins
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text",
          k = 3, numHashes = 16, threshold = 0.8)
        val src = docs.select(col("doc_id"), col("source"))
        pairs
          .join(src.select(col("doc_id").as("id_a"), col("source").as("src_a")), Seq("id_a"))
          .join(src.select(col("doc_id").as("id_b"), col("source").as("src_b")), Seq("id_b"))
          .groupBy((col("src_a") === col("src_b")).as("same_source"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("same_source")
      },
      Some(s"""WITH sh AS (
              |  SELECT doc_id, unnest($ShinglesSql) AS sh
              |  FROM documents),
              |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |jp AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              |  FROM sh a JOIN sh b USING (sh) WHERE a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |good AS (
              |  SELECT id_a, id_b FROM jp
              |  JOIN sizes sa ON sa.doc_id = id_a
              |  JOIN sizes sb ON sb.doc_id = id_b
              |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8)
              |SELECT (da.source = db.source) AS same_source, count(*) AS n_pairs
              |FROM good
              |JOIN documents da ON da.doc_id = id_a
              |JOIN documents db ON db.doc_id = id_b
              |GROUP BY 1 ORDER BY same_source""".stripMargin)),

    QueryDef("dedup_minhash_rows",
      // the surviving corpus (greedy keep-lowest-id over near-dup pairs);
      // oracle recomputes the pair set exactly (exact Jaccard — LSH recall
      // is 1 at this threshold/banding, pinned in ScalaTest) and anti-joins
      (s, dir) => Dedup.minhashSurvivors(Tables.documents(s, dir),
          "doc_id", "text", k = 3, numHashes = 16, threshold = 0.8)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id"),
      Some(s"""WITH sh AS (
              |  SELECT doc_id, unnest($ShinglesSql) AS sh
              |  FROM documents),
              |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |pairs AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              |  FROM sh a JOIN sh b USING (sh) WHERE a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |dropped AS (
              |  SELECT DISTINCT id_b FROM pairs
              |  JOIN sizes sa ON sa.doc_id = id_a
              |  JOIN sizes sb ON sb.doc_id = id_b
              |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8)
              |SELECT doc_id, lang, source, n_chars FROM documents
              |WHERE doc_id NOT IN (SELECT id_b FROM dropped)
              |ORDER BY doc_id""".stripMargin)),

    QueryDef("dedup_clusters",
      // connected components over near-dup pairs (cluster_id = min reachable
      // doc id; iterative min-label propagation) — verified against a DuckDB
      // RECURSIVE CTE computing reachability from the exact-Jaccard pairs
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text",
          k = 3, numHashes = 16, threshold = 0.8)
        Dedup.connectedComponents(docs, "doc_id", pairs)
          .select(col("id").as("doc_id"), col("cluster_id"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE sh AS (
              |  SELECT doc_id, unnest($ShinglesSql) AS sh
              |  FROM documents),
              |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |jp AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              |  FROM sh a JOIN sh b USING (sh) WHERE a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |good AS (
              |  SELECT id_a, id_b FROM jp
              |  JOIN sizes sa ON sa.doc_id = id_a
              |  JOIN sizes sb ON sb.doc_id = id_b
              |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8),
              |edges AS (SELECT id_a AS src, id_b AS dst FROM good
              |          UNION ALL SELECT id_b, id_a FROM good),
              |reach(id, lbl) AS (
              |  SELECT doc_id, doc_id FROM documents
              |  UNION
              |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id)
              |SELECT id AS doc_id, min(lbl) AS cluster_id
              |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin)),

    QueryDef("dedup_keep_best",
      // quality-aware survivor selection: per near-dup cluster keep the
      // highest-quality member (id tie-break) — clusters, quality scores,
      // and the argmax are ALL recomputed independently by the oracle
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val q = TextAnalysis.qualityMetrics(docs)
          .withColumn("q", TextAnalysis.qualityScore())
        val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text",
          k = 3, numHashes = 16, threshold = 0.8)
        val clusters = Dedup.connectedComponents(docs, "doc_id", pairs)
        Dedup.keepBestPerCluster(q, "doc_id", "q", clusters)
          .orderBy("cluster_id")
      },
      Some {
        val en = TextAnalysis.Langs.head._2.map("'" + _ + "'").mkString(",")
        s"""WITH RECURSIVE sh AS (
           |  SELECT doc_id, unnest($ShinglesSql) AS sh FROM documents),
           |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           |jp AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
           |  FROM sh a JOIN sh b USING (sh) WHERE a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |good AS (
           |  SELECT id_a, id_b FROM jp
           |  JOIN sizes sa ON sa.doc_id = id_a
           |  JOIN sizes sb ON sb.doc_id = id_b
           |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8),
           |edges AS (SELECT id_a AS src, id_b AS dst FROM good
           |          UNION ALL SELECT id_b, id_a FROM good),
           |reach(id, lbl) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
           |clus AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
           |m AS (SELECT doc_id,
           |        len(string_split(text,' ')) AS n_tokens,
           |        len(list_distinct(string_split(text,' '))) AS n_uniq_tokens,
           |        len(list_intersect(string_split(text,' '), [$en])) AS n_stop,
           |        length(text) AS n_chars
           |      FROM documents),
           |q AS (SELECT doc_id,
           |        (CAST(n_uniq_tokens AS DOUBLE) / n_tokens) * 0.5
           |        + (CAST(n_stop AS DOUBLE) / n_uniq_tokens) * 0.2
           |        + least((CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens) / 10.0, 1.0) * 0.3 AS score
           |      FROM m),
           |r AS (SELECT c.cluster_id, c.id,
           |        row_number() OVER (PARTITION BY c.cluster_id
           |          ORDER BY q.score DESC, c.id ASC) AS rn,
           |        count(*) OVER (PARTITION BY c.cluster_id) AS n_members
           |      FROM clus c JOIN q ON q.doc_id = c.id)
           |SELECT cluster_id, id AS keep_id, n_members
           |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin
      }),

    QueryDef("corpus_diff",
      // snapshot reconciliation by content hash: old = ids % 7 != 0, new =
      // ids % 11 != 0 with % 5 == 0 texts "edited" — all four statuses
      // occur deterministically from one table; only (id, hash) shuffles
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val oldV = docs.filter(col("doc_id") % 7 =!= 0)
        val newV = docs.filter(col("doc_id") % 11 =!= 0)
          .withColumn("text",
            when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")))
        graft.functions.Dedup.corpusDiff(oldV, newV, "doc_id", "text")
          .orderBy("id")
      },
      Some("""WITH o AS (SELECT doc_id AS id, md5(text) AS h FROM documents WHERE doc_id % 7 != 0),
             |n AS (SELECT doc_id AS id,
             |        md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS h
             |      FROM documents WHERE doc_id % 11 != 0)
             |SELECT coalesce(o.id, n.id) AS id,
             |  CASE WHEN o.id IS NULL THEN 'added'
             |       WHEN n.id IS NULL THEN 'removed'
             |       WHEN o.h != n.h THEN 'changed'
             |       ELSE 'unchanged' END AS status
             |FROM o FULL OUTER JOIN n ON o.id = n.id
             |ORDER BY id""".stripMargin)),

    QueryDef("split_assign",
      // deterministic 80/10/10 train/val/test assignment by hashed key —
      // stable under re-runs and corpus appends; oracle recomputes the
      // md5-slice hash and the exact cumulative thresholds
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.Sampling.splitAssign(col("doc_id"),
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
        .orderBy("doc_id"),
      Some {
        val th = graft.functions.Sampling.splitThresholds(
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        s"""SELECT doc_id,
           |  CASE WHEN h < ${th(0)._2} THEN 'train'
           |       WHEN h < ${th(1)._2} THEN 'val'
           |       ELSE 'test' END AS split
           |FROM (SELECT doc_id, list_reduce(list_transform(
           |    regexp_extract_all(substr(md5(CAST(doc_id AS VARCHAR)), 25, 8), '.'),
           |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16 + b) AS h
           |  FROM documents)
           |ORDER BY doc_id""".stripMargin
      }),

    QueryDef("split_leakage_safe",
      // group-k-fold for near-dups: split assignment hashes the near-dup
      // CLUSTER id, so a whole clique lands in one split and eval can
      // never score a near-copy of a training doc. Oracle: RECURSIVE-CTE
      // clusters (exact Jaccard pairs) + the md5 split thresholds, both
      // recomputed from scratch
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text",
          k = 3, numHashes = 16, threshold = 0.8)
        Dedup.leakageSafeSplit(docs, "doc_id", pairs,
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .orderBy("doc_id")
      },
      Some {
        val th = graft.functions.Sampling.splitThresholds(
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        s"""WITH RECURSIVE sh AS (
           |  SELECT doc_id, unnest($ShinglesSql) AS sh
           |  FROM documents),
           |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           |jp AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
           |  FROM sh a JOIN sh b USING (sh) WHERE a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |good AS (
           |  SELECT id_a, id_b FROM jp
           |  JOIN sizes sa ON sa.doc_id = id_a
           |  JOIN sizes sb ON sb.doc_id = id_b
           |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8),
           |edges AS (SELECT id_a AS src, id_b AS dst FROM good
           |          UNION ALL SELECT id_b, id_a FROM good),
           |reach(id, lbl) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
           |clus AS (SELECT id AS doc_id, min(lbl) AS cluster_id
           |         FROM reach GROUP BY id)
           |SELECT doc_id, cluster_id,
           |  CASE WHEN h < ${th(0)._2} THEN 'train'
           |       WHEN h < ${th(1)._2} THEN 'val'
           |       ELSE 'test' END AS split
           |FROM (SELECT doc_id, cluster_id,
           |        ${md5SliceSql("CAST(cluster_id AS VARCHAR)")} AS h
           |      FROM clus)
           |ORDER BY doc_id""".stripMargin
      }),

    QueryDef("sink_v2_manifest",
      // the V2 sink's full two-phase protocol exercised END-TO-END under
      // the hash gate: write documents through task-temp -> task-commit ->
      // driver-rename -> manifest, read the committed TSVs back, and
      // aggregate; the oracle computes the same census straight from the
      // source table, so any torn/duplicated/missing write breaks the hash
      (s, dir) => {
        val path = Artifacts.scratchPath("v2sink", dir)
        Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .write.format("graft.sources.v2.ManifestSink")
          .option("path", path).mode("overwrite").save()
        s.read.option("sep", "\t")
          .schema("doc_id LONG, lang STRING, n_chars LONG")
          .csv(path + "/part-*.tsv")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"),
            sum(col("n_chars")).as("sum_chars"),
            min(col("doc_id")).as("min_id"),
            max(col("doc_id")).as("max_id"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  min(doc_id) AS min_id, max(doc_id) AS max_id
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef("source_v2_paged",
      // the DataSource V2 paged connector (sources.v2.PagedSource): pages
      // as InputPartitions, id-range filter pushdown narrowing the pages
      // BEFORE planning, column pruning at the source. Rows are a pure
      // function of (seed, index), so the oracle recomputes the ENTIRE
      // scan — content included — from generate_series; min/max payload
      // per bucket pin the generated strings byte-for-byte
      (s, dir) => s.read.format("graft.sources.v2.PagedSource")
        .option("rows", "100000").option("fetchSize", "8192")
        .option("seed", "s42").load()
        .filter(col("id") >= 25000 && col("id") < 50000)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"),
          min(col("payload")).as("min_payload"),
          max(col("payload")).as("max_payload"),
          max(col("modified_ts")).as("max_ts"))
        .orderBy("bucket"),
      Some("""WITH g AS (SELECT unnest(generate_series(25000, 49999)) AS i),
             |r AS (SELECT i, CAST(i % 32 AS INT) AS bucket,
             |        md5('s42#' || CAST(i AS VARCHAR)) AS payload,
             |        1700000000000 + i * 1000 AS modified_ts
             |      FROM g)
             |SELECT bucket, count(*) AS n,
             |  min(i) AS min_id, max(i) AS max_id,
             |  min(payload) AS min_payload, max(payload) AS max_payload,
             |  CAST(max(modified_ts) AS BIGINT) AS max_ts
             |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin)),

    QueryDef("source_v2_pushdown_agg",
      // connector-level aggregate pushdown — the reference's server-side
      // SELECT count(*) pre-scan (datacrawler.py:186-200) as DSv2
      // SupportsPushDownAggregates: ungrouped COUNT(*)/MIN/MAX over the
      // monotone columns answer from the FILTERED RANGE's endpoints with
      // no rows generated (complete pushdown — the plan has no aggregate
      // node; SourceV2Spec pins it). The oracle recomputes from
      // generate_series
      (s, dir) => s.read.format("graft.sources.v2.PagedSource")
        .option("rows", "100000").option("fetchSize", "8192")
        .option("seed", "s42").load()
        .filter(col("id") >= 25000 && col("id") < 75000)
        .agg(expr("count(*)").as("n"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"),
          min(col("modified_ts")).as("min_ts"),
          max(col("modified_ts")).as("max_ts")),
      Some("""WITH g AS (SELECT unnest(generate_series(25000, 74999)) AS i)
             |SELECT CAST(count(*) AS BIGINT) AS n,
             |  CAST(min(i) AS BIGINT) AS min_id,
             |  CAST(max(i) AS BIGINT) AS max_id,
             |  CAST(1700000000000 + min(i) * 1000 AS BIGINT) AS min_ts,
             |  CAST(1700000000000 + max(i) * 1000 AS BIGINT) AS max_ts
             |FROM g""".stripMargin)),

    QueryDef("source_v2_runtime_prune",
      // connector-level DYNAMIC pruning (SupportsRuntimeV2Filtering —
      // the DPP analogue for paged stores): the selective dim side runs
      // first, its join keys arrive as an id IN runtime filter, and
      // pages containing none of the probed ids are never planned
      // (SourceV2Spec proves readers-created ~= matching pages). The
      // oracle recomputes the joined rows from the generator identity
      (s, dir) => {
        val paged = s.read.format("graft.sources.v2.PagedSource")
          .option("rows", "100000").option("fetchSize", "1024")
          .option("seed", "s42").load()
        val dim = s.range(0, 3)
          .select((col("id") * 49997L + 5L).as("k"))
          .filter(col("k") >= 5)
        paged.join(dim, paged("id") === dim("k"))
          .select(paged("id"), paged("bucket"), paged("payload"),
            paged("modified_ts"))
          .orderBy("id")
      },
      Some("""WITH k AS (
             |  SELECT CAST(5 + 49997 * i AS BIGINT) AS id
             |  FROM (SELECT unnest(generate_series(0, 2)) AS i))
             |SELECT id, CAST(id % 32 AS INT) AS bucket,
             |  md5('s42#' || CAST(id AS VARCHAR)) AS payload,
             |  CAST(1700000000000 + id * 1000 AS BIGINT) AS modified_ts
             |FROM k ORDER BY id""".stripMargin)),

    QueryDef("split_contamination_audit",
      // the audit that motivates split_leakage_safe: count near-dup pairs
      // whose members land in DIFFERENT splits under the plain doc-keyed
      // 80/10/10 assignment (each off-diagonal row is leaked eval signal;
      // the cluster-keyed split has zero by construction — spec-pinned).
      // Oracle recomputes pairs, both hash splits, and the census
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text",
          k = 3, numHashes = 16, threshold = 0.8)
        val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
        val sp = docs.select(col("doc_id"),
          graft.functions.Sampling.splitAssign(col("doc_id"), splits)
            .as("split"))
        pairs
          .join(sp.select(col("doc_id").as("id_a"), col("split").as("_sa")),
            Seq("id_a"))
          .join(sp.select(col("doc_id").as("id_b"), col("split").as("_sb")),
            Seq("id_b"))
          .groupBy(least(col("_sa"), col("_sb")).as("split_lo"),
            greatest(col("_sa"), col("_sb")).as("split_hi"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("split_lo", "split_hi")
      },
      Some {
        val th = graft.functions.Sampling.splitThresholds(
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        s"""WITH sh AS (
           |  SELECT doc_id, unnest($ShinglesSql) AS sh FROM documents),
           |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           |jp AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
           |  FROM sh a JOIN sh b USING (sh) WHERE a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |good AS (
           |  SELECT id_a, id_b FROM jp
           |  JOIN sizes sa ON sa.doc_id = id_a
           |  JOIN sizes sb ON sb.doc_id = id_b
           |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8),
           |sp AS (SELECT doc_id,
           |    CASE WHEN $DocHashSql < ${th(0)._2} THEN 'train'
           |         WHEN $DocHashSql < ${th(1)._2} THEN 'val'
           |         ELSE 'test' END AS split
           |  FROM documents)
           |SELECT least(a.split, b.split) AS split_lo,
           |  greatest(a.split, b.split) AS split_hi,
           |  count(*) AS n_pairs
           |FROM good JOIN sp a ON a.doc_id = good.id_a
           |JOIN sp b ON b.doc_id = good.id_b
           |GROUP BY 1, 2 ORDER BY split_lo, split_hi""".stripMargin
      }),

    QueryDef("corpus_mix",
      // domain-mixing rebalance: target lang mixture en/es/de/fr =
      // .5/.25/.125/.125 (zh unweighted -> dropped); the oracle recomputes
      // the per-stratum counts, the achievable corpus size, the keep-rates,
      // and the exact hash membership — end to end in SQL
      (s, dir) => graft.functions.Sampling.rebalanceMixture(
          Tables.documents(s, dir), "doc_id", "lang", MixWeights)
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      Some {
        val values = MixWeights
          .map { case (l, w) => s"('$l', CAST($w AS DOUBLE))" }.mkString(", ")
        s"""WITH c AS (SELECT lang, CAST(count(*) AS DOUBLE) AS cnt
           |           FROM documents GROUP BY lang),
           |w(lang, wt) AS (VALUES $values),
           |j AS (SELECT c.lang, c.cnt, w.wt FROM c JOIN w ON c.lang = w.lang),
           |m AS (SELECT min(cnt / wt) AS n FROM j),
           |t AS (SELECT lang, CAST(floor(least(1.0, wt * (SELECT n FROM m) / cnt)
           |                              * 4294967296.0 + 0.5) AS BIGINT) AS th
           |      FROM j)
           |SELECT d.doc_id, d.lang FROM documents d JOIN t ON d.lang = t.lang
           |WHERE list_reduce(list_transform(
           |    regexp_extract_all(substr(md5(CAST(d.doc_id AS VARCHAR)), 25, 8), '.'),
           |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16 + b)
           |  < t.th
           |ORDER BY doc_id""".stripMargin
      }),

    QueryDef("corpus_pipeline_temperature",
      // the spec-driven pipeline in temperature mode: token filter ->
      // exact dedup -> temperature-rebalanced sample, all declared in one
      // JSON spec; the oracle replays every stage INCLUDING re-deriving
      // the temperature thresholds from the post-dedup stratum counts
      (s, dir) => graft.spec.CorpusSpec.run(
        Tables.documents(s, dir),
        graft.spec.CorpusSpec.parse("""{
          "filter": {"minTokens": 5, "langs": ["en", "es", "de"]},
          "dedup": {"method": "exact"},
          "sample": {"strataCol": "lang", "temperature": 0.5}}"""))
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      Some(s"""WITH f AS (
              |  SELECT doc_id, lang, text FROM documents
              |  WHERE lang IN ('en', 'es', 'de')
              |    AND len(string_split(text, ' ')) >= 5),
              |d AS (SELECT *, row_number() OVER (PARTITION BY md5(text)
              |                                   ORDER BY doc_id) AS rn FROM f),
              |k AS (SELECT doc_id, lang FROM d WHERE rn = 1),
              |c AS (SELECT lang, CAST(count(*) AS BIGINT) AS cnt FROM k GROUP BY lang),
              |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM c),
              |s AS (SELECT lang, cnt, sqrt(CAST(cnt AS DOUBLE) / t) AS w
              |      FROM c CROSS JOIN tot),
              |m AS (SELECT min(CAST(cnt AS DOUBLE) / w) AS n FROM s),
              |th AS (SELECT lang,
              |         CAST(floor(least(1.0, w * (SELECT n FROM m) / CAST(cnt AS DOUBLE))
              |              * 4294967296.0 + 0.5) AS BIGINT) AS th
              |       FROM s)
              |SELECT k.doc_id, k.lang FROM k JOIN th USING (lang)
              |WHERE $DocHashSql < th.th
              |ORDER BY doc_id""".stripMargin)),

    QueryDef("mixture_temperature",
      // temperature-scaled mixture sampling (target share ∝ p^T, T = 0.5 —
      // the multilingual rebalance that keeps low-resource strata alive):
      // the oracle retrains the whole decision — counts, sqrt weights, the
      // largest achievable size, per-stratum thresholds, and the exact
      // hash membership — in SQL. sqrt/divide/multiply/min are all IEEE
      // correctly rounded and the rate derivation avoids any
      // iteration-order-dependent float sum, so thresholds match
      // bit-for-bit (see Sampling.temperatureRates)
      (s, dir) => graft.functions.Sampling.temperatureSample(
          Tables.documents(s, dir), "doc_id", "lang", temperature = 0.5)
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      Some(s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS cnt
              |           FROM documents GROUP BY lang),
              |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM c),
              |s AS (SELECT lang, cnt, sqrt(CAST(cnt AS DOUBLE) / t) AS w
              |      FROM c CROSS JOIN tot),
              |m AS (SELECT min(CAST(cnt AS DOUBLE) / w) AS n FROM s),
              |th AS (SELECT lang,
              |         CAST(floor(least(1.0, w * (SELECT n FROM m) / CAST(cnt AS DOUBLE))
              |              * 4294967296.0 + 0.5) AS BIGINT) AS th
              |       FROM s)
              |SELECT d.doc_id, d.lang FROM documents d JOIN th USING (lang)
              |WHERE $DocHashSql < th.th
              |ORDER BY doc_id""".stripMargin)),

    QueryDef("sample_weighted",
      // quality-proportional sampling: each document's keep-probability IS
      // its quality score (higher quality -> more likely kept), membership
      // a pure hash so the oracle verifies the exact per-row decision —
      // score recomputation, per-row threshold, and hash all re-derived
      (s, dir) => {
        val scored = TextAnalysis.qualityMetrics(Tables.documents(s, dir))
          .withColumn("q", TextAnalysis.qualityScore())
        graft.functions.Sampling.weightedSample(scored, "doc_id", col("q"))
          .select("doc_id", "q")
          .orderBy("doc_id")
      },
      Some {
        val en = TextAnalysis.Langs.head._2.map("'" + _ + "'").mkString(",")
        s"""WITH m AS (
           |  SELECT doc_id,
           |    len(string_split(text,' ')) AS n_tokens,
           |    len(list_distinct(string_split(text,' '))) AS n_uniq_tokens,
           |    len(list_intersect(string_split(text,' '), [$en])) AS n_stop,
           |    length(text) AS n_chars
           |  FROM documents),
           |q AS (
           |  SELECT doc_id,
           |    (CAST(n_uniq_tokens AS DOUBLE) / n_tokens) * 0.5
           |      + (CAST(n_stop AS DOUBLE) / n_uniq_tokens) * 0.2
           |      + least((CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens) / 10.0, 1.0) * 0.3
           |      AS q
           |  FROM m)
           |SELECT doc_id, q FROM q
           |WHERE $DocHashSql < CAST(floor(q * 4294967296.0 + 0.5) AS BIGINT)
           |ORDER BY doc_id""".stripMargin
      }),

    QueryDef("dsir_select",
      // DSIR importance resampling (Xie et al. 2023): raw docs scored by
      // Σ_features [ln p_target(bucket) − ln p_raw(bucket)] over hashed
      // unigram+bigram features (64 buckets, target = the English slice);
      // the oracle re-derives every hash bucket, both smoothed histograms,
      // each micronat-quantized ln, the integer per-doc sum, and the exact
      // cross-multiplied above-mean selection flag
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.functions.Sampling.dsirWeights(
            docs, docs.filter(col("lang") === "en"), "doc_id", "text",
            dim = 64)
          .orderBy("doc_id")
      },
      Some("""WITH tk AS (SELECT doc_id, lang, string_split(text, ' ') AS t
             |            FROM documents),
             |bg AS (SELECT doc_id, lang, t,
             |         unnest(generate_series(1, len(t) - 1)) AS i FROM tk),
             |f AS (
             |  SELECT doc_id, lang, unnest(t) AS f FROM tk
             |  UNION ALL
             |  SELECT doc_id, lang, t[i] || ' ' || t[i + 1] AS f FROM bg),
             |hb AS (SELECT doc_id, lang,
             |    CAST(list_reduce(list_transform(
             |      regexp_extract_all(substr(md5(f), 25, 8), '.'),
             |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
             |      (a, b) -> a * 16 + b) % 64 AS INT) AS b
             |  FROM f),
             |tc AS (SELECT b, count(*) AS c FROM hb WHERE lang = 'en'
             |       GROUP BY 1),
             |rc AS (SELECT b, count(*) AS c FROM hb GROUP BY 1),
             |tot AS (SELECT (SELECT sum(c) FROM tc) AS tt,
             |               (SELECT sum(c) FROM rc) AS rt),
             |w AS (SELECT g.b,
             |    CAST(floor(ln((COALESCE(tc.c, 0) + 1) / (tot.tt + 64))
             |      * 1000000.0 + 0.5) AS BIGINT)
             |  - CAST(floor(ln((COALESCE(rc.c, 0) + 1) / (tot.rt + 64))
             |      * 1000000.0 + 0.5) AS BIGINT) AS w
             |  FROM (SELECT unnest(generate_series(0, 63)) AS b) g
             |  LEFT JOIN tc USING (b) LEFT JOIN rc USING (b) CROSS JOIN tot),
             |d AS (SELECT hb.doc_id, CAST(count(*) AS BIGINT) AS n_features,
             |    CAST(sum(w.w) AS BIGINT) AS logweight_micronats
             |  FROM hb JOIN w USING (b) GROUP BY 1),
             |sel AS (SELECT (SELECT CAST(sum(logweight_micronats) AS HUGEINT)
             |                FROM d) AS s,
             |               (SELECT count(*) FROM d) AS n)
             |SELECT doc_id, n_features, logweight_micronats,
             |  CAST(logweight_micronats AS HUGEINT) * sel.n >= sel.s
             |    AS selected
             |FROM d CROSS JOIN sel ORDER BY doc_id""".stripMargin)),

    QueryDef("quality_classifier",
      // fastText-style linear quality-filter INFERENCE (Joulin et al.
      // 2016; the CCNet/FineWeb keep-or-drop pass): per-doc integer score
      // over hashed unigram+bigram features, a pure narrow map — no
      // explode, no join, no shuffle. The deterministic hash-derived
      // weight table stands in for trained coefficients so the oracle can
      // recompute every bucket, weight, and the exact integer fold
      (s, dir) => graft.functions.Classifier.linearScore(
          Tables.documents(s, dir), "doc_id", "text", dim = 64)
        .orderBy("doc_id"),
      Some(s"""WITH $classifierScoreCteSql
              |SELECT doc_id, n_features, score_micronats,
              |  score_micronats >= 0 AS accept
              |FROM d ORDER BY doc_id""".stripMargin)),

    QueryDef("classifier_train",
      // fastText-style quality-filter TRAINING in-engine (the half the
      // reference does offline on a sample): 3 full-batch logistic-GD
      // steps over the SAME hashed unigram+bigram features the
      // inference gate scores with, weak label lang='en', lr 1/4.
      // Engine-exact: the sigmoid is ppm-quantized per doc BEFORE any
      // sum, gradients are exact long sums, updates use toward-zero
      // division over non-negative operands. Weights live on the driver
      // between iterations (65 longs — bounded model metadata); per
      // iteration the distributed work is two partial-aggregable
      // shuffles over the persisted (doc, bucket, cnt) frame. Oracle
      // unrolls the same 3 steps as materialized weight CTEs
      (s, dir) => graft.functions.Classifier.train(
          Tables.documents(s, dir), "doc_id", "text",
          col("lang") === "en", dim = 64, iters = 3)
        .orderBy("bucket"),
      Some(s"""WITH ${classifierTrainOracleSql(3)}
              |SELECT CAST(-1 AS INT) AS bucket,
              |  CAST(bw AS BIGINT) AS weight_micronats FROM bb3
              |UNION ALL
              |SELECT b AS bucket, CAST(w AS BIGINT) AS weight_micronats
              |FROM w3
              |ORDER BY bucket""".stripMargin)),

    QueryDef("classifier_train_apply",
      // the COMPOSED loop: train in-engine (3 GD steps, weak label
      // lang='en'), then score the same corpus THROUGH THE TRAINED
      // TABLE via the join-based inference seat (linearScoreWith — the
      // plan that survives hashing-trick dims, unlike a literal-array
      // weightExpr). Oracle unrolls the identical 3 steps and applies
      // w3/bb3 — end-to-end engine exactness of train+apply together
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val trained = graft.functions.Classifier.train(docs, "doc_id",
          "text", col("lang") === "en", dim = 64, iters = 3)
        graft.functions.Classifier.linearScoreWith(docs, "doc_id", "text",
            trained, dim = 64)
          .orderBy("doc_id")
      },
      Some(s"""WITH ${classifierTrainOracleSql(3)},
              |sc AS (SELECT f.doc_id,
              |         CAST(sum(f.cnt) AS BIGINT) AS n_features,
              |         CAST(sum(f.cnt * w.w) AS BIGINT) AS s
              |       FROM feat f JOIN w3 w USING (b) GROUP BY 1)
              |SELECT d.doc_id,
              |  CAST(coalesce(n_features, 0) AS BIGINT) AS n_features,
              |  CAST(coalesce(s, 0) + bb.bw AS BIGINT) AS score_micronats,
              |  coalesce(s, 0) + bb.bw >= 0 AS accept
              |FROM docs d LEFT JOIN sc USING (doc_id) CROSS JOIN bb3 bb
              |ORDER BY doc_id""".stripMargin)),

    QueryDef("classifier_pr_curve",
      // calibration sweep of the classifier against a weak label
      // (lang = 'en') at five fixed micronat thresholds: exact long
      // confusion counts per threshold (broadcast threshold table,
      // map-side partial agg -> 5-row exchange), precision/recall as
      // single guarded divisions — the table a pipeline reads before
      // choosing its filter cutoff
      (s, dir) => {
        val scored = graft.functions.Classifier.linearScore(
            Tables.documents(s, dir), "doc_id", "text", dim = 64,
            keep = Seq("lang"))
          .withColumn("y", col("lang") === "en")
        graft.functions.Classifier.prCurve(scored, "score_micronats", "y",
            Seq(-400000L, -200000L, 0L, 200000L, 400000L))
          .orderBy("threshold")
      },
      Some(s"""WITH $classifierScoreCteSql,
              |lab AS (SELECT d.doc_id, score_micronats AS s,
              |          (lang = 'en') AS y
              |        FROM d JOIN documents USING (doc_id)),
              |th AS (SELECT CAST(unnest([-400000, -200000, 0, 200000,
              |                           400000]) AS BIGINT) AS threshold),
              |c AS (SELECT threshold,
              |        CAST(sum(CASE WHEN s >= threshold AND y THEN 1 ELSE 0 END) AS BIGINT) AS tp,
              |        CAST(sum(CASE WHEN s >= threshold AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS fp,
              |        CAST(sum(CASE WHEN s < threshold AND y THEN 1 ELSE 0 END) AS BIGINT) AS fn,
              |        CAST(sum(CASE WHEN s < threshold AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS tn
              |      FROM lab CROSS JOIN th GROUP BY threshold)
              |SELECT threshold, tp, fp, fn, tn,
              |  CASE WHEN tp + fp > 0
              |       THEN CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
              |  CASE WHEN tp + fn > 0
              |       THEN CAST(tp AS DOUBLE) / (tp + fn) END AS recall
              |FROM c ORDER BY threshold""".stripMargin)),

    QueryDef("quality_gopher_rules",
      // the FULL Gopher rule battery (Rae et al. 2021, Table A1) as an
      // audit table: word-count bounds, mean word length, symbol ratio,
      // bullet/ellipsis line fractions, alpha-word fraction, stopword
      // floor — every metric an exact integer ppm next to its verdict,
      // the whole battery one narrow map fused into the scan. Oracle
      // recomputes every metric and the conjunction. Word bounds are
      // FIXTURE-SCALED here (20..90 — the synthetic documents run ~50
      // words, the paper's 50..100,000 defaults target web pages); every
      // other threshold is the paper's default
      (s, dir) => TextAnalysis.gopherRules(Tables.documents(s, dir),
          "doc_id", "text", minWords = 20, maxWords = 90)
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w,
             |            string_split(text, chr(10)) AS l FROM documents),
             |m AS (SELECT doc_id,
             |        CAST(len(w) AS BIGINT) AS n_words,
             |        CAST(list_reduce(list_transform(w,
             |            x -> CAST(length(x) AS BIGINT)),
             |          (a, b) -> a + b) AS BIGINT) AS sl,
             |        CAST(len(l) AS BIGINT) AS nl,
             |        CAST(length(text) - length(replace(text, '#', ''))
             |            AS BIGINT)
             |          + CAST((length(text)
             |            - length(replace(text, '...', ''))) // 3
             |            AS BIGINT) AS sy,
             |        CAST(len(list_filter(l,
             |          x -> regexp_matches(x, '^[-*•]'))) AS BIGINT) AS bu,
             |        CAST(len(list_filter(l,
             |          x -> regexp_matches(x, '(\.\.\.|…)$'))) AS BIGINT) AS el,
             |        CAST(len(list_filter(w,
             |          x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS al,
             |        CAST(len(list_filter(w,
             |          x -> x IN ('the','be','to','of','and','that','have',
             |                     'with','a'))) AS BIGINT) AS ns
             |      FROM t),
             |mm AS (SELECT doc_id, n_words,
             |         CAST((sl * 1000000) // n_words AS BIGINT) AS mean_word_len_ppm,
             |         CAST((sy * 1000000) // n_words AS BIGINT) AS symbol_ratio_ppm,
             |         CAST((bu * 1000000) // nl AS BIGINT) AS bullet_line_ppm,
             |         CAST((el * 1000000) // nl AS BIGINT) AS ellipsis_line_ppm,
             |         CAST((al * 1000000) // n_words AS BIGINT) AS alpha_word_ppm,
             |         ns AS n_stopwords
             |       FROM m)
             |SELECT doc_id, n_words, mean_word_len_ppm, symbol_ratio_ppm,
             |  bullet_line_ppm, ellipsis_line_ppm, alpha_word_ppm,
             |  n_stopwords,
             |  (n_words BETWEEN 20 AND 90
             |   AND mean_word_len_ppm BETWEEN 3000000 AND 10000000
             |   AND symbol_ratio_ppm <= 100000
             |   AND bullet_line_ppm <= 900000
             |   AND ellipsis_line_ppm <= 300000
             |   AND alpha_word_ppm >= 800000
             |   AND n_stopwords >= 2) AS gopher_keep
             |FROM mm ORDER BY doc_id""".stripMargin)),

    QueryDef("quality_gopher_repetition",
      // the Gopher REPETITION half (Rae et al. 2021 Table A2):
      // duplicate-line fraction, duplicate-line character fraction, and
      // top word-2-gram character coverage — exact integer ppm, O(len^2)
      // comparisons INSIDE each row's arrays only (never cross-row), the
      // whole battery one narrow map. Oracle recomputes every census
      (s, dir) => TextAnalysis.gopherRepetition(Tables.documents(s, dir),
          "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w,
             |            string_split(text, chr(10)) AS l FROM documents),
             |m AS (SELECT doc_id,
             |        CAST(len(l) AS BIGINT) AS nl,
             |        CAST(list_reduce(list_transform(l,
             |            x -> CAST(length(x) AS BIGINT)),
             |          (a, b) -> a + b) AS BIGINT) AS lc,
             |        CAST(len(l) - len(list_distinct(l)) AS BIGINT) AS dl,
             |        CAST(list_reduce(list_transform(l,
             |            x -> CASE WHEN len(list_filter(l, y -> y = x)) >= 2
             |                 THEN CAST(length(x) AS BIGINT) ELSE 0 END),
             |          (a, b) -> a + b) AS BIGINT) AS dlc,
             |        CASE WHEN len(w) >= 2 THEN
             |          list_transform(generate_series(1,
             |            CAST(len(w) - 1 AS INT)),
             |            i -> w[i] || ' ' || w[i + 1])
             |        ELSE [] END AS g,
             |        CAST(length(text) AS BIGINT) AS n
             |      FROM t),
             |mm AS (SELECT doc_id, nl, lc, dl, dlc, n,
             |         CAST(coalesce(list_max(list_transform(g,
             |           x -> CAST(len(list_filter(g, y -> y = x)) AS BIGINT)
             |                * length(x))), 0) AS BIGINT) AS tc
             |       FROM m),
             |f AS (SELECT doc_id,
             |        CAST((dl * 1000000) // nl AS BIGINT) AS dup_line_ppm,
             |        CAST(CASE WHEN lc > 0 THEN (dlc * 1000000) // lc
             |             ELSE 0 END AS BIGINT) AS dup_line_char_ppm,
             |        CAST(CASE WHEN n > 0 THEN (tc * 1000000) // n
             |             ELSE 0 END AS BIGINT) AS top_2gram_char_ppm
             |      FROM mm)
             |SELECT doc_id, dup_line_ppm, dup_line_char_ppm,
             |  top_2gram_char_ppm,
             |  (dup_line_ppm <= 300000 AND dup_line_char_ppm <= 200000
             |   AND top_2gram_char_ppm <= 200000) AS repetition_keep
             |FROM f ORDER BY doc_id""".stripMargin)),

    QueryDef("tokenize_unigram_viterbi",
      // unigram-LM subword segmentation (Kudo 2018 — SentencePiece's
      // Viterbi decode): every distinct word segmented into the
      // maximum-likelihood piece sequence under a corpus-count unigram
      // piece LM (micronat-quantized), ties to the longest last piece.
      // Type-level: one corpus shuffle (word histogram), then the gram
      // census, score join, and the row-local (best[], ptr[]) DP fold
      // all run over DISTINCT words. Oracle replays the DP and the
      // backward walk as recursive CTEs carrying the same arrays
      (s, dir) => graft.functions.Unigram.viterbiSegment(
          Tables.documents(s, dir), "text")
        .orderBy("word"),
      Some("""WITH RECURSIVE
             |wh AS MATERIALIZED (
             |  SELECT word, CAST(count(*) AS BIGINT) AS freq
             |  FROM (SELECT unnest(string_split(text, ' ')) AS word
             |        FROM documents)
             |  WHERE word <> '' GROUP BY word),
             |g AS MATERIALIZED (
             |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
             |    SELECT freq,
             |      substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece
             |    FROM wh, unnest(generate_series(1, length(word))) AS t1(i),
             |         unnest(generate_series(1, 4)) AS t2(l)
             |    WHERE i + l - 1 <= length(word))
             |  GROUP BY piece),
             |tt AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM g),
             |sc AS MATERIALIZED (
             |  SELECT piece,
             |    CAST(floor(ln(CAST(cnt AS DOUBLE) / t) * 1e6 + 0.5)
             |      AS BIGINT) AS s
             |  FROM g, tt),
             |wm AS MATERIALIZED (
             |  SELECT word, map_from_entries(list({'k': piece, 'v': s})) AS m
             |  FROM (SELECT DISTINCT word,
             |          substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece
             |        FROM wh, unnest(generate_series(1, length(word))) AS t1(i),
             |             unnest(generate_series(1, 4)) AS t2(l)
             |        WHERE i + l - 1 <= length(word))
             |  JOIN sc USING (piece) GROUP BY word),
             |st AS (
             |  SELECT word, m, 0 AS i, [CAST(0 AS BIGINT)] AS best,
             |         CAST([] AS INT[]) AS ptr
             |  FROM wm
             |  UNION ALL
             |  SELECT word, m, i + 1,
             |         list_append(best, cand[1]),
             |         list_append(ptr, CAST(cand[2] AS INT))
             |  FROM (
             |    SELECT *, list_max(list_transform(
             |      generate_series(1, least(4, i + 1)),
             |      l -> [best[i + 2 - l]
             |              + m[substr(word, CAST(i + 2 - l AS INT),
             |                  CAST(l AS INT))][1],
             |            CAST(l AS BIGINT)])) AS cand
             |    FROM st WHERE i < length(word))),
             |fin AS (
             |  SELECT word, best[length(word) + 1] AS score_micronats, ptr,
             |         CAST(length(word) AS INT) AS n
             |  FROM st WHERE i = length(word)),
             |wk AS (
             |  SELECT word, ptr, n AS pos, CAST([] AS VARCHAR[]) AS ps
             |  FROM fin
             |  UNION ALL
             |  SELECT word, ptr, pos - ptr[pos] AS pos,
             |         list_prepend(substr(word, CAST(pos - ptr[pos] + 1 AS INT),
             |           CAST(ptr[pos] AS INT)), ps) AS ps
             |  FROM wk WHERE pos > 0)
             |SELECT w.word, h.freq, CAST(len(k.ps) AS INT) AS n_pieces,
             |  w.score_micronats, array_to_string(k.ps, ' ') AS segmented
             |FROM fin w JOIN wh h ON w.word = h.word
             |JOIN (SELECT word, ps FROM wk WHERE pos = 0) k
             |  ON w.word = k.word
             |ORDER BY w.word""".stripMargin)),

    QueryDef("unigram_learn",
      // unigram-LM vocabulary LEARNING (the other half of Kudo 2018):
      // 2 hard-EM rounds over the seed gram census — each round
      // re-segments the distinct words under the current model
      // (Viterbi-best, ties to the longest piece), re-counts pieces
      // frequency-weighted, and prunes multi-char pieces used < 2
      // times (single chars floored at count 1 — coverage). Type-level
      // like the KN family: one corpus shuffle, every round
      // model-sized. Oracle unrolls both rounds as recursive-CTE
      // decodes (the BPE unrolling pattern)
      (s, dir) => graft.functions.Unigram.learn(
          Tables.documents(s, dir), "text")
        .orderBy("piece"),
      Some(unigramLearnOracleSql(2, 2, segment = false))),

    QueryDef("unigram_learn_soft",
      // SOFT-EM vocabulary learning — Kudo 2018's actual training loop
      // (the lattice-marginal E-step; unigram_learn keeps the
      // documented hard-EM variant): forward/backward quantized
      // log-sum-exp DPs per distinct word, expected piece counts
      // quantized to integer MICROCOUNTS before any aggregation (every
      // sum exact and order-free), same seed census and prune
      // scaffolding. Oracle replays both rounds' lattices as recursive
      // CTEs with the identical per-step quantization
      (s, dir) => graft.functions.Unigram.learnSoft(
          Tables.documents(s, dir), "text")
        .orderBy("piece"),
      Some(unigramLearnSoftOracleSql(2, 2))),

    QueryDef("unigram_learn_segment",
      // the learned-vocab segmentation census: every distinct word
      // decoded under the vocabulary unigram_learn produced — the
      // tokenizer a production pipeline actually ships. Oracle = the
      // learning replay plus one more unrolled decode round
      (s, dir) => graft.functions.Unigram.learnSegment(
          Tables.documents(s, dir), "text")
        .orderBy("word"),
      Some(unigramLearnOracleSql(2, 2, segment = true))),

    QueryDef("unigram_segment_soft",
      // decode under the SOFT-learned vocabulary — the tokenizer
      // Kudo's actual loop ships (soft-EM training + Viterbi decode),
      // completing for the soft twin what unigram_learn_segment does
      // for the hard one. Oracle = the soft-learning replay plus one
      // unrolled hard-decode round over its minted scores
      (s, dir) => graft.functions.Unigram.segmentSoft(
          Tables.documents(s, dir), "text")
        .orderBy("word"),
      Some(unigramLearnSoftOracleSql(2, 2, segment = true))),

    QueryDef("unigram_sample_segments",
      // subword-regularization sampling (Kudo 2018 §4): 2 seeded FFBS
      // draws per distinct word from p(seg)^0.5 under the seed census
      // model — forward quantized-lse lattice over temperature-scaled
      // scores, backward walk drawing each piece from integer microprob
      // weights with an md5-slice threshold (the seeded-Laplace
      // discipline: deterministic, and the oracle replays every draw
      // bit-exactly). Type-level: lattice + walk are row-local folds
      // over distinct words
      (s, dir) => graft.functions.Unigram.sampleSegments(
          Tables.documents(s, dir), "text",
          nSamples = 2, alphaPpm = 500000L, seed = "r17ss")
        .orderBy("word", "sample_id"),
      Some(unigramSampleOracleSql(2, 500000L, "r17ss"))),

    QueryDef("quality_c4_rules",
      // C4's LINE-LEVEL cleaning pass (Raffel et al. 2020 §2.2 — the
      // transformer half; blocklist_filter is its badwords rule,
      // dedup_spans its span dedup): keep lines ending in terminal
      // punctuation with >= 5 words and no blocked substring, then judge
      // the page on the KEPT lines (>= 3 sentences) plus the lorem-ipsum
      // / brace page rules. The fixture's documents are single-line
      // punctuation-free word soup, so the gate first RE-PAGES each text
      // deterministically (8-word lines, every 4th line unterminated)
      // and exercises the line-substring rule on a real corpus word
      // ('vector') — the operator itself takes any text. Oracle replays
      // the paging and every census
      (s, dir) => {
        val words = split(col("text"), " ")
        val nc = expr("(size(split(text, ' ')) + 7) div 8").cast("int")
        val paged = array_join(transform(sequence(lit(0), nc - 1),
          i => concat(array_join(slice(words, i * 8 + 1, lit(8)), " "),
            when(i % 4 =!= 3, lit(".")).otherwise(lit("")))), "\n")
        graft.functions.TextClean.c4Clean(
            Tables.documents(s, dir).withColumn("text", paged),
            "doc_id", "text", dropLineSubstrings = Seq("vector"))
          .orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w,
             |            CAST((len(string_split(text, ' ')) + 7) // 8
             |              AS INT) AS nc FROM documents),
             |pg AS (SELECT doc_id,
             |         array_to_string(list_transform(
             |           generate_series(0, nc - 1),
             |           i -> array_to_string(w[i*8+1 : i*8+8], ' ')
             |                || CASE WHEN i % 4 <> 3 THEN '.'
             |                   ELSE '' END), chr(10)) AS text
             |       FROM w),
             |t AS (SELECT doc_id, text,
             |        string_split(text, chr(10)) AS l FROM pg),
             |k AS (SELECT doc_id, text, l,
             |        list_filter(l, x ->
             |          right(trim(x), 1) IN ('.', '!', '?', '"')
             |          AND len(list_filter(string_split(x, ' '),
             |                y -> length(y) > 0)) >= 5
             |          AND NOT contains(lower(x), 'vector')) AS kl
             |      FROM t),
             |c AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n_lines,
             |        CAST(len(kl) AS BIGINT) AS n_lines_kept,
             |        -- array_to_string([]) is NULL in DuckDB, '' in Spark
             |        coalesce(array_to_string(kl, chr(10)), '')
             |          AS text_clean,
             |        contains(lower(text), 'lorem ipsum')
             |          AS has_lorem_ipsum,
             |        contains(text, '{') AS has_brace
             |      FROM k)
             |SELECT doc_id, n_lines, n_lines_kept, text_clean,
             |  CAST(length(text_clean) - length(regexp_replace(
             |    text_clean, '[.!?]', '', 'g')) AS BIGINT) AS n_sentences,
             |  has_lorem_ipsum, has_brace,
             |  (length(text_clean) - length(regexp_replace(
             |     text_clean, '[.!?]', '', 'g')) >= 3
             |   AND NOT has_lorem_ipsum AND NOT has_brace) AS c4_keep
             |FROM c ORDER BY doc_id""".stripMargin)),

    QueryDef("quality_c4_chain",
      // the FULL C4 pipeline as one production chain (Raffel et al. 2020
      // §2.2 end-to-end, the gopherChain pattern): line-level cleaning +
      // page rules + badwords over the cleaned text + the three-span
      // corpus dedup with keep-FIRST-occurrence semantics, first-failure
      // census per page. Fixture: the quality_c4_rules re-paging (8-word
      // lines, every 4th unterminated, 'vector' line rule) plus a 4-line
      // shared boilerplate header on every doc_id%3==0 page, which mints
      // real corpus-wide duplicated 3-line spans — the dedup must keep
      // exactly the lowest (doc_id, pos) occurrence's lines and strip
      // every other header. Oracle replays the paging, every census,
      // rule precedence, the md5-keyed span census, and the rebuild
      (s, dir) => {
        val words = split(col("text"), " ")
        val nc = expr("(size(split(text, ' ')) + 7) div 8").cast("int")
        val paged = array_join(transform(sequence(lit(0), nc - 1),
          i => concat(array_join(slice(words, i * 8 + 1, lit(8)), " "),
            when(i % 4 =!= 3, lit(".")).otherwise(lit("")))), "\n")
        val header = Seq("one.", "two.", "three.", "four.")
          .map(sfx => s"shared boilerplate header line $sfx")
          .mkString("\n")
        val text2 = when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(header + "\n"), paged)).otherwise(paged)
        graft.functions.TextClean.c4Chain(
            Tables.documents(s, dir).withColumn("text", text2),
            "doc_id", "text", blocklist = Seq("dup", "spill"),
            dropLineSubstrings = Seq("vector"))
          .orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w,
             |            CAST((len(string_split(text, ' ')) + 7) // 8
             |              AS INT) AS nc FROM documents),
             |pg AS (SELECT doc_id,
             |         CASE WHEN doc_id % 3 = 0 THEN
             |           'shared boilerplate header line one.' || chr(10) ||
             |           'shared boilerplate header line two.' || chr(10) ||
             |           'shared boilerplate header line three.' || chr(10) ||
             |           'shared boilerplate header line four.' || chr(10)
             |         ELSE '' END ||
             |         array_to_string(list_transform(
             |           generate_series(0, nc - 1),
             |           i -> array_to_string(w[i*8+1 : i*8+8], ' ')
             |                || CASE WHEN i % 4 <> 3 THEN '.'
             |                   ELSE '' END), chr(10)) AS text
             |       FROM w),
             |t AS (SELECT doc_id, text,
             |        string_split(text, chr(10)) AS l FROM pg),
             |k AS (SELECT doc_id, text, l,
             |        list_filter(l, x ->
             |          right(trim(x), 1) IN ('.', '!', '?', '"')
             |          AND len(list_filter(string_split(x, ' '),
             |                y -> length(y) > 0)) >= 5
             |          AND NOT contains(lower(x), 'vector')) AS kl
             |      FROM t),
             |c AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n_lines,
             |        CAST(len(kl) AS BIGINT) AS n_lines_kept,
             |        coalesce(array_to_string(kl, chr(10)), '')
             |          AS text_clean,
             |        contains(lower(text), 'lorem ipsum') AS lor,
             |        contains(text, '{') AS brc
             |      FROM k),
             |v AS (SELECT doc_id, n_lines, n_lines_kept,
             |        CAST(length(text_clean) - length(regexp_replace(
             |          text_clean, '[.!?]', '', 'g')) AS BIGINT)
             |          AS n_sentences,
             |        CAST(len(list_filter(string_split(text_clean, ' '),
             |          t -> t IN ('dup', 'spill'))) AS INT)
             |          AS n_blocklist_hits,
             |        text_clean, lor, brc FROM c),
             |v2 AS (SELECT *,
             |         CASE WHEN n_sentences < 3 THEN 'too_few_sentences'
             |              WHEN lor THEN 'lorem_ipsum'
             |              WHEN brc THEN 'brace'
             |              WHEN n_blocklist_hits > 0 THEN 'badwords'
             |         END AS first_failed
             |       FROM v),
             |kl2 AS (SELECT doc_id,
             |          string_split(text_clean, chr(10)) AS kl
             |        FROM v2 WHERE first_failed IS NULL),
             |sp AS (SELECT doc_id, i, md5(array_to_string(
             |          kl[CAST(i AS INT):CAST(i + 2 AS INT)], chr(10)))
             |          AS h
             |       FROM (SELECT doc_id, kl,
             |               unnest(generate_series(1, len(kl) - 2)) AS i
             |             FROM kl2 WHERE len(kl) >= 3)),
             |cen AS (SELECT h, count(*) AS n,
             |          min(doc_id * 1000000 + i) AS fk
             |        FROM sp GROUP BY h HAVING count(*) >= 2),
             |-- MATERIALIZED: an outer filter on an unnest-derived
             |-- column hits a DuckDB internal binder assertion unless
             |-- the unnest level is materialized first
             |remx AS MATERIALIZED (SELECT sp.doc_id, cen.fk,
             |          unnest(generate_series(sp.i, sp.i + 2)) AS j
             |        FROM sp JOIN cen USING (h)
             |        WHERE sp.doc_id * 1000000 + sp.i <> cen.fk),
             |-- the first occurrence's own lines are protected from
             |-- overlapping same-span occurrences
             |rem AS (SELECT DISTINCT doc_id, j FROM remx
             |        WHERE NOT (doc_id = fk // 1000000
             |          AND j BETWEEN fk % 1000000
             |                    AND fk % 1000000 + 2)),
             |covs AS (SELECT doc_id, list(j) AS cov, count(*) AS nr
             |         FROM rem GROUP BY doc_id)
             |SELECT v2.doc_id, v2.n_lines, v2.n_lines_kept,
             |  v2.n_sentences, v2.n_blocklist_hits, v2.first_failed,
             |  CAST(CASE WHEN v2.first_failed IS NOT NULL THEN 0
             |       ELSE coalesce(covs.nr, 0) END AS INT)
             |    AS n_span_lines_removed,
             |  CASE WHEN v2.first_failed IS NOT NULL THEN NULL
             |       WHEN covs.doc_id IS NULL THEN v2.text_clean
             |       ELSE coalesce(array_to_string(list_filter(
             |              string_split(v2.text_clean, chr(10)),
             |              (x, i) -> NOT list_contains(covs.cov, i)),
             |              chr(10)), '') END AS final_text,
             |  v2.first_failed IS NULL AS keep
             |FROM v2 LEFT JOIN covs USING (doc_id)
             |ORDER BY v2.doc_id""".stripMargin)),

    QueryDef("blocklist_filter",
      // C4's badwords filter (Raffel et al. 2020 §2.2): whole-token
      // blocklist occurrence count + keep verdict, a pure narrow map with
      // the list as plan literals; oracle recounts every occurrence
      (s, dir) => graft.functions.TextClean.blocklistFilter(
          Tables.documents(s, dir), "doc_id", "text", Seq("dup", "spill"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(len(list_filter(string_split(text, ' '),
             |    t -> t IN ('dup', 'spill'))) AS INT) AS n_blocklist_hits,
             |  len(list_filter(string_split(text, ' '),
             |    t -> t IN ('dup', 'spill'))) = 0 AS keep
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("blocklist_substring",
      // substring blocklist via the native Aho-Corasick expression
      // (plans.MultiSubstringCount): one automaton pass per row counts
      // every occurrence of every pattern — overlaps included, cross-token
      // phrases included — where whole-token isin cannot. Oracle
      // recomputes each pattern's overlap-inclusive count positionally
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.plans.MultiSubstringCount(col("text"),
            Seq("ow", "dup", "merge jo")).as("n_hits"))
        .withColumn("flagged", col("n_hits") > 0)
        .orderBy("doc_id"),
      Some {
        val per = Seq("ow", "dup", "merge jo").map { p =>
          val esc = p.replace("'", "''")
          s"""len(list_filter(generate_series(1, greatest(length(text) - ${p.length - 1}, 0)),
             |    i -> substr(text, CAST(i AS INT), ${p.length}) = '$esc'))""".stripMargin
        }.mkString("\n  + ")
        s"""SELECT doc_id,
           |  CAST($per AS INT) AS n_hits,
           |  ($per) > 0 AS flagged
           |FROM documents ORDER BY doc_id""".stripMargin
      }),

    QueryDef("quality_filter_chain",
      // the C4/Gopher/FineWeb-shaped production chain — the FULL Gopher
      // battery (Table A1 rules then Table A2 repetition filters) first,
      // then blocklist, model score last — emitting the FIRST failing
      // rule per doc (the auditability contract: per-rule loss rates are
      // one groupBy over this output). Word bounds fixture-scaled
      // (20..90); every other threshold the paper's. Oracle re-derives
      // every battery census, the blocklist count, the classifier score,
      // and the full rule precedence
      (s, dir) => TextAnalysis.qualityFilterChain(Tables.documents(s, dir),
          "doc_id", "text", blocklist = Seq("dup", "spill"),
          minWords = 20, maxWords = 90)
        .orderBy("doc_id"),
      Some(s"""WITH $classifierScoreCteSql,
              |${gopherBatterySql(20, 90)},
              |nb AS (SELECT doc_id,
              |         len(list_filter(string_split(text, ' '),
              |           t -> t IN ('dup', 'spill'))) AS nb
              |       FROM documents),
              |v AS (SELECT gv.doc_id, nb.nb, d.score_micronats,
              |        CASE WHEN gv.first_failed IS NOT NULL
              |               THEN gv.first_failed
              |             WHEN nb.nb > 0 THEN 'blocklisted'
              |             WHEN d.score_micronats < 0 THEN 'classifier'
              |        END AS first_failed
              |      FROM gv JOIN nb USING (doc_id) JOIN d USING (doc_id))
              |SELECT doc_id, CAST(nb AS INT) AS n_blocklist_hits,
              |  score_micronats, first_failed,
              |  first_failed IS NULL AS keep
              |FROM v ORDER BY doc_id""".stripMargin)),

    QueryDef("bm25_topk",
      // BM25 ranked retrieval: top-10 docs for two term queries under the
      // Lucene/Okapi score; the oracle recomputes corpus stats (N, total
      // length), per-term df, every micronat-quantized partial score with
      // the identical operation order, the integer per-doc sum, and the
      // (score desc, id asc) ranking
      (s, dir) => TextAnalysis.bm25TopK(Tables.documents(s, dir),
          "doc_id", "text",
          Seq("q_scan" -> Seq("scan", "table", "column"),
              "q_join" -> Seq("join", "merge", "hash")),
          k1 = 1.2, b = 0.75, topK = 10)
        .orderBy("qid", "rnk"),
      Some {
        val (k1, b) = (1.2, 0.75)
        s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
           |           FROM documents),
           |st AS (SELECT count(*) AS n, sum(len(t)) AS tot FROM d),
           |tf AS (SELECT doc_id, dl, tok AS term, count(*) AS tf
           |       FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS tok FROM d)
           |       WHERE tok IN ('scan','table','column','join','merge','hash')
           |       GROUP BY 1, 2, 3),
           |dft AS (SELECT term, count(*) AS dft FROM tf GROUP BY 1),
           |q AS (SELECT * FROM (VALUES
           |    ('q_scan','scan'), ('q_scan','table'), ('q_scan','column'),
           |    ('q_join','join'), ('q_join','merge'), ('q_join','hash'))
           |  v(qid, term)),
           |sc AS (SELECT q.qid, tf.doc_id,
           |    CAST(floor(ln(1.0 + (st.n - dft.dft + 0.5) / (dft.dft + 0.5))
           |      * (tf.tf * ${fmtD(k1 + 1.0)})
           |      / (tf.tf + ${fmtD(k1)} * (${fmtD(1.0 - b)}
           |        + ${fmtD(b)} * ((tf.dl * st.n) / st.tot)))
           |      * 1000000.0 + 0.5) AS BIGINT) AS s
           |  FROM tf JOIN q USING (term) JOIN dft USING (term)
           |  CROSS JOIN st),
           |pd AS (SELECT qid, doc_id, CAST(sum(s) AS BIGINT)
           |      AS score_micronats,
           |    CAST(count(*) AS BIGINT) AS n_terms_hit
           |  FROM sc GROUP BY 1, 2),
           |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY qid
           |        ORDER BY score_micronats DESC, doc_id) AS INT) AS rnk
           |  FROM pd)
           |SELECT qid, doc_id, score_micronats, n_terms_hit, rnk FROM r
           |WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin
      }),

    QueryDef("token_budget_trim",
      // best-first selection under a global token budget: the oracle is the
      // straightforward global-window cumsum; the engine computes the SAME
      // running total via quantile buckets + literal offsets (no global
      // window — integer token sums make the equivalence exact)
      (s, dir) => {
        val scored = TextAnalysis.qualityMetrics(Tables.documents(s, dir))
          .withColumn("quality_score", TextAnalysis.qualityScore())
        graft.functions.Sampling.budgetTrim(scored, "doc_id", "quality_score",
            "n_tokens", budget = 10000L)
          .select("doc_id", "quality_score", "n_tokens", "cum_tokens")
          .orderBy("doc_id")
      },
      Some {
        val en = TextAnalysis.Langs.head._2.map("'" + _ + "'").mkString(",")
        s"""WITH q AS (
           |  SELECT doc_id,
           |    len(string_split(text,' ')) AS n_tokens,
           |    len(list_distinct(string_split(text,' '))) AS n_uniq_tokens,
           |    len(list_intersect(string_split(text,' '), [$en])) AS n_stop,
           |    length(text) AS n_chars
           |  FROM documents),
           |m AS (
           |  SELECT doc_id, n_tokens,
           |    (CAST(n_uniq_tokens AS DOUBLE) / n_tokens) * 0.5
           |      + (CAST(n_stop AS DOUBLE) / n_uniq_tokens) * 0.2
           |      + least((CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens) / 10.0, 1.0) * 0.3
           |      AS quality_score
           |  FROM q),
           |r AS (
           |  SELECT doc_id, quality_score, n_tokens,
           |    CAST(sum(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
           |  FROM m)
           |SELECT doc_id, quality_score, CAST(n_tokens AS INT) AS n_tokens, cum_tokens
           |FROM r WHERE cum_tokens <= 10000 ORDER BY doc_id""".stripMargin
      }),

    QueryDef("token_budget_per_lang",
      // the mixture builder's real contract — best-first selection under
      // PER-LANGUAGE token budgets (en 4000 / zh 2500 / rest 1500): same
      // windowless bucketed cumsum, per-(lang, bucket) offsets from a
      // broadcast metadata table; oracle is the per-lang global window
      (s, dir) => {
        val scored = TextAnalysis.qualityMetrics(Tables.documents(s, dir))
          .withColumn("quality_score", TextAnalysis.qualityScore())
        graft.functions.Sampling.budgetTrimPerStratum(scored, "doc_id",
            "quality_score", "n_tokens", "lang",
            budgets = Map("en" -> 4000L, "zh" -> 2500L),
            defaultBudget = 1500L)
          .select("doc_id", "lang", "quality_score", "n_tokens", "cum_tokens")
          .orderBy("doc_id")
      },
      Some {
        val en = TextAnalysis.Langs.head._2.map("'" + _ + "'").mkString(",")
        s"""WITH q AS (
           |  SELECT doc_id, lang,
           |    len(string_split(text,' ')) AS n_tokens,
           |    len(list_distinct(string_split(text,' '))) AS n_uniq_tokens,
           |    len(list_intersect(string_split(text,' '), [$en])) AS n_stop,
           |    length(text) AS n_chars
           |  FROM documents),
           |m AS (
           |  SELECT doc_id, lang, n_tokens,
           |    (CAST(n_uniq_tokens AS DOUBLE) / n_tokens) * 0.5
           |      + (CAST(n_stop AS DOUBLE) / n_uniq_tokens) * 0.2
           |      + least((CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens) / 10.0, 1.0) * 0.3
           |      AS quality_score
           |  FROM q),
           |r AS (
           |  SELECT doc_id, lang, quality_score, n_tokens,
           |    CAST(sum(n_tokens) OVER (PARTITION BY lang
           |      ORDER BY quality_score DESC, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
           |  FROM m)
           |SELECT doc_id, lang, quality_score, CAST(n_tokens AS INT) AS n_tokens, cum_tokens
           |FROM r WHERE cum_tokens <= CASE lang WHEN 'en' THEN 4000
           |                                     WHEN 'zh' THEN 2500
           |                                     ELSE 1500 END
           |ORDER BY doc_id""".stripMargin
      }),

    QueryDef("dedup_ngram_jaccard",
      // exact all-pairs Jaccard, blocked by source to bound the quadratic
      (s, dir) => Dedup.jaccardPairs(Tables.documents(s, dir),
          "doc_id", "text", blockCol = "source", k = 3, threshold = 0.3)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH d AS (SELECT doc_id, source, $ShinglesSql AS sh FROM documents)
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |         / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
              |FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
              |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |         / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.3
              |ORDER BY id_a, id_b""".stripMargin)),

    QueryDef("dedup_containment",
      // directional shingle containment |A∩B|/|A| — catches a short doc
      // embedded in a long one where symmetric jaccard stays low
      (s, dir) => Dedup.containmentPairs(Tables.documents(s, dir),
          "doc_id", "text", blockCol = "source", k = 3, threshold = 0.5)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH d AS (SELECT doc_id, source, $ShinglesSql AS sh FROM documents)
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) AS containment
              |FROM d a JOIN d b ON a.source = b.source AND a.doc_id != b.doc_id
              |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) >= 0.5
              |ORDER BY id_a, id_b""".stripMargin)),

    QueryDef("decontaminate",
      // benchmark decontamination report: corpus docs sharing any 5-gram
      // with the benchmark slice (doc_id % 20 = 0), with the count of
      // distinct shared grams; the corpus side never shuffles (broadcast)
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val bench = docs.filter(col("doc_id") % 20 === 0)
        graft.functions.Decontam.overlaps(docs, "doc_id", "text",
            bench, "doc_id", "text", k = 5)
          .orderBy("doc_id")
      },
      Some(s"""WITH sh AS (SELECT doc_id, $Shingles5Sql AS shl FROM documents),
              |e AS (SELECT doc_id, unnest(shl) AS gram FROM sh),
              |bench AS (SELECT DISTINCT gram FROM e WHERE doc_id % 20 = 0)
              |SELECT e.doc_id, count(*) AS n_shared_grams
              |FROM e JOIN bench USING (gram)
              |WHERE e.doc_id % 20 != 0
              |GROUP BY e.doc_id ORDER BY doc_id""".stripMargin)),

    QueryDef("decontam_chargrams",
      // char-level decontamination (the GPT-3/PaLM appendix check,
      // tokenization-insensitive): 30-char grams, corpus START POSITIONS
      // sampled at stride 7 (detection guaranteed for shared regions
      // >= k + stride - 1 chars since the bench side enumerates every
      // position), bench grams broadcast, corpus never shuffles
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val bench = docs.filter(col("doc_id") % 20 === 0)
        graft.functions.Decontam.overlapsCharGrams(docs, "doc_id", "text",
            bench, "doc_id", "text", k = 30, stride = 7)
          .orderBy("doc_id")
      },
      Some("""WITH b AS (SELECT DISTINCT unnest(list_transform(
             |    generate_series(1, greatest(length(text) - 29, 1)),
             |    i -> substr(text, CAST(i AS INT), 30))) AS gram
             |  FROM documents WHERE doc_id % 20 = 0),
             |c AS (SELECT doc_id, unnest(list_distinct(list_transform(
             |    generate_series(1, greatest(length(text) - 29, 1), 7),
             |    i -> substr(text, CAST(i AS INT), 30)))) AS gram
             |  FROM documents WHERE doc_id % 20 <> 0)
             |SELECT doc_id, count(*) AS n_shared_chargrams
             |FROM c JOIN b USING (gram)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QueryDef("decontaminate_corpus",
      // the decontaminated corpus itself: drop every doc flagged above
      // (benchmark members stay — dropping them is a separate policy)
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val bench = docs.filter(col("doc_id") % 20 === 0)
        graft.functions.Decontam.survivors(docs, "doc_id", "text",
            bench, "doc_id", "text", k = 5)
          .select("doc_id", "lang", "source", "n_chars")
          .orderBy("doc_id")
      },
      Some(s"""WITH sh AS (SELECT doc_id, $Shingles5Sql AS shl FROM documents),
              |e AS (SELECT doc_id, unnest(shl) AS gram FROM sh),
              |bench AS (SELECT DISTINCT gram FROM e WHERE doc_id % 20 = 0),
              |hit AS (SELECT DISTINCT e.doc_id FROM e JOIN bench USING (gram)
              |        WHERE e.doc_id % 20 != 0)
              |SELECT doc_id, lang, source, n_chars FROM documents
              |WHERE doc_id NOT IN (SELECT doc_id FROM hit)
              |ORDER BY doc_id""".stripMargin)),

    QueryDef("decontaminate_bloom",
      // the Bloom-prefiltered decontamination path: a sketch over the
      // benchmark grams drops ~all clean corpus grams BEFORE the exact
      // verify join. Bloom filters have no false negatives and every
      // surviving gram is exact-string-verified, so the report is
      // row-identical to `decontaminate` — the oracle is literally the
      // same SQL, which is the point: the sketch changes the plan, not
      // the answer
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val bench = docs.filter(col("doc_id") % 20 === 0)
        graft.functions.Decontam.overlapsBloom(docs, "doc_id", "text",
            bench, "doc_id", "text", k = 5)
          .orderBy("doc_id")
      },
      Some(s"""WITH sh AS (SELECT doc_id, $Shingles5Sql AS shl FROM documents),
              |e AS (SELECT doc_id, unnest(shl) AS gram FROM sh),
              |bench AS (SELECT DISTINCT gram FROM e WHERE doc_id % 20 = 0)
              |SELECT e.doc_id, count(*) AS n_shared_grams
              |FROM e JOIN bench USING (gram)
              |WHERE e.doc_id % 20 != 0
              |GROUP BY e.doc_id ORDER BY doc_id""".stripMargin)),

    QueryDef("decontaminate_bench_report",
      // the eval-integrity view: per benchmark doc, how many corpus docs
      // it leaked into and how many of its grams leak — a heavily-leaked
      // eval item is compromised regardless of corpus cleaning
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val bench = docs.filter(col("doc_id") % 20 === 0)
        graft.functions.Decontam.benchReport(docs, "doc_id", "text",
            bench, "doc_id", "text", k = 5)
          .orderBy("bench_id")
      },
      Some(s"""WITH sh AS (SELECT doc_id, $Shingles5Sql AS shl FROM documents),
              |e AS (SELECT DISTINCT doc_id, unnest(shl) AS gram FROM sh),
              |bench AS (SELECT doc_id AS bench_id, gram FROM e WHERE doc_id % 20 = 0)
              |SELECT b.bench_id,
              |       count(DISTINCT e.doc_id) AS n_contaminated_docs,
              |       count(DISTINCT b.gram) AS n_leaked_grams
              |FROM e JOIN bench b USING (gram)
              |WHERE e.doc_id % 20 != 0
              |GROUP BY b.bench_id ORDER BY bench_id""".stripMargin)),

    QueryDef("dedup_cluster_sizes",
      // corpus-health census: histogram of near-dup cluster sizes (how
      // much of the corpus is singletons vs 2-cliques vs jumbo clusters);
      // oracle recomputes pairs, the RECURSIVE components, and the census
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text",
          k = 3, numHashes = 16, threshold = 0.8)
        Dedup.connectedComponents(docs, "doc_id", pairs)
          .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
          .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
          .select(col("sz").as("cluster_size"), col("n_clusters"))
          .orderBy("cluster_size")
      },
      Some(s"""WITH RECURSIVE sh AS (
              |  SELECT doc_id, unnest($ShinglesSql) AS sh
              |  FROM documents),
              |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |jp AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              |  FROM sh a JOIN sh b USING (sh) WHERE a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |good AS (
              |  SELECT id_a, id_b FROM jp
              |  JOIN sizes sa ON sa.doc_id = id_a
              |  JOIN sizes sb ON sb.doc_id = id_b
              |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8),
              |edges AS (SELECT id_a AS src, id_b AS dst FROM good
              |          UNION ALL SELECT id_b, id_a FROM good),
              |reach(id, lbl) AS (
              |  SELECT doc_id, doc_id FROM documents
              |  UNION
              |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
              |clus AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
              |cs AS (SELECT cluster_id, count(*) AS sz FROM clus GROUP BY cluster_id)
              |SELECT sz AS cluster_size, count(*) AS n_clusters
              |FROM cs GROUP BY sz ORDER BY cluster_size""".stripMargin)),

    QueryDef("graph_pagerank",
      // centrality over the near-dup graph: which documents anchor the big
      // duplicate neighborhoods (the review-priority ranking for survivor
      // policies). Integer power iteration — every round recomputed in SQL,
      // including the exact-Jaccard edge rebuild the cluster gates share.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text",
          k = 3, numHashes = 16, threshold = 0.8)
        Graphs.pageRank(docs, "doc_id", pairs, iterations = 3)
          .orderBy("doc_id")
      },
      Some(s"""WITH sh AS (
              |  SELECT doc_id, unnest($ShinglesSql) AS sh
              |  FROM documents),
              |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |jp AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              |  FROM sh a JOIN sh b USING (sh) WHERE a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |good AS (
              |  SELECT id_a, id_b FROM jp
              |  JOIN sizes sa ON sa.doc_id = id_a
              |  JOIN sizes sb ON sb.doc_id = id_b
              |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8),
              |${Graphs.pageRankOracleSql("documents", "doc_id", "good", iterations = 3)}
              |SELECT id AS doc_id, CAST(rank AS BIGINT) AS rank_nano FROM r3 ORDER BY doc_id""".stripMargin)),

    QueryDef("dedup_simhash",
      // md5-u64 token hash on purpose: DuckDB recomputes every signature
      // from scratch (split -> md5 -> bit votes -> signed pack), so the gate
      // hash-compares real independently-derived values
      (s, dir) => Dedup.simhash(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH $simhashSigsSql
              |SELECT doc_id, simhash FROM sigs ORDER BY doc_id""".stripMargin)),

    QueryDef("dedup_simhash_pairs",
      // chunk-LSH with maxDist+1 chunks is EXACT by pigeonhole, so the
      // oracle's all-pairs hamming join over recomputed signatures must
      // match row-for-row
      (s, dir) => Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text",
          maxDist = 3)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH $simhashSigsSql
              |SELECT id_a, id_b, hamming FROM (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |         CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
              |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id)
              |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin)),

    QueryDef("dedup_simhash_groups",
      // the clique-safe simhash contract: one row per distinct signature
      // (min id survives, multiplicity counted) — the pair form's output
      // is quadratic per exact-dup clique by definition; this is the form
      // a 100 TB dedup actually materializes. Oracle recomputes every
      // signature and the grouping from scratch
      (s, dir) => Dedup.simhashGroups(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("simhash"),
      Some(s"""WITH $simhashSigsSql
              |SELECT simhash, min(doc_id) AS keep_id, count(*) AS n_members
              |FROM sigs GROUP BY simhash ORDER BY simhash""".stripMargin)),

    // ---- similarity search ----
    QueryDef("cosine_topk",
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

    QueryDef("diverse_topk_mmr",
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

    QueryDef("cosine_topk_quantized",
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

    QueryDef("ann_ivf_topk",
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

    QueryDef("ann_pq_topk",
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

    QueryDef("ann_ivfpq_topk",
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

    QueryDef("embedding_label_centroids",
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

    QueryDef("text_hash_embed",
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

    QueryDef("ann_ivfpq_residual_topk",
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

    QueryDef("hard_negatives",
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

    QueryDef("rp_project",
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

    QueryDef("bitext_margin_mine",
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

    QueryDef("ann_rerank_topk",
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

    QueryDef("matryoshka_recall",
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

    QueryDef("pca_project",
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

    QueryDef("pca_whiten",
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

    QueryDef("embedding_near_dup_lsh",
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

    QueryDef("semantic_dedup",
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

    QueryDef("embedding_outliers",
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

    QueryDef("semantic_dedup_central",
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

    QueryDef("semantic_dedup_incremental",
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

    // ---- multimodal ----
    QueryDef("multimodal_meta",
      (s, dir) => Multimodal.attachBinary(Tables.documents(s, dir))
        .select(col("doc_id"), col("media_meta.format").as("format"),
          col("media_meta.byte_len").as("byte_len"),
          col("media_meta.width").as("width"),
          col("media_meta.height").as("height"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, 'fake/raw' AS format,
             |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
             |  CAST(octet_length(encode(text)) % 640 AS INT) AS width,
             |  CAST(octet_length(encode(text)) % 480 AS INT) AS height
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("multimodal_frames",
      (s, dir) => Multimodal.sampleFrames(
          Multimodal.attachBinary(Tables.documents(s, dir)),
          frameBytes = 64, everyNth = 4)
        .select(col("doc_id"), col("frame_idx"),
          length(col("frame_bytes")).as("frame_len"))
        .orderBy("doc_id", "frame_idx"),
      Some("""WITH d AS (SELECT doc_id, octet_length(encode(text)) AS bl FROM documents),
             |f AS (SELECT doc_id, bl,
             |        unnest(generate_series(0, greatest(CAST(floor(bl / 256) AS INT), 1) - 1)) AS frame_idx
             |      FROM d)
             |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
             |       CAST(least(64, greatest(bl - frame_idx * 256, 0)) AS INT) AS frame_len
             |FROM f ORDER BY doc_id, frame_idx""".stripMargin)),

    QueryDef("multimodal_resize",
      (s, dir) => Multimodal.resizeStub(
          Multimodal.attachBinary(Tables.documents(s, dir)), 320, 240)
        .select(col("doc_id"),
          col("resized_meta.byte_len").as("r_len"),
          col("resized_meta.width").as("r_w"),
          col("resized_meta.height").as("r_h"),
          length(col("resized_payload")).as("payload_len"))
        .orderBy("doc_id"),
      Some("""WITH m AS (
             |  SELECT doc_id, octet_length(encode(text)) AS bl,
             |         octet_length(encode(text)) % 640 AS w,
             |         octet_length(encode(text)) % 480 AS h
             |  FROM documents),
             |s AS (
             |  SELECT doc_id, bl, w, h,
             |         least(CASE WHEN w > 0 THEN floor(320000 / w) ELSE 1000 END,
             |               CASE WHEN h > 0 THEN floor(240000 / h) ELSE 1000 END,
             |               1000) AS scale_mil
             |  FROM m)
             |SELECT doc_id,
             |       CAST(floor(bl * scale_mil / 1000) AS BIGINT) AS r_len,
             |       CAST(floor(w * scale_mil / 1000) AS INT) AS r_w,
             |       CAST(floor(h * scale_mil / 1000) AS INT) AS r_h,
             |       CAST(least(CAST(floor(bl * scale_mil / 1000) AS BIGINT), bl) AS INT) AS payload_len
             |FROM s ORDER BY doc_id""".stripMargin)),

    QueryDef("multimodal_decode",
      // Arrow-columnar decode seam (the production seat); ScalaTest pins it
      // row-identical to the row-wise mapDecode form
      (s, dir) => Multimodal.mapDecodeArrow(
          Multimodal.attachBinary(Tables.documents(s, dir)), "doc_id", "payload")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CASE WHEN length(text) = 0 THEN 0
             |       ELSE list_reduce(list_transform(regexp_extract_all(text, '.'),
             |              c -> CAST(unicode(c) AS BIGINT)), (a, b) -> a + b) END AS byte_sum,
             |  CAST(octet_length(encode(text)) AS INT) AS byte_len
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("multimodal_decode_real",
      // REAL codec round trip, zero new deps: deterministic grayscale PNGs
      // (w = 4+id%5, h = 4+id%7, pixel = (id*31 + x*7 + y*13) % 256) are
      // encoded by the JDK's real PNG writer into a parquet payload table
      // (bytes-in-parquet, the multimodal layout stance; staged once per
      // dir — fixture synthesis is not the operator) and decoded through
      // the partition-wise ImageIO seam; PNG is lossless, so the oracle can
      // predict every decoded sample from the id alone and recompute
      // width/height/pixel-sum without ever seeing the bytes
      (s, dir) => Multimodal.decodeImage(
          s.read.parquet(Artifacts.pngFixturePath(s, dir)), "doc_id", "png")
        .orderBy("doc_id"),
      Some("""WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS w, 4 + doc_id % 7 AS h
             |           FROM documents),
             |px AS (SELECT doc_id, w, h,
             |         unnest(generate_series(0, w * h - 1)) AS p FROM d)
             |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
             |  CAST(sum((doc_id * 31 + (p % w) * 7 + (p // w) * 13) % 256) AS BIGINT)
             |    AS pix_sum
             |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin)),

    QueryDef("multimodal_decode_audio",
      // REAL audio codec round trip (the WAV analogue of
      // multimodal_decode_real): deterministic 16-bit mono PCM payloads
      // (n = 8 + id%5 samples, sample(i) = (id*37 + i*101) % 2001 - 1000)
      // are written by the JDK's real WAV encoder into a parquet payload
      // table and decoded back through the partition-wise
      // javax.sound.sampled seam; PCM is lossless, so the oracle predicts
      // every decoded sample from the id alone
      (s, dir) => Multimodal.decodeAudio(
          s.read.parquet(Artifacts.wavFixturePath(s, dir)), "doc_id", "wav")
        .orderBy("doc_id"),
      Some("""WITH d AS (SELECT doc_id, 8 + doc_id % 5 AS n FROM documents),
             |sm AS (SELECT doc_id, n,
             |         unnest(generate_series(0, n - 1)) AS i FROM d)
             |SELECT doc_id, CAST(n AS INT) AS n_samples,
             |  CAST(sum((doc_id * 37 + i * 101) % 2001 - 1000) AS BIGINT)
             |    AS sample_sum,
             |  CAST(8000 AS INT) AS sample_rate
             |FROM sm GROUP BY doc_id, n ORDER BY doc_id""".stripMargin)),

    QueryDef("multimodal_features",
      // gate shape: the array is projected to scalar columns (driver's
      // pandas compare can't hash ndarray cells); the array form is pinned
      // by ScalaTest. Feature arithmetic is the rolling-hash fingerprint
      // scaled per index — exactly recomputable in the oracle.
      (s, dir) => Multimodal.fakeDecodeFeatures(
          Multimodal.attachBinary(Tables.documents(s, dir)))
        .select(col("doc_id") +:
          (0 until 8).map(j => col("features")(j).as(s"f$j")): _*)
        .orderBy("doc_id"),
      Some {
        val fp = """CASE WHEN length(text) = 0 THEN 0
                   |       ELSE list_reduce(list_transform(regexp_extract_all(text, '.'),
                   |              c -> CAST(unicode(c) AS BIGINT)),
                   |            (a, b) -> (a * 31 + b) % 1000000007) END""".stripMargin
        val feats = (0 until 8).map(j =>
          s"CAST((fp * ${j + 1}) % 1000 AS DOUBLE) / 1000.0 AS f$j").mkString(",\n  ")
        s"""WITH d AS (SELECT doc_id, $fp AS fp FROM documents)
           |SELECT doc_id,
           |  $feats
           |FROM d ORDER BY doc_id""".stripMargin
      }),

    // ---- round 8: sketches, time-decay features, phrase search ----

    QueryDef("approx_distinct_hll",
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

    QueryDef("hll_merge_parity",
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

    QueryDef("events_ewma_decay",
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

    QueryDef("phrase_search_positional",
      // exact phrase search as an inverted-index join: each term's
      // postings are pruned BEFORE the shuffle, the k lists hash-join on
      // (doc, aligned start) — work scales with the phrase's posting
      // lists, never the corpus
      (s, dir) => TextAnalysis.phraseSearch(Tables.documents(s, dir),
          "doc_id", "text", Seq("table", "scan"))
        .orderBy("doc_id", "start"),
      Some("""WITH s AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |p AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM s)
             |SELECT doc_id, CAST(i - 1 AS INT) AS start
             |FROM p
             |WHERE tk[i] = 'table' AND i + 1 <= len(tk) AND tk[i + 1] = 'scan'
             |ORDER BY doc_id, start""".stripMargin)),

    QueryDef("recipe_pretrain_funnel",
      // the flagship composition: lang gate -> Gopher quality -> exact
      // dedup -> benchmark decontam -> deterministic sample -> token
      // budget, all stage flags fused into ONE corpus scan + one digest
      // window + a survivors-only gram probe; output is the per-source
      // funnel a data team reviews before a training run. The oracle
      // replays every stage from raw text.
      (s, dir) => graft.functions.Recipe.pretrainFunnel(
          Tables.documents(s, dir))
        .orderBy("source"),
      Some {
        s"""WITH $recipeStageCtes
           |SELECT source, count(*) AS n_raw,
           |  CAST(sum(CASE WHEN lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
           |  CAST(sum(CASE WHEN surv_q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
           |  CAST(sum(CASE WHEN surv_d THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
           |  CAST(sum(CASE WHEN surv_c THEN 1 ELSE 0 END) AS BIGINT) AS n_decontam,
           |  CAST(sum(CASE WHEN surv_s THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           |  CAST(sum(CASE WHEN surv_s THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_final
           |FROM s4 GROUP BY source ORDER BY source""".stripMargin
      }),

    QueryDef("recipe_rejection_samples",
      // the funnel's debugging view: per (source, FIRST failed stage) the
      // doc count and the smallest doc id as a reproducible example —
      // every doc lands in exactly one reason bucket, so the census
      // reconciles with the funnel's stage deltas; same single-scan flag
      // plan, one (source, reason) aggregate
      (s, dir) => graft.functions.Recipe.rejectionSamples(
          Tables.documents(s, dir))
        .orderBy("source", "reason"),
      Some {
        s"""WITH $recipeStageCtes,
           |r AS (
           |  SELECT source, doc_id,
           |    CASE WHEN NOT lang_ok THEN 'lang'
           |         WHEN NOT gopher_ok THEN 'quality:' || first_failed
           |         WHEN NOT surv_d THEN 'duplicate'
           |         WHEN NOT surv_c THEN 'contaminated'
           |         WHEN NOT surv_s THEN 'sampled_out'
           |         ELSE 'kept' END AS reason
           |  FROM s4)
           |SELECT source, reason, CAST(count(*) AS BIGINT) AS n_docs,
           |  min(doc_id) AS example_id
           |FROM r GROUP BY source, reason ORDER BY source, reason""".stripMargin
      }),

    QueryDef("kmv_distinct_grams",
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

    QueryDef("kmv_source_setops",
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

    QueryDef("events_funnel_steps",
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

    QueryDef("hll_rollup_range",
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

    QueryDef("lsh_recall_report",
      // measured (not theoretical) LSH quality: candidate pairs from
      // md5-family MinHash banding vs exact inverted-index Jaccard pairs
      // at 0.8, as integer-permille recall/precision — the evaluation
      // that justifies a banding config before a 100 TB dedup run. The
      // oracle replays shingles, every signature minimum, the banding,
      // the exact pair set, and both ratios.
      (s, dir) => Dedup.lshRecallReport(Tables.documents(s, dir),
          "doc_id", "text", k = 3, numHashes = 8, bandRows = 2,
          threshold = 0.8),
      Some {
        val coeffs = Dedup.minhashCoeffs(8)
        val h32 = """list_reduce(list_transform(
          |      regexp_extract_all(substr(md5(s), 25, 8), '.'),
          |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16 + b)"""
          .stripMargin
        val perIdx = coeffs.zipWithIndex.map { case ((a, b), i) =>
          s"SELECT doc_id, $i AS hash_idx, min(($a * h + $b) % 2147483647) AS sig FROM h GROUP BY doc_id"
        }.mkString("\n  UNION ALL ")
        s"""WITH sh AS MATERIALIZED (
           |  SELECT doc_id, unnest($ShinglesSql) AS sh FROM documents),
           |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           |ip AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
           |  FROM sh a JOIN sh b USING (sh) WHERE a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |ex AS MATERIALIZED (
           |  SELECT id_a, id_b FROM ip
           |  JOIN sizes sa ON sa.doc_id = id_a
           |  JOIN sizes sb ON sb.doc_id = id_b
           |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8),
           |h AS MATERIALIZED (
           |  SELECT doc_id, ($h32 % 2147483647) AS h
           |  FROM (SELECT doc_id, sh AS s FROM sh)),
           |sig AS (SELECT doc_id, hash_idx, sig FROM (
           |  $perIdx)),
           |band AS MATERIALIZED (
           |  SELECT doc_id, hash_idx // 2 AS band,
           |    max(CASE WHEN hash_idx % 2 = 0 THEN sig END) AS s0,
           |    max(CASE WHEN hash_idx % 2 = 1 THEN sig END) AS s1
           |  FROM sig GROUP BY doc_id, hash_idx // 2),
           |cand AS MATERIALIZED (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM band a JOIN band b
           |    ON a.band = b.band AND a.s0 = b.s0 AND a.s1 = b.s1
           |  WHERE a.doc_id < b.doc_id),
           |tp AS (SELECT c.id_a, c.id_b FROM cand c
           |       JOIN ex ON ex.id_a = c.id_a AND ex.id_b = c.id_b),
           |cnt AS (SELECT
           |  (SELECT CAST(count(*) AS BIGINT) FROM ex) AS n_exact,
           |  (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
           |  (SELECT CAST(count(*) AS BIGINT) FROM tp) AS n_true_pos)
           |SELECT n_exact, n_candidates, n_true_pos,
           |  CAST(CASE WHEN n_exact = 0 THEN 0
           |       ELSE n_true_pos * 1000 // n_exact END AS BIGINT)
           |    AS recall_permille,
           |  CAST(CASE WHEN n_candidates = 0 THEN 0
           |       ELSE n_true_pos * 1000 // n_candidates END AS BIGINT)
           |    AS precision_permille
           |FROM cnt""".stripMargin
      }),

    QueryDef("skew_salting_advisor",
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

    QueryDef("join_size_sketch",
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

    QueryDef("quantile_sketch_prices",
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

    QueryDef("quantile_sketch_merge_parity",
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

    QueryDef("hybrid_search_rrf",
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

    QueryDef("quantile_rollup_range",
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

    QueryDef("k_anonymity_census",
      // release-readiness privacy check: equivalence classes of the
      // quasi-identifier set (nation, market segment), then a census of
      // CLASS SIZES with the at-risk flag (size < k=10 — rows
      // re-identifiable from the QIs alone). Two partial-aggregable
      // shuffles, count-of-counts shape — nothing row-sized anywhere
      (s, dir) => graft.functions.Stats.kAnonymityCensus(
          Tables.customer(s, dir), Seq("c_nationkey", "c_mktsegment"), k = 10)
        .orderBy("class_size"),
      Some("""WITH c AS (
             |  SELECT c_nationkey, c_mktsegment, count(*) AS class_size
             |  FROM customer GROUP BY 1, 2)
             |SELECT CAST(class_size AS BIGINT) AS class_size,
             |  CAST(count(*) AS BIGINT) AS n_classes,
             |  CAST(sum(class_size) AS BIGINT) AS n_rows,
             |  CAST(CASE WHEN class_size < 10 THEN 1 ELSE 0 END AS INT)
             |    AS at_risk
             |FROM c GROUP BY class_size ORDER BY class_size""".stripMargin)),

    QueryDef("quantile_rank_sketch",
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

    QueryDef("range_partition_advisor",
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

    QueryDef("events_rolling_distinct",
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

    QueryDef("events_rolling_distinct_hll",
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

    QueryDef("events_cusum_changepoint",
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

    QueryDef("image_dhash_near_dup",
      // image near-duplicate detection via perceptual hash: every PNG is
      // REALLY decoded (ImageIO), dHash'd on a deterministic 8x8
      // integer-floor grid (56 bits of row-wise brightness gradients),
      // and pairs come from four 14-bit block-keyed equi-joins — the
      // Manku pigeonhole in relational form: hamming <= 3 pairs MUST
      // share a block, so recall is exact and the n^2 cross join never
      // happens. Only candidates pay bit_count(xor). The fixture's PNGs
      // are lossless and id-predictable, so the oracle recomputes hash,
      // blocks, candidates, and hamming without seeing a byte
      (s, dir) => Multimodal.dhashNearDupPairs(
          Multimodal.imageDHash(
            s.read.parquet(Artifacts.pngFixturePath(s, dir)), "doc_id", "png"),
          "doc_id", maxHamming = 3)
        .orderBy("id_a", "id_b"),
      Some("""WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS w, 4 + doc_id % 7 AS h
             |           FROM documents),
             |g AS (SELECT doc_id, w, h,
             |        unnest(generate_series(0, 55)) AS b FROM d),
             |bits AS (SELECT doc_id,
             |    CASE WHEN
             |      (doc_id*31 + (((b % 7) + 1) * w // 8) * 7
             |        + ((b // 7) * h // 8) * 13) % 256
             |      > (doc_id*31 + ((b % 7) * w // 8) * 7
             |        + ((b // 7) * h // 8) * 13) % 256
             |    THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END AS bit
             |  FROM g),
             |hs AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS dhash
             |       FROM bits GROUP BY 1),
             |blk AS (SELECT doc_id, dhash,
             |          unnest(generate_series(0, 3)) AS t FROM hs),
             |b2 AS (SELECT doc_id, dhash, t,
             |         (dhash >> (14 * t)) & 16383 AS blockv FROM blk),
             |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             |           a.dhash AS ha, b.dhash AS hb
             |  FROM b2 a JOIN b2 b ON a.t = b.t AND a.blockv = b.blockv
             |    AND a.doc_id < b.doc_id)
             |SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
             |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
             |ORDER BY id_a, id_b""".stripMargin)),

    QueryDef("session_paths",
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

    QueryDef("retrieval_mrr",
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

    QueryDef("mad_outliers",
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

    QueryDef("corr_value_hour",
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

    QueryDef("image_dhash_incremental",
      // the nightly-ingest seat of image dedup: the new batch
      // (doc_id % 7 = 0) is the ONLY thing decoded — its signatures probe
      // the persisted corpus signature index (built offline, 16 bytes a
      // row) through the same exact-recall block pigeonhole. The oracle
      // can brute the cross set precisely BECAUSE recall is exact: block
      // candidates == all hamming <= 3 pairs by construction
      (s, dir) => Multimodal.dhashAgainstIndex(
          Multimodal.imageDHash(
            s.read.parquet(Artifacts.pngFixturePath(s, dir))
              .filter(col("doc_id") % 7 === 0), "doc_id", "png"),
          s.read.parquet(Artifacts.dhashIndexPath(s, dir)), "doc_id", maxHamming = 3)
        .orderBy("id_new", "id_corp"),
      Some("""WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS w, 4 + doc_id % 7 AS h
             |           FROM documents),
             |g AS (SELECT doc_id, w, h,
             |        unnest(generate_series(0, 55)) AS b FROM d),
             |bits AS (SELECT doc_id,
             |    CASE WHEN
             |      (doc_id*31 + (((b % 7) + 1) * w // 8) * 7
             |        + ((b // 7) * h // 8) * 13) % 256
             |      > (doc_id*31 + ((b % 7) * w // 8) * 7
             |        + ((b // 7) * h // 8) * 13) % 256
             |    THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END AS bit
             |  FROM g),
             |hs AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS dhash
             |       FROM bits GROUP BY 1)
             |SELECT a.doc_id AS id_new, b.doc_id AS id_corp,
             |  CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
             |FROM hs a JOIN hs b
             |  ON a.doc_id % 7 = 0 AND b.doc_id % 7 != 0
             |  AND bit_count(xor(a.dhash, b.dhash)) <= 3
             |ORDER BY id_new, id_corp""".stripMargin)),

    QueryDef("hll_rollup_rolling",
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

    QueryDef("hll_rolling_sparse",
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

    QueryDef("boilerplate_ngrams",
      // cross-document boilerplate census (the C4/RefinedWeb removal
      // read): 5-grams ranked by DISTINCT-document frequency — shared
      // chrome/footer templates surface at the top. One gram-keyed
      // shuffle + TakeOrdered top-50
      (s, dir) => TextAnalysis.boilerplateNgrams(
          Tables.documents(s, dir), "doc_id", "text"),
      Some("""WITH tk AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS t
             |  FROM documents),
             |g AS (SELECT doc_id, array_to_string(t[i:i+4], ' ') AS gram
             |      FROM tk,
             |        unnest(generate_series(1, len(t) - 4)) AS u(i)
             |      WHERE len(t) >= 5)
             |SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             |  CAST(count(*) AS BIGINT) AS n_occurrences
             |FROM g GROUP BY gram
             |ORDER BY n_docs DESC, gram LIMIT 50""".stripMargin)),

    QueryDef("events_daily_trend",
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

    QueryDef("sample_ess_report",
      // Kish effective-sample-size diagnostics per source with token-mass
      // weights (n_chars): ess_ppm = (Σw)²·1e6 / (n·Σw²) — 1e6 means
      // uniform mass; small means a few heavy docs dominate the sampled
      // mixture. One partial-aggregable pass, exact integer arithmetic
      (s, dir) => graft.functions.Sampling.essReport(
          Tables.documents(s, dir), "source", col("n_chars"))
        .orderBy("source"),
      Some("""SELECT source, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_w,
             |  CAST(sum(n_chars * n_chars) AS BIGINT) AS sum_w2,
             |  CAST(CASE WHEN sum(n_chars * n_chars) = 0 THEN 0
             |    ELSE CAST(sum(n_chars) AS HUGEINT) * sum(n_chars)
             |         * 1000000
             |         // (CAST(count(*) AS HUGEINT)
             |            * sum(n_chars * n_chars)) END AS BIGINT)
             |    AS ess_ppm
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    QueryDef("event_next_markov_accuracy",
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

    QueryDef("dedup_soft_weights",
      // loss-free dedup: every copy keeps weight 1/cluster_size ppm so a
      // duplicate cluster contributes one effective training copy while
      // provenance survives — one content-hash exchange, the count rides
      // a partitioned window over it
      (s, dir) => graft.functions.Dedup.softWeights(
          Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT)
             |    AS cluster_size,
             |  CAST(1000000 // (count(*) OVER (PARTITION BY md5(text)))
             |    AS BIGINT) AS weight_ppm
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("seq_span_corrupt",
      // T5/UL2 span-corruption masking census: deterministic ~5% span
      // starts (md5-slice hash of doc#pos), spans of 3, overlapping runs
      // merge to one sentinel; per-doc buffer-sizing numbers. Two per-doc
      // windows + one rollup — no self-join, no global window
      (s, dir) => TextAnalysis.spanCorruptCensus(
          Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH tk AS (
              |  SELECT doc_id,
              |    list_filter(string_split(text, ' '), x -> x <> '') AS t
              |  FROM documents),
              |pos AS (SELECT doc_id,
              |          unnest(generate_series(1, len(t))) AS p FROM tk),
              |st AS (SELECT doc_id, p,
              |    (${md5SliceSql(
                     "CAST(doc_id AS VARCHAR) || '#' || CAST(p AS VARCHAR)")}
              |     % 20 = 0) AS start
              |  FROM pos),
              |mk AS (SELECT doc_id, p, start,
              |    max(CASE WHEN start THEN 1 ELSE 0 END) OVER
              |      (PARTITION BY doc_id ORDER BY p
              |       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) = 1
              |      AS masked
              |  FROM st),
              |rs AS (SELECT doc_id, start, masked,
              |    masked AND coalesce(NOT lag(masked) OVER
              |      (PARTITION BY doc_id ORDER BY p), TRUE) AS run_start
              |  FROM mk)
              |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
              |  CAST(sum(CASE WHEN start THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_span_starts,
              |  CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_masked,
              |  CAST(sum(CASE WHEN run_start THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_sentinels,
              |  CAST(count(*) - sum(CASE WHEN masked THEN 1 ELSE 0 END)
              |    + sum(CASE WHEN run_start THEN 1 ELSE 0 END) AS BIGINT)
              |    AS packed_len
              |FROM rs GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QueryDef("events_freshness",
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

    QueryDef("classifier_calibration",
      // reliability-diagram bins for the quality classifier vs the weak
      // lang='en' label: fixed 20k-micronat bins (shifted
      // truncating division — engine-identical binning), exact support /
      // positives / pos-rate-ppm / score sums per bin — the monotonicity
      // read that says whether the score is a probability or just a
      // ranking. Bin key space is metadata-sized
      (s, dir) => {
        val scored = graft.functions.Classifier.linearScore(
            Tables.documents(s, dir), "doc_id", "text", dim = 64,
            keep = Seq("lang"))
          .withColumn("y", col("lang") === "en")
        graft.functions.Classifier.calibrationBins(
            scored, "score_micronats", "y", binWidth = 20000L)
          .orderBy("bin")
      },
      Some(s"""WITH $classifierScoreCteSql,
              |b AS (SELECT (score_micronats + 1000000) // 20000 AS bin,
              |        score_micronats AS s, (lang = 'en') AS y
              |      FROM d JOIN documents USING (doc_id))
              |SELECT CAST(bin AS BIGINT) AS bin,
              |  CAST(count(*) AS BIGINT) AS n,
              |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_pos,
              |  CAST(sum(s) AS BIGINT) AS sum_score,
              |  CAST(CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS HUGEINT)
              |    * 1000000 // count(*) AS BIGINT) AS pos_rate_ppm
              |FROM b GROUP BY bin ORDER BY bin""".stripMargin)),

    QueryDef("user_erasure_audit",
      // right-to-be-forgotten compliance: the erasure list (deletion
      // requests — request-sized, broadcast) probes the event log once;
      // per-day kept/removed row counts plus distinct subjects touched.
      // The deletion itself is the same broadcast probe anti-joined
      // (Stats.erase); this is the audit compliance files. The gate's
      // erasure list is every 97th user id
      (s, dir) => {
        val ev = Tables.events(s, dir)
        graft.functions.Stats.erasureAudit(ev, "ts", "user_id",
            ev.select(col("user_id")).filter(pmod(col("user_id"), lit(97)) === 0))
          .orderBy("day")
      },
      Some("""WITH u AS (
             |  SELECT DISTINCT user_id AS eu FROM events
             |  WHERE user_id % 97 = 0),
             |f AS (
             |  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             |    u.eu IS NOT NULL AS hit,
             |    CASE WHEN u.eu IS NOT NULL THEN e.user_id END AS hit_user
             |  FROM events e LEFT JOIN u ON e.user_id = u.eu)
             |SELECT day,
             |  CAST(sum(CASE WHEN NOT hit THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_kept,
             |  CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_removed,
             |  CAST(count(DISTINCT hit_user) AS BIGINT) AS n_users_erased
             |FROM f GROUP BY day ORDER BY day""".stripMargin)),

    QueryDef("attribution_last_touch",
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

    QueryDef("events_dow_seasonal",
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

    QueryDef("embedding_dim_drift",
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
             |ORDER BY abs(shift_micro) DESC, dim LIMIT 10""".stripMargin)),

    QueryDef("compaction_plan",
      // small-file compaction advisor: per source, files (documents stand
      // in: doc_id/n_chars) ordered size DESC then binned by cumulative
      // size at a 4 KB target — one row per planned output file. Window
      // partitioned by the group key (file censuses are per-partition
      // metadata); the rewrite job coalesces each bin
      (s, dir) => graft.sources.Layout.compactionPlan(
          Tables.documents(s, dir), "source", "doc_id", "n_chars",
          targetBytes = 4096L)
        .orderBy("source", "bin"),
      Some("""WITH f AS (
             |  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS sz,
             |    sum(CAST(n_chars AS BIGINT))
             |      OVER (PARTITION BY source
             |            ORDER BY n_chars DESC, doc_id
             |            ROWS BETWEEN UNBOUNDED PRECEDING
             |            AND CURRENT ROW) AS cum
             |  FROM documents)
             |SELECT source, CAST((cum - sz) // 4096 AS BIGINT) AS bin,
             |  CAST(count(*) AS BIGINT) AS n_files,
             |  CAST(sum(sz) AS BIGINT) AS bytes
             |FROM f GROUP BY 1, 2 ORDER BY source, bin""".stripMargin)),

    QueryDef("l_diversity_census",
      // the leak k-anonymity misses: a big class where everyone shares
      // the same sensitive value. Census of QI classes by their distinct
      // sensitive-value count with the < l at-risk flag; two partial-
      // aggregable shuffles, all-integer
      (s, dir) => graft.functions.Stats.lDiversityCensus(
          Tables.customer(s, dir), Seq("c_nationkey", "c_mktsegment"),
          "c_acctbal", l = 5)
        .orderBy("n_sensitive"),
      Some("""WITH c AS (
             |  SELECT c_nationkey, c_mktsegment, count(*) AS class_size,
             |    count(DISTINCT c_acctbal) AS n_sensitive
             |  FROM customer GROUP BY 1, 2)
             |SELECT CAST(n_sensitive AS BIGINT) AS n_sensitive,
             |  CAST(count(*) AS BIGINT) AS n_classes,
             |  CAST(sum(class_size) AS BIGINT) AS n_rows,
             |  CAST(CASE WHEN n_sensitive < 5 THEN 1 ELSE 0 END AS INT)
             |    AS at_risk
             |FROM c GROUP BY n_sensitive ORDER BY n_sensitive""".stripMargin)),

    QueryDef("funnel_conversion_latency",
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

    QueryDef("basket_pair_affinity",
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

    QueryDef("basket_rules",
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

    QueryDef("corpus_diversity_index",
      // data-mixing dashboard: Shannon entropy of each language's SOURCE
      // mix in micronats (quantize-then-sum, the perplexity family's
      // exactness discipline) — one source scores 0, an even k-way mix
      // scores ln k. Two partial-aggregable count shuffles
      (s, dir) => TextAnalysis.diversityIndex(
          Tables.documents(s, dir), "lang", "source")
        .orderBy("lang"),
      Some("""WITH cnt AS (
             |  SELECT lang, source, count(*) AS n
             |  FROM documents GROUP BY 1, 2),
             |agg AS (
             |  SELECT lang, CAST(count(*) AS BIGINT) AS n_items,
             |    CAST(sum(n) AS BIGINT) AS n_rows,
             |    CAST(sum(n * CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000 + 0.5)
             |      AS BIGINT)) AS BIGINT) AS s
             |  FROM cnt GROUP BY 1)
             |SELECT lang, n_items, n_rows,
             |  CAST(CAST(floor(ln(CAST(n_rows AS DOUBLE)) * 1000000 + 0.5)
             |       AS BIGINT) - (s // n_rows) AS BIGINT)
             |    AS entropy_micronats
             |FROM agg ORDER BY lang""".stripMargin)),

    QueryDef("source_concentration_gini",
      // the inequality companion to the entropy index: Gini of each
      // language's source mix in integer ppm (discrete ascending-rank
      // form, ties broken by source for engine parity); the count frame
      // is groups x items metadata so the rank window is bounded
      (s, dir) => TextAnalysis.concentrationGini(
          Tables.documents(s, dir), "lang", "source")
        .orderBy("lang"),
      Some("""WITH cnt AS (
             |  SELECT lang, source, count(*) AS n
             |  FROM documents GROUP BY 1, 2),
             |r AS (
             |  SELECT lang, n, row_number() OVER (
             |    PARTITION BY lang ORDER BY n, source) AS rk
             |  FROM cnt),
             |agg AS (
             |  SELECT lang, CAST(count(*) AS BIGINT) AS n_items,
             |    CAST(sum(n) AS BIGINT) AS n_rows,
             |    CAST(sum(rk * n) AS HUGEINT) AS rs
             |  FROM r GROUP BY 1)
             |SELECT lang, n_items, n_rows,
             |  CAST(((2 * rs - (n_items + 1) * CAST(n_rows AS HUGEINT))
             |        * 1000000)
             |    // (n_items * CAST(n_rows AS HUGEINT)) AS BIGINT)
             |    AS gini_ppm
             |FROM agg ORDER BY lang""".stripMargin)),

    QueryDef("token_zipf_slope",
      // corpus-QA audit: least-squares slope of quantized-log freq vs
      // quantized-log rank, HEAD-FIT over the top-4096 ranks (freq DESC,
      // token ASC — TakeOrdered, no global window; the fit itself is
      // declared-constant-bounded driver metadata math). Natural text
      // sits near -1e6 ppm; templated/spam corpora drift. Full-vocab
      // totals ride a separate windowless aggregate. The oracle applies
      // the identical top-4096 restriction (= the full vocabulary on
      // gate data)
      (s, dir) => TextAnalysis.zipfSlope(Tables.documents(s, dir), "text"),
      Some("""WITH tok AS (
             |  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
             |cnt AS (SELECT t, count(*) AS n FROM tok
             |        WHERE t <> '' GROUP BY 1),
             |tot AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_vocab,
             |    CAST(sum(n) AS BIGINT) AS n_token_occurrences
             |  FROM cnt),
             |rk AS (
             |  SELECT n, r FROM (
             |    SELECT n, row_number() OVER (ORDER BY n DESC, t) AS r
             |    FROM cnt) WHERE r <= 4096),
             |q AS (
             |  SELECT n,
             |    CAST(floor(ln(CAST(r AS DOUBLE)) * 1000000 + 0.5)
             |      AS BIGINT) AS x,
             |    CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000 + 0.5)
             |      AS BIGINT) AS y
             |  FROM rk),
             |m AS (
             |  SELECT CAST(count(*) AS BIGINT) AS k,
             |    CAST(sum(x) AS HUGEINT) AS sx,
             |    CAST(sum(y) AS HUGEINT) AS sy,
             |    CAST(sum(x * y) AS HUGEINT) AS sxy,
             |    CAST(sum(x * x) AS HUGEINT) AS sxx
             |  FROM q)
             |SELECT t.n_vocab, t.n_token_occurrences,
             |  CAST(CASE WHEN m.k * m.sxx - m.sx * m.sx = 0 THEN 0
             |    ELSE ((m.k * m.sxy - m.sx * m.sy) * 1000000)
             |         // (m.k * m.sxx - m.sx * m.sx) END AS BIGINT)
             |    AS zipf_slope_ppm
             |FROM tot t, m""".stripMargin)),

    QueryDef("events_burstiness",
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

    QueryDef("split_temporal_embargo",
      // the time-series leakage guard: train < t1, [t1, t2) EXCLUDED,
      // test >= t2 — cutoffs at 70%/75% of the observed range in exact
      // epoch-micros; census carries each split's micros range so the
      // embargo gap is auditable. Temporal sibling of split_leakage_safe
      (s, dir) => graft.functions.Sampling.temporalEmbargoSplit(
          Tables.events(s, dir), "ts", "event_type",
          trainPermille = 700, embargoPermille = 50)
        .orderBy("event_type", "split"),
      Some("""WITH b AS (
             |  SELECT CAST(epoch_us(min(CAST(ts AS TIMESTAMP))) AS BIGINT) AS lo,
             |    CAST(epoch_us(max(CAST(ts AS TIMESTAMP))) AS BIGINT) AS hi
             |  FROM events),
             |a AS (
             |  SELECT event_type,
             |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us,
             |    b.lo + ((b.hi - b.lo) * 700) // 1000 AS t1,
             |    b.lo + ((b.hi - b.lo) * 750) // 1000 AS t2
             |  FROM events CROSS JOIN b)
             |SELECT event_type,
             |  CASE WHEN us < t1 THEN 'train'
             |       WHEN us < t2 THEN 'embargo'
             |       ELSE 'test' END AS split,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  min(us) AS first_us, max(us) AS last_us
             |FROM a GROUP BY 1, 2 ORDER BY event_type, split""".stripMargin)),

    QueryDef("events_interarrival_quantiles",
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

    QueryDef("quantile_sketch_error_report",
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
