package graft.queries

import graft.functions.TextAnalysis

/** DuckDB fragments shared by more than one query family. Every family's
  * oracles are exact-arithmetic mirrors (sequential double folds, integer
  * ratios) so the hash compare is meaningful; the approximate operators
  * whose internals are not SQL-expressible (simhash, hyperplane LSH) ship
  * rows-only and are pinned by ScalaTest instead. */
private[queries] object OracleSql {

  /** DuckDB fragment: marker-score per language, as columns s_en, s_es, … */
  def langScoreSql: String =
    TextAnalysis.Langs.map { case (l, m) =>
      s"len(list_intersect(string_split(text,' '), [${m.map("'" + _ + "'").mkString(",")}])) AS s_$l"
    }.mkString(",\n       ")

  def langCaseSql: String = {
    val names = TextAnalysis.Langs.map(_._1)
    val cases = names.indices.dropRight(1).map { i =>
      val cond = names.drop(i + 1).map(later => s"s_${names(i)} >= s_$later").mkString(" AND ")
      s"WHEN $cond THEN '${names(i)}'"
    }
    s"CASE ${cases.mkString(" ")} ELSE '${names.last}' END"
  }

  /** Shortest-round-trip double literal: Java's Double.toString emits the
    * shortest decimal that parses back to the exact same double, and DuckDB's
    * parser is correctly rounded — so Spark-side doubles survive the trip
    * into SQL bit-for-bit. */
  def fmtD(d: Double): String = d.toString

  /** DuckDB fragment: word-3-shingle list of `text` (distinct). */
  val ShinglesSql =
    """list_distinct(CASE WHEN len(string_split(text,' ')) >= 3
      |  THEN list_transform(generate_series(1, len(string_split(text,' '))-2),
      |       i -> array_to_string((string_split(text,' '))[i:i+2], ' '))
      |  ELSE [text] END)""".stripMargin

  /** DuckDB rendering of [[graft.functions.Sampling.hashSlice32]] of a
    * VARCHAR expression: the uniform 32-bit md5 slice every deterministic
    * sampler and md5-family hash keys on. */
  def md5SliceSql(expr: String): String =
    s"""list_reduce(list_transform(
       |    regexp_extract_all(substr(md5($expr), 25, 8), '.'),
       |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16 + b)""".stripMargin

  /** [[md5SliceSql]] of doc_id. */
  val DocHashSql: String = md5SliceSql("CAST(doc_id AS VARCHAR)")

  /** DuckDB CTEs of the exact word-3-shingle census over `documents`: `sh`
    * (doc_id, sh), `sizes` (doc_id, n) and `pairs` (`idA`, `idB`, inter),
    * the shared-shingle count of every document pair `pairWhere` keeps
    * (a is the `idA` side). */
  def shinglePairsSql(pairWhere: String = "a.doc_id < b.doc_id",
      idA: String = "id_a", idB: String = "id_b"): String =
    s"""sh AS (
       |  SELECT doc_id, unnest($ShinglesSql) AS sh
       |  FROM documents),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS $idA, b.doc_id AS $idB, count(*) AS inter
       |  FROM sh a JOIN sh b USING (sh) WHERE $pairWhere
       |  GROUP BY 1, 2)""".stripMargin

  /** The exact Jaccard of a [[shinglePairsSql]] pair joined as in
    * [[jaccardAtLeastSql]]. */
  val JaccardSql = "CAST(inter AS DOUBLE) / (sa.n + sb.n - inter)"

  /** FROM/WHERE tail keeping the [[shinglePairsSql]] pairs at exact
    * Jaccard >= `threshold`, both sides' sizes joined as `sa` / `sb`. */
  def jaccardAtLeastSql(threshold: Double, idA: String = "id_a",
      idB: String = "id_b"): String =
    s"""FROM pairs
       |JOIN sizes sa ON sa.doc_id = $idA
       |JOIN sizes sb ON sb.doc_id = $idB
       |WHERE $JaccardSql >= $threshold""".stripMargin

  /** [[shinglePairsSql]] plus `good` (id_a, id_b, id_a < id_b): the exact
    * near-duplicate pair set at Jaccard >= `threshold` that the MinHash
    * pair operators are checked against. */
  def nearDupPairsSql(threshold: Double): String =
    s"""${shinglePairsSql()},
       |good AS (SELECT id_a, id_b
       |${jaccardAtLeastSql(threshold)})""".stripMargin

  /** DuckDB recursive CTEs of [[graft.functions.Dedup.connectedComponents]]:
    * `edges` (src, dst) both ways over the pairs `good` (id_a, id_b),
    * `reach(id, lbl)` — every `id` of `nodes` with each label reaching it
    * — and `clus` (id, cluster_id), the minimum label. The query opens
    * with WITH RECURSIVE. */
  def componentsSql(nodes: String, id: String): String =
    s"""edges AS (SELECT id_a AS src, id_b AS dst FROM good
       |          UNION ALL SELECT id_b, id_a FROM good),
       |reach(id, lbl) AS (
       |  SELECT $id, $id FROM $nodes
       |  UNION
       |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
       |clus AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  /** DuckDB mirror of [[graft.functions.TextAnalysis.qualityMetrics]] and
    * [[graft.functions.TextAnalysis.qualityScore]]: `qs` (doc_id, lang,
    * source, text, n_tokens, n_uniq_tokens, n_stop, n_chars,
    * quality_score), one row per document. */
  val QualityScoreSql: String = {
    val en = TextAnalysis.Langs.head._2.map("'" + _ + "'").mkString(",")
    s"""qs AS (
       |  SELECT *,
       |    (CAST(n_uniq_tokens AS DOUBLE) / n_tokens) * 0.5
       |      + (CAST(n_stop AS DOUBLE) / n_uniq_tokens) * 0.2
       |      + least((CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens) / 10.0, 1.0) * 0.3
       |      AS quality_score
       |  FROM (SELECT doc_id, lang, source, text,
       |      len(string_split(text,' ')) AS n_tokens,
       |      len(list_distinct(string_split(text,' '))) AS n_uniq_tokens,
       |      len(list_intersect(string_split(text,' '), [$en])) AS n_stop,
       |      length(text) AS n_chars
       |    FROM documents))""".stripMargin
  }

  /** DuckDB replay of the landed Kneser-Ney bigram LM
    * ([[graft.functions.TextAnalysis.knBigramTrain]]: D = 3/4, trained on
    * the even doc_id half, one unseen-word pseudo-count): `d` token lists,
    * `trA` the transitions of the documents `applyDocs` keeps, carrying
    * `keys`, the training census `trT`/`bc`/`ctx`/`pre`/`tot`, and `sc` —
    * per transition the `keys`, its training bigram count `bcv` and its
    * log-probability `m` in integer micronats. */
  def knBigramScoreSql(keys: String, applyDocs: String): String =
    s"""d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
       |trA AS (SELECT $keys, toks[i] AS prev, toks[i + 1] AS cur
       |        FROM (SELECT *, unnest(generate_series(1, len(toks) - 1)) AS i
       |              FROM d WHERE $applyDocs AND len(toks) >= 2)),
       |trT AS (SELECT toks[i] AS prev, toks[i + 1] AS cur
       |        FROM (SELECT toks,
       |                unnest(generate_series(1, len(toks) - 1)) AS i
       |              FROM d WHERE doc_id % 2 = 0 AND len(toks) >= 2)),
       |bc AS MATERIALIZED (SELECT prev, cur, count(*) AS bc FROM trT GROUP BY 1, 2),
       |ctx AS (SELECT prev, sum(bc) AS cc, count(*) AS fol FROM bc GROUP BY 1),
       |pre AS (SELECT cur, count(*) AS pre FROM bc GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS HUGEINT) AS nb,
       |               CAST(count(DISTINCT cur) AS HUGEINT) AS vc FROM bc),
       |sc AS (SELECT $keys, coalesce(bc.bc, 0) AS bcv,
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
       |       CROSS JOIN tot)""".stripMargin
}
