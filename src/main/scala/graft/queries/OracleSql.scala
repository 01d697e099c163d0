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

  /** DuckDB rendering of [[graft.functions.Sampling.hashSlice32]] on
    * doc_id — the uniform 32-bit md5 slice every deterministic sampler
    * keys on. */
  val DocHashSql =
    """list_reduce(list_transform(
      |    regexp_extract_all(substr(md5(CAST(doc_id AS VARCHAR)), 25, 8), '.'),
      |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16 + b)""".stripMargin

  /** [[DocHashSql]] generalized to an arbitrary VARCHAR expression —
    * DuckDB rendering of [[graft.functions.Sampling.hashSlice32]]. */
  def md5SliceSql(expr: String): String =
    s"""list_reduce(list_transform(
       |    regexp_extract_all(substr(md5($expr), 25, 8), '.'),
       |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16 + b)""".stripMargin
}
