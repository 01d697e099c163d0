package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog entry: a named Spark query over a testdata dir plus the
  * equivalent DuckDB oracle SQL the driver uses for the hash-match
  * correctness gate. Most oracles are static SQL; operators whose oracle
  * needs data-dependent literals (e.g. IVF centroids trained from the
  * table) provide `dynOracle`, evaluated by `graft.Verify` against the
  * actual scale-factor dir right before the oracle dump. `headline`
  * entries are the ones `graft.Bench` times by default.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    dynOracle: Option[(SparkSession, String) => String] = None,
    headline: Boolean = false)

object QueryDef {

  /** A [[QueryDef]] on the bench headline: its plan exercises a scale
    * path (scan and pushdown, shuffle aggregation, joins, windows, dedup,
    * similarity, text analysis, sketches). Reference-parity forms that
    * plan a single writer by design (global row_number pagination, the
    * WRR sink form) stay off it, as do entries that only re-time another
    * headline entry. */
  def headline(name: String, fn: (SparkSession, String) => DataFrame,
      oracle: Option[String],
      dynOracle: Option[(SparkSession, String) => String] = None): QueryDef =
    QueryDef(name, fn, oracle, dynOracle, headline = true)
}

/** Built once per JVM: every lookup (Bench resolves each query by name
  * inside its timed interval) reads the same maps instead of rebuilding
  * all entries and rendering every static oracle string. */
object Catalog {
  lazy val all: Seq[QueryDef] =
    ReferenceQueries.defs ++ RelationalQueries.defs ++ TextQueries.defs ++
      QualityQueries.defs ++ DedupQueries.defs ++ EmbeddingQueries.defs ++
      SketchQueries.defs ++ SamplingQueries.defs ++
      MultimodalLayoutQueries.defs

  /** The entries `graft.Bench` times by default, in catalog order. */
  def headline: Seq[String] = all.filter(_.headline).map(_.name)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(d => d.name -> d.fn).toMap

  lazy val oracleSql: Map[String, String] =
    all.flatMap(d => d.oracle.map(d.name -> _)).toMap

  lazy val dynamicOracleSql: Map[String, (SparkSession, String) => String] =
    all.flatMap(d => d.dynOracle.map(d.name -> _)).toMap
}
