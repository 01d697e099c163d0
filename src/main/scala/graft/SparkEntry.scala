package graft

import graft.queries.Catalog
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * The catalog lives in `graft.queries`: `ReferenceQueries`,
  * `RelationalQueries` and one object per family (`TextQueries`,
  * `QualityQueries`, `DedupQueries`, `EmbeddingQueries`, `SketchQueries`,
  * `SamplingQueries`, `MultimodalLayoutQueries`), concatenated by
  * `Catalog.all` — one `QueryDef(name, fn, oracle)` per operator from
  * SURVEY.md §2 plus the training-data-pipeline extensions, keeping each
  * Spark query and its DuckDB oracle side by side.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Catalog.queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Catalog.queries

  /** The single source of truth for the gate-catalog size the docs cite
    * (SURVEY.md / COVERAGE.md / SCALING.md). CatalogSpec asserts
    * `queries.size == CatalogCount`, so a new QueryDef without a doc bump
    * (or vice versa) fails the build instead of drifting silently. */
  val CatalogCount: Int = 337

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Catalog.oracleSql

  /** Oracles whose SQL embeds data-dependent literals (e.g. trained IVF
    * centroids): evaluated by Verify against the actual sf dir, then dumped
    * into oracle_sql.json alongside the static entries. */
  def dynamicOracleSql: Map[String, (SparkSession, String) => String] =
    Catalog.dynamicOracleSql
}
