package graft

import graft.observability.Control
import graft.operators.{Filters, Scan, Transforms}
import graft.sinks.Sinks
import graft.sources.Tables
import graft.spec.TableSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The end-to-end composer: the reference's scan -> transform -> sink flow as
  * one declarative Spark job (SURVEY.md §3.1 lifecycle, §7 architecture).
  *
  * Reference shape (`/root/reference/wadlabs/hub/migration/`): one Extractor
  * per table (`extractor.py:11-21`) drives a DataCrawler (CQL scan with
  * pushed projection/filter/sort/limit, `datacrawler.py:133-151`) whose pages
  * fan out through a worker pool to up to four sinks, each applying
  * rename -> parse -> watermark/offset filter -> convert -> render
  * (`kafkaworker.py:173-190`). Here the whole flow is ONE logical plan:
  * Catalyst fuses scan+filters+transforms into a single stage and the
  * scheduler replaces the worker pool. The frames here are lazy: each sink
  * write is its own job over the whole plan. The delta is computed once
  * for all sinks in [[graft.streaming.Incremental.incrementalRunCommitted]],
  * which caches it for its action.
  *
  * Observability parity: the reference exports processed/ignored counters
  * (`metrics.py:5-28`, ignored count `kafkaworker.py:192`). `df.observe`
  * attaches the same counters to the job itself — collected per action with
  * zero extra passes, the Spark-native Prometheus-gauge analogue.
  */
object Pipeline {

  final case class Config(
      table: String,
      columns: Seq[String] = Seq("*"),
      solrFilter: Option[String] = None,
      sortBy: Seq[(String, Boolean)] = Nil,
      pages: Option[Int] = None,
      fetchSize: Int = 10000,
      spec: TableSpec = TableSpec.Empty,
      /** `cassandra_modified_timestamp_filter`: rows whose
        * [[WatermarkField]] is at or after these epoch millis drop. */
      watermarkMillis: Option[Long] = None)

  /** The reference's watermarked field (`worker.py:194-198`), read as
    * epoch millis after the spec's conversions (`convertTo: timestamp`). */
  val WatermarkField = "modified_timestamp"

  /** Build the extraction frame: scan with pushdown-friendly projection and
    * filters, spec-driven transforms, watermark, optional sort+page cap —
    * mirror of §3.1 steps 4-7, minus the threads. */
  def extract(spark: SparkSession, dir: String, cfg: Config): DataFrame = {
    var df = Tables.table(spark, dir, cfg.table)
    df = Scan.projectColumns(df, cfg.columns)
    df = cfg.solrFilter.map(Filters.solr(df, _)).getOrElse(df)
    df = Transforms.applySpec(df, cfg.spec)
    df = cfg.watermarkMillis.fold(df) { wm =>
      val field = df.schema.find(_.name == WatermarkField)
      require(field.exists(_.dataType == LongType),
        s"cassandra_modified_timestamp_filter needs a '$WatermarkField' " +
        s"column of epoch millis in '${cfg.table}' (convertTo: timestamp), " +
        s"found ${field.map(_.dataType.simpleString).getOrElse("none")}")
      Filters.watermark(df, col(WatermarkField), wm)
    }
    if (cfg.sortBy.nonEmpty) df = Scan.sortBy(df, cfg.sortBy)
    df = cfg.pages.map(p => Scan.limitPages(df, p, cfg.fetchSize)).getOrElse(df)
    df
  }

  /** Attach the reference's counter bundle to the frame: total rows seen and
    * watermark-ignored rows (observed metrics, read back from the action's
    * QueryExecution — no extra scan). */
  def withMetrics(df: DataFrame, watermarkCol: Option[String],
      watermarkMillis: Option[Long],
      bundleName: String = "graft_metrics"): DataFrame = {
    val cols = metricCols(watermarkCol, watermarkMillis)
    df.observe(bundleName, cols.head, cols.tail: _*)
  }

  /** Observation-object variant for callers that read the metrics back
    * directly (tests, drivers) instead of via a listener. */
  def withMetrics(df: DataFrame, obs: org.apache.spark.sql.Observation,
      watermarkCol: Option[String], watermarkMillis: Option[Long]): DataFrame = {
    val cols = metricCols(watermarkCol, watermarkMillis)
    df.observe(obs, cols.head, cols.tail: _*)
  }

  private def metricCols(watermarkCol: Option[String],
      watermarkMillis: Option[Long]) = {
    val ignored = (watermarkCol, watermarkMillis) match {
      case (Some(c), Some(wm)) =>
        sum(when(col(c).isNotNull && col(c) >= lit(wm), 1).otherwise(0))
      case _ => lit(0L)
    }
    Seq(count(lit(1)).as("records_processed"),
      ignored.as("records_ignored_watermark"))
  }

  /** Sink fan-out: the same frame rendered to each enabled sink shape —
    * the reference's 4-way page replication (§2.8 note). Returns LAZY
    * rendered frames keyed by sink: writing each one recomputes `df`
    * unless `df` is cached, as
    * [[graft.streaming.Incremental.incrementalRunCommitted]] caches the
    * delta it hands its action. */
  def renderSinks(
      df: DataFrame,
      kafka: Option[(String, String, Seq[String])] = None, // value/key templates, topics
      s3: Option[(String, Option[String])] = None,         // key template, body template
      rds: Option[String] = None,                          // insert template
      jsonLines: Boolean = false): Map[String, DataFrame] = {
    val out = Map.newBuilder[String, DataFrame]
    kafka.foreach { case (v, k, topics) =>
      out += "kafka" -> Sinks.prepareKafka(df, v, k, topics) }
    s3.foreach { case (k, b) => out += "s3" -> Sinks.prepareS3(df, k, b) }
    rds.foreach(t => out += "rds" -> Sinks.prepareRds(df, t))
    if (jsonLines) out += "json" -> Sinks.prepareJsonLines(df)
    out.result()
  }

  /** Multi-table concurrent orchestration — the reference's one-Extractor-
    * thread-per-table lifecycle (`app.py:74-88`, `extractor.py:11-21`),
    * Spark-native: each table's extract + action is submitted from its own
    * thread under its own scheduler pool and job group, so N tables' jobs
    * interleave on the cluster (FAIR mode) instead of queueing FIFO, and
    * any one table is independently cancellable by job group
    * ([[graft.observability.Control]]). Failure isolation matches the
    * reference's per-thread extractors: each table's outcome is its own
    * `Try`; one table failing never aborts the rest. The driver-side
    * thread pool schedules JOBS, not data — all row work stays on
    * executors, so this scales with cluster size, not thread count. */
  def runAll[T](spark: SparkSession, dir: String, configs: Seq[Config],
      maxConcurrent: Int = 8)
      (action: (Config, DataFrame) => T): Map[String, scala.util.Try[T]] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(configs.size, maxConcurrent)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futs = configs.map { cfg =>
        Future {
          val sc = spark.sparkContext
          sc.setLocalProperty("spark.scheduler.pool", s"graft-${cfg.table}")
          try cfg.table -> scala.util.Try(Control.runCancellable(spark,
            s"graft-extract-${cfg.table}", s"extract ${cfg.table}")(
            action(cfg, extract(spark, dir, cfg))))
          finally sc.setLocalProperty("spark.scheduler.pool", null)
        }
      }
      Await.result(Future.sequence(futs), Duration.Inf).toMap
    } finally pool.shutdown()
  }
}
