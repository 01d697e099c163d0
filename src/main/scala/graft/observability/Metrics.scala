package graft.observability

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The reference's Prometheus worker-metrics surface
  * (`/root/reference/wadlabs/hub/migration/metrics.py:5-28`: `total_records`,
  * `processed_records`, `ignored_records`, `processed_tasks`,
  * `task_processing_latency`, `write_latency`, `start_time`, `end_time`),
  * re-seated on Spark's observability hooks:
  *
  *  - per-query record counters come from the `df.observe` bundle
  *    (`graft.Pipeline.withMetrics`) — computed inside the job as it runs,
  *    no second scan, exactly once per action;
  *  - task/latency counters come from a [[QueryExecutionListener]] — the
  *    engine tells us when an action finished and how long it took;
  *  - the registry renders Prometheus exposition text, the same contract the
  *    reference's REST `/metrics` endpoint serves (`management.py:36-129`).
  *
  * At scale nothing here adds work: observed metrics ride the existing
  * aggregation, and the listener runs on the driver off the listener bus.
  */
final class GraftMetrics(val instanceId: String) {

  private val counters = TrieMap.empty[String, Double]
  private val startMs = System.currentTimeMillis()
  private val endMs = new AtomicLong(0L)

  def inc(name: String, by: Double): Unit =
    counters.updateWith(name) { v => Some(v.getOrElse(0.0) + by) }

  def observeLatency(name: String, seconds: Double): Unit = {
    inc(s"${name}_count", 1.0)
    inc(s"${name}_sum", seconds)
  }

  def value(name: String): Double = counters.getOrElse(name, 0.0)

  def markEnd(): Unit = endMs.set(System.currentTimeMillis())

  /** Prometheus exposition format, reference metric names, one instance
    * label — what `GET /metrics` returns. */
  def prometheusText: String = {
    val sb = new StringBuilder
    def line(name: String, v: Double): Unit =
      sb.append(s"""$name{instance="$instanceId"} $v""").append('\n')
    line("start_time", startMs.toDouble)
    if (endMs.get() > 0) line("end_time", endMs.get().toDouble)
    counters.toSeq.sortBy(_._1).foreach { case (n, v) => line(n, v) }
    sb.toString
  }
}

/** Driver-side listener translating finished Spark actions into the
  * reference's counters. Register once per session:
  * `spark.listenerManager.register(new MetricsListener(metrics))`.
  * `bundleName` selects which observe bundle feeds the record counters —
  * give each worker/pipeline its own name when a session is shared. */
final class MetricsListener(metrics: GraftMetrics,
    bundleName: String = "graft_metrics")
  extends QueryExecutionListener {

  /** funcName values that are writes in the reference's sense (sink push)
    * rather than compute — these feed `write_latency`. */
  private val WriteFuncs =
    Set("save", "saveAsTable", "insertInto", "parquet", "json", "csv", "text",
      "command", "foreachBatch")

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    qe.observedMetrics.get(bundleName).foreach { row =>
      metrics.inc("processed_records",
        row.getAs[Long]("records_processed").toDouble)
      metrics.inc("ignored_records",
        row.getAs[Long]("records_ignored_watermark").toDouble)
    }
    metrics.inc("processed_tasks", 1.0)
    val seat =
      if (WriteFuncs.contains(funcName)) "write_latency"
      else "task_processing_latency"
    metrics.observeLatency(seat, durationNs / 1e9)
    metrics.markEnd()
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = {
    metrics.inc("failed_tasks", 1.0)
    metrics.markEnd()
  }
}

/** Streaming counterpart of [[MetricsListener]]: every micro-batch progress
  * event feeds the same reference counters (`processed_records` from
  * numInputRows, `processed_tasks` per batch, batch duration into
  * `task_processing_latency`) — so a streaming pipeline exports the same
  * Prometheus surface as a batch one. */
final class StreamingMetricsListener(metrics: GraftMetrics,
    onlyQueryName: Option[String] = None)
  extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    // scope to one named pipeline when the session hosts several
    if (onlyQueryName.forall(_ == p.name)) {
      metrics.inc("processed_records", p.numInputRows.toDouble)
      metrics.inc("processed_tasks", 1.0)
      metrics.observeLatency("task_processing_latency",
        p.batchDuration / 1000.0)
      metrics.markEnd()
    }
  }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit =
    metrics.markEnd()
}

object GraftMetrics {
  /** Create a registry + listener pair and attach it to the session. */
  def install(spark: SparkSession, instanceId: String,
      bundleName: String = "graft_metrics"): GraftMetrics = {
    val m = new GraftMetrics(instanceId)
    spark.listenerManager.register(new MetricsListener(m, bundleName))
    m
  }

  /** Attach the streaming progress listener too (counters shared). */
  def installStreaming(spark: SparkSession, instanceId: String,
      onlyQueryName: Option[String] = None): GraftMetrics = {
    val m = new GraftMetrics(instanceId)
    spark.streams.addListener(new StreamingMetricsListener(m, onlyQueryName))
    m
  }
}
