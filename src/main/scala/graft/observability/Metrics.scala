package graft.observability

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** The reference's Prometheus worker-metrics surface
  * (`metrics.py:5-28`: `total_records`, `processed_records`,
  * `ignored_records`, `processed_tasks`, `task_processing_latency`,
  * `write_latency`, `start_time`, `end_time`), re-seated on Spark's
  * observability hooks:
  *
  *  - per-query record counters come from the `df.observe` bundle
  *    (`graft.Pipeline.withMetrics`) — computed inside the job as it runs,
  *    no second scan, exactly once per action;
  *  - task counters and latency histograms come from [[QueryProfile]]'s
  *    listener (finished actions) and its streaming progress listener
  *    (micro-batches) — the engine tells us when an action finished and
  *    how long it took;
  *  - the registry renders Prometheus exposition text, the same contract the
  *    reference's REST `/metrics` endpoint serves (`management.py:36-129`).
  *
  * `GraftMetrics.install(spark, "worker-0")` attaches one registry for the
  * session's batch and streaming work; `close()` detaches it. `bundleName`
  * selects which observe bundle feeds the record counters and
  * `onlyQueryName` which streaming query feeds the progress counters — give
  * each worker/pipeline its own names when a session is shared. At scale
  * nothing here adds work: observed metrics ride the existing aggregation,
  * and the listeners run on the driver off the listener bus.
  */
final class GraftMetrics private (spark: SparkSession, val instanceId: String,
    private[observability] val bundleName: String,
    private[observability] val onlyQueryName: Option[String]) {
  import GraftMetrics.LatencyBuckets

  /** Series by (name, `le` bucket bound); plain counters have no bound. */
  private val series = TrieMap.empty[(String, Option[Double]), Double]
  private val startMs = System.currentTimeMillis()
  private val endMs = new AtomicLong(0L)

  private[observability] def inc(name: String, by: Double,
      le: Option[Double] = None): Unit =
    series.updateWith((name, le)) { v => Some(v.getOrElse(0.0) + by) }

  /** One observation of a histogram: every cumulative `le` bucket (all of
    * them exist from the first observation on), `_count` and `_sum`. */
  private[observability] def observeLatency(name: String, seconds: Double): Unit = {
    LatencyBuckets.foreach(le =>
      inc(s"${name}_bucket", if (seconds <= le) 1.0 else 0.0, Some(le)))
    inc(s"${name}_count", 1.0)
    inc(s"${name}_sum", seconds)
  }

  private[observability] def markEnd(): Unit =
    endMs.set(System.currentTimeMillis())

  def value(name: String): Double = series.getOrElse((name, None), 0.0)

  /** Prometheus exposition format, reference metric names, one instance
    * label — what `GET /metrics` returns. */
  def prometheusText: String = {
    import Ordering.Double.TotalOrdering
    val sb = new StringBuilder
    def line(name: String, v: Double, labels: String = ""): Unit =
      sb.append(s"""$name{instance="$instanceId"$labels} $v""").append('\n')
    line("start_time", startMs.toDouble)
    if (endMs.get() > 0) line("end_time", endMs.get().toDouble)
    series.toSeq.sortBy(_._1).foreach {
      case ((n, None), v) => line(n, v)
      case ((n, Some(le)), v) =>
        if (le == LatencyBuckets.head)
          sb.append(s"# TYPE ${n.stripSuffix("_bucket")} histogram\n")
        line(n, v, s""",le="${if (le.isInfinite) "+Inf" else le}"""")
    }
    sb.toString
  }

  // attached last, so the registry is whole before an event reaches it
  private val feed = QueryProfile.attach(spark, Some(this))

  /** Detach every listener [[GraftMetrics.install]] added to the session. */
  def close(): Unit = feed.close()
}

object GraftMetrics {
  /** Histogram bucket bounds, seconds: the Prometheus client defaults. */
  val LatencyBuckets: Seq[Double] = Seq(.005, .01, .025, .05, .075, .1, .25,
    .5, .75, 1.0, 2.5, 5.0, 7.5, 10.0, Double.PositiveInfinity)

  /** One registry for the session's batch actions and streaming queries. */
  def install(spark: SparkSession, instanceId: String,
      bundleName: String = "graft_metrics",
      onlyQueryName: Option[String] = None): GraftMetrics =
    new GraftMetrics(spark, instanceId, bundleName, onlyQueryName)
}
