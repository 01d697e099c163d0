package graft

import graft.observability.GraftMetrics
import graft.sources.Tables
import org.apache.spark.sql.GraftSql
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reference's Prometheus counter names must appear, with the observed
  * record counts, after a pipeline action (metrics.py parity); one install
  * feeds one registry from batch and streaming work and `close()` detaches
  * it. */
class MetricsSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark

  test("Control.abort cancels an in-flight job group (management abort seat)") {
    import graft.observability.Control
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val group = s"graft-abort-${System.nanoTime()}"
    val big = spark.range(1L << 34).selectExpr("sum(id * id)") // minutes if not aborted
    val job = Future {
      intercept[Exception] {
        Control.runCancellable(spark, group, "abort test") { big.head() }
      }
    }
    Thread.sleep(1500) // let the job get in flight
    val t0 = System.nanoTime()
    Control.abort(spark, group)
    val ex = Await.result(job, 30.seconds) // cancelled, not run to completion
    assert((System.nanoTime() - t0) / 1e9 < 25.0)
    assert(ex.getMessage != null)
  }

  /** An observe-bundle count through `Pipeline.withMetrics`; the rows. */
  private def observedCount(bundle: String): Long = {
    val ev = Tables.events(spark, GraftTestSpark.Sf0001)
    val wm = ev.select(max(unix_millis(col("ts")))).head.getLong(0) + 1 // all pass
    val withTs = ev.withColumn("ts_ms_observed", unix_millis(col("ts")))
    Pipeline.withMetrics(withTs, Some("ts_ms_observed"), Some(wm),
      bundleName = bundle).count()
  }

  /** An AvailableNow stream named `qname` over a parquet copy of the
    * events; the rows it read. */
  private def availableNow(qname: String): Long = {
    val (start, rows) = eventsStream()
    start(qname)
    rows
  }

  /** A parquet copy of the events: a starter that runs an AvailableNow
    * stream of it under a given name to its end, and its row count. The
    * copy's batch actions all run before the stream does. */
  private def eventsStream(): (String => Unit, Long) = {
    val srcDir = java.nio.file.Files.createTempDirectory("smetrics-src")
    val ev = Tables.events(spark, GraftTestSpark.Sf0001).select("event_id", "ts")
    ev.write.mode("overwrite").parquet(srcDir.toString)
    val schema = spark.read.parquet(srcDir.toString).schema
    val start = (qname: String) => {
      val q = spark.readStream.schema(schema).parquet(srcDir.toString)
        .writeStream.format("noop").queryName(qname)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      ()
    }
    (start, ev.count())
  }

  private def endTime(m: GraftMetrics): Option[Double] =
    """end_time\{[^}]*\} (\S+)""".r.findFirstMatchIn(m.prometheusText)
      .map(_.group(1).toDouble)

  /** Run `body` against an installed registry, then detach it. */
  private def closing[A](m: GraftMetrics)(body: GraftMetrics => A): A =
    try body(m) finally m.close()

  // unique bundle and query names: other suites' actions reach the same
  // session, so the record counters must only see this test's work

  test("streaming listener: micro-batch progress feeds the same counters") {
    val qname = s"smetrics-${System.nanoTime()}"
    closing(GraftMetrics.install(spark, "stream-0",
        onlyQueryName = Some(qname))) { m =>
      val rows = availableNow(qname)
      GraftSql.drainListenerBus(spark.sparkContext)
      assert(m.value("processed_records") == rows.toDouble)
      assert(m.value("processed_tasks") >= 1.0)
      assert(m.prometheusText.contains("task_processing_latency_sum"))
    }
  }

  test("streaming listener: another stream's end leaves end_time alone") {
    val qname = s"smetrics-${System.nanoTime()}"
    val (startOther, _) = eventsStream()
    closing(GraftMetrics.install(spark, "stream-1",
        onlyQueryName = Some(qname))) { m =>
      availableNow(qname)
      GraftSql.drainListenerBus(spark.sparkContext)
      val end = endTime(m)
      assert(end.isDefined, m.prometheusText)
      Thread.sleep(20)
      startOther(s"$qname-other")
      GraftSql.drainListenerBus(spark.sparkContext)
      assert(endTime(m) == end, m.prometheusText)
    }
  }

  test("listener exports reference counter names from the observe bundle") {
    val bundle = s"graft_metrics_${System.nanoTime()}"
    closing(GraftMetrics.install(spark, "worker-0", bundle)) { m =>
      val total = observedCount(bundle)
      GraftSql.drainListenerBus(spark.sparkContext)
      assert(m.value("processed_tasks") >= 1.0)
      assert(m.value("processed_records") == total.toDouble)
      assert(m.value("task_processing_latency_count") >= 1.0)
      val text = m.prometheusText
      Seq("processed_records", "ignored_records", "processed_tasks",
          "task_processing_latency_sum", "start_time").foreach { name =>
        assert(text.contains(name + "{instance=\"worker-0\"}"), text)
      }
    }
  }

  test("one install: a batch action and an AvailableNow stream share one registry") {
    val bundle = s"graft_metrics_${System.nanoTime()}"
    val qname = s"smetrics-${System.nanoTime()}"
    closing(GraftMetrics.install(spark, "worker-1", bundle, Some(qname))) { m =>
      val batchRows = observedCount(bundle)
      val streamRows = availableNow(qname)
      GraftSql.drainListenerBus(spark.sparkContext)
      assert(m.value("processed_records") == (batchRows + streamRows).toDouble)
    }
  }

  test("latency histograms: cumulative buckets in le order, +Inf equals _count") {
    closing(GraftMetrics.install(spark, "worker-2")) { m =>
      spark.range(0, 1000, 1, 4).selectExpr("sum(id)").collect()
      val out = java.nio.file.Files.createTempDirectory("metrics-write")
      spark.range(0, 1000, 1, 4).write.mode("overwrite").parquet(out.toString)
      GraftSql.drainListenerBus(spark.sparkContext)
      val text = m.prometheusText
      for (h <- Seq("task_processing_latency", "write_latency")) {
        assert(text.contains(s"# TYPE $h histogram"), text)
        val bucket = (h + """_bucket\{instance="worker-2",le="([^"]+)"\} (\S+)""").r
        val series = bucket.findAllMatchIn(text).map { b =>
          (if (b.group(1) == "+Inf") Double.PositiveInfinity else b.group(1).toDouble,
            b.group(2).toDouble)
        }.toList
        assert(series.map(_._1) == GraftMetrics.LatencyBuckets, text)
        assert(series.map(_._2) == series.map(_._2).sorted, text)
        assert(series.last._2 == m.value(s"${h}_count") &&
          m.value(s"${h}_count") >= 1.0, text)
      }
    }
  }

  test("close() leaves the session's listeners as install found them") {
    def listeners = (GraftSql.executionListenerCount(spark),
      GraftSql.busListenerCount(spark.sparkContext),
      spark.streams.listListeners().length)
    val before = listeners
    val m = GraftMetrics.install(spark, "worker-3")
    val (e, b, s) = before
    assert(listeners == (e + 1, b + 1, s + 1))
    m.close()
    assert(listeners == before)
  }
}
