package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters at the benchmark's layer boundaries, from one SparkListener and
  * one QueryExecutionListener registered on the session. `window` runs a
  * block and returns its wall time plus the counter deltas it caused. */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobStart = mutable.Map.empty[Int, Long]
  private var lastJobEndMs = 0L

  private def add(k: String, v: Double): Unit = sums(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    add("spark.scheduler.jobs", 1)
    jobStart.remove(e.jobId).foreach(t => add("spark.scheduler.job_wait_s", (e.time - t) / 1e3))
    lastJobEndMs = math.max(lastJobEndMs, e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("spark.scheduler.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("spark.scheduler.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("spark.scheduler.task_run_s", m.executorRunTime / 1e3)
      add("spark.scheduler.task_cpu_s", m.executorCpuTime / 1e9)
      add("spark.scheduler.task_deser_s", m.executorDeserializeTime / 1e3)
      add("spark.scheduler.gc_s", m.jvmGCTime / 1e3)
      add("spark.shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spark.shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spark.shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("spark.shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("sources.input_records", m.inputMetrics.recordsRead.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      for ((phase, summary) <- qe.tracker.phases)
        add(s"spark.catalyst.${phase}_s", summary.durationMs / 1e3)
      scans(qe.executedPlan).foreach { s =>
        s.metrics.get("numFiles").foreach(m => add("sources.files_listed", m.value.toDouble))
        s.metrics.get("filesSize").foreach(m => add("sources.input_bytes", m.value.toDouble))
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case s: FileSourceScanExec => Seq(s)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case other => other.children.flatMap(scans)
  }

  private def snapshot(): (Map[String, Double], Long) = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized((sums.toMap, lastJobEndMs))
  }

  /** Runs `body`; returns its result, wall seconds, the counter deltas,
    * and the seconds between the last job's end and `body`'s return (the
    * driver-side tail: commit, rename, manifest). */
  def window[T](body: => T): Window[T] = {
    val (before, _) = snapshot()
    val t0 = System.nanoTime()
    val out = body
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    val (after, lastEnd) = snapshot()
    val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
    Window(out, wall, delta, if (lastEnd > 0) math.max(0L, endMs - lastEnd) / 1e3 else 0.0)
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

final case class Window[T](value: T, wall: Double, counts: Map[String, Double], tail: Double) {
  def apply(k: String): Double = counts.getOrElse(k, 0.0)
}

/** Spans (name, start, end, parent, batch) kept in memory and written as
  * JSON when the run ends. */
final class Spans {
  private final case class Span(name: String, start: Long, end: Long, parent: String, batch: String)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[String]

  def apply[T](name: String, batch: String)(body: => T): T = {
    val parent = stack.headOption.getOrElse("")
    stack = name :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(name, t0, System.nanoTime(), parent, batch)
      stack = stack.tail
    }
  }

  def records: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
    "parent" -> s.parent, "batch" -> s.batch))
}

object Materialize {
  /** Executes the whole plan of `df` and discards the rows. */
  def apply(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
