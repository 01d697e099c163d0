package graft.observability

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftSql, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.IncrementalExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query cost record: one [[SparkListener]] + [[QueryExecutionListener]]
  * pair that answers "where did this query's seconds go" layer by layer —
  * Catalyst phases, jobs and their launch-to-end latency, per-stage task
  * time (run / CPU / deserialize / GC), shuffle, spill and scan volume.
  *
  * {{{
  *   val profile = QueryProfile.install(spark)
  *   val (rows, record) = profile.window(df.collect())
  *   profile.close()
  * }}}
  *
  * A window drains the listener bus on open and on close, so every event
  * its body caused is in its record and none from before it is; each
  * window starts from empty counters (nothing carries from one window to
  * the next). Windows do not nest. The listener sees the whole
  * SparkContext: jobs another thread runs during a window are billed to
  * it too, so profile sequential work.
  *
  * It is the only listener graft installs: with a [[GraftMetrics]] registry
  * attached it also feeds the reference's Prometheus surface, from finished
  * actions and, through one private [[StreamingQueryListener]] (an abstract
  * class, so owned rather than extended), from streaming progress. */
final class QueryProfile private (spark: SparkSession,
    metrics: Option[GraftMetrics])
  extends SparkListener with QueryExecutionListener {
  import QueryProfile._

  @volatile private var open: Acc = null

  /** Run `body` and return its result with the record of what it ran. If
    * `body` throws, the window closes and the exception propagates. */
  def window[A](body: => A): (A, Record) = {
    require(open == null, "QueryProfile windows do not nest")
    GraftSql.drainListenerBus(spark.sparkContext)
    val acc = new Acc
    open = acc
    try {
      val t0 = System.nanoTime()
      val out = body
      val wall = (System.nanoTime() - t0) / 1e9
      GraftSql.drainListenerBus(spark.sparkContext)
      (out, acc.record(wall))
    } finally open = null
  }

  /** Micro-batch progress into the registry: `processed_records` from
    * numInputRows, one `processed_tasks` per batch, the batch duration
    * into `task_processing_latency`. A stream's end moves `end_time`, and
    * a failed one counts a `failed_tasks`, only if it is one of the
    * registry's streams: a run whose start or progress matched
    * `onlyQueryName` (the terminated event carries no name). */
  private val progress = metrics.map { m =>
    new StreamingQueryListener {
      private val runs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
      private def ours(name: String) = m.onlyQueryName.forall(_ == name)
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        if (ours(e.name)) runs.add(e.runId)
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        if (ours(p.name)) {
          runs.add(p.runId)
          m.inc("processed_records", p.numInputRows.toDouble)
          m.inc("processed_tasks", 1.0)
          m.observeLatency("task_processing_latency", p.batchDuration / 1000.0)
          m.markEnd()
        }
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (runs.remove(e.runId)) {
          if (e.exception.isDefined) m.inc("failed_tasks", 1.0)
          m.markEnd()
        }
    }
  }

  /** Detach every listener from the session. */
  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    progress.foreach(spark.streams.removeListener)
  }

  private def live(f: Acc => Unit): Unit = {
    val acc = open
    if (acc != null) f(acc)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = live(_.jobStart(e))
  override def onJobEnd(e: SparkListenerJobEnd): Unit = live(_.jobEnd(e))
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    live(_.stage(e.stageInfo))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    live(_.stage(e.stageInfo))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = live(_.taskEnd(e))

  /** A finished action: the observe bundle's record counters, one
    * `processed_tasks`, its duration into a latency histogram. A stream's
    * own micro-batch execution is left to its progress event, which knows
    * the stream's name: counting it here too would count every batch
    * twice and let any stream move a name-scoped registry's `end_time`. */
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    live(_.execution(qe))
    if (!microBatch(qe)) metrics.foreach { m =>
      qe.observedMetrics.get(m.bundleName).foreach { row =>
        m.inc("processed_records",
          row.getAs[Long]("records_processed").toDouble)
        m.inc("ignored_records",
          row.getAs[Long]("records_ignored_watermark").toDouble)
      }
      m.inc("processed_tasks", 1.0)
      m.observeLatency(
        if (WriteFuncs.contains(funcName)) "write_latency"
        else "task_processing_latency", durationNs / 1e9)
      m.markEnd()
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = {
    live(_.execution(qe))
    if (!microBatch(qe))
      metrics.foreach { m => m.inc("failed_tasks", 1.0); m.markEnd() }
  }

  private def microBatch(qe: QueryExecution): Boolean =
    qe.isInstanceOf[IncrementalExecution]
}

object QueryProfile {

  /** Attach a new profile's listeners to `spark`. */
  def install(spark: SparkSession): QueryProfile = attach(spark, None)

  private[observability] def attach(spark: SparkSession,
      metrics: Option[GraftMetrics]): QueryProfile = {
    val p = new QueryProfile(spark, metrics)
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p.progress.foreach(spark.streams.addListener)
    p
  }

  /** funcName values that are writes in the reference's sense (sink push)
    * rather than compute — these feed `write_latency`. */
  private val WriteFuncs =
    Set("save", "saveAsTable", "insertInto", "parquet", "json", "csv", "text",
      "command", "foreachBatch")

  /** One job: start relative to the window's open, submit→end seconds
    * (-1 if it had not ended when the window closed). */
  final case class JobProfile(id: Int, startS: Double, wallS: Double,
      stageIds: Seq[Int], description: String)

  /** One stage attempt. Times are task sums; spill is memory + disk
    * spill (the perfbench Probe's definition). */
  final case class StageProfile(id: Int, attempt: Int, name: String,
      tasks: Int, wallS: Double, runS: Double, cpuS: Double,
      deserializeS: Double, gcS: Double, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, shuffleRecordsWritten: Long,
      spillBytes: Long, inputBytes: Long, inputRecords: Long)

  /** What one window ran. `phasesS` sums `qe.tracker.phases` (analysis,
    * optimization, planning) over the window's `executions` (SQL
    * actions, including a query's internal driver-side ones). */
  final case class Record(wallS: Double, executions: Int,
      phasesS: Map[String, Double], jobs: Seq[JobProfile],
      stages: Seq[StageProfile]) {
    def jobWallS: Double = jobs.map(_.wallS).filter(_ >= 0).sum
    def tasks: Int = stages.map(_.tasks).sum
    def taskRunS: Double = stages.map(_.runS).sum
    def taskCpuS: Double = stages.map(_.cpuS).sum
    def deserializeS: Double = stages.map(_.deserializeS).sum
    def gcS: Double = stages.map(_.gcS).sum
    def shuffleReadBytes: Long = stages.map(_.shuffleReadBytes).sum
    def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
    def spillBytes: Long = stages.map(_.spillBytes).sum
    def inputBytes: Long = stages.map(_.inputBytes).sum
    def inputRecords: Long = stages.map(_.inputRecords).sum

    def json: String = {
      import Json.{num, obj, str}
      val jobsJ = jobs.map(j => obj(Seq("id" -> j.id.toString,
        "start_s" -> num(j.startS), "wall_s" -> num(j.wallS),
        "stage_ids" -> j.stageIds.mkString("[", ",", "]"),
        "description" -> str(j.description))))
      val stagesJ = stages.map(s => obj(Seq("id" -> s.id.toString,
        "attempt" -> s.attempt.toString, "name" -> str(s.name),
        "tasks" -> s.tasks.toString, "wall_s" -> num(s.wallS),
        "run_s" -> num(s.runS), "cpu_s" -> num(s.cpuS),
        "deserialize_s" -> num(s.deserializeS), "gc_s" -> num(s.gcS),
        "shuffle_read_bytes" -> s.shuffleReadBytes.toString,
        "shuffle_write_bytes" -> s.shuffleWriteBytes.toString,
        "shuffle_records_written" -> s.shuffleRecordsWritten.toString,
        "spill_bytes" -> s.spillBytes.toString,
        "input_bytes" -> s.inputBytes.toString,
        "input_records" -> s.inputRecords.toString)))
      obj(Seq("wall_s" -> num(wallS), "executions" -> executions.toString,
        "phases_s" -> obj(phasesS.toSeq.sorted.map { case (k, v) => k -> num(v) }),
        "jobs" -> jobs.size.toString, "job_wall_s" -> num(jobWallS),
        "stages" -> stages.size.toString, "tasks" -> tasks.toString,
        "task_run_s" -> num(taskRunS), "task_cpu_s" -> num(taskCpuS),
        "task_deserialize_s" -> num(deserializeS), "gc_s" -> num(gcS),
        "shuffle_read_bytes" -> shuffleReadBytes.toString,
        "shuffle_write_bytes" -> shuffleWriteBytes.toString,
        "spill_bytes" -> spillBytes.toString,
        "input_bytes" -> inputBytes.toString,
        "input_records" -> inputRecords.toString,
        "job_detail" -> jobsJ.mkString("[", ",", "]"),
        "stage_detail" -> stagesJ.mkString("[", ",", "]")))
    }
  }

  private final class JobB(val id: Int, val start: Long,
      val stageIds: Seq[Int], val description: String) {
    var end = -1L
  }

  private final class StageB(val id: Int, val attempt: Int) {
    var name = ""
    var submitted = Option.empty[Long]
    var completed = Option.empty[Long]
    var tasks = 0
    var runMs, cpuNs, deserializeMs, gcMs = 0L
    var shuffleRead, shuffleWrite, shuffleRecords, spill, inBytes, inRecords = 0L
  }

  /** One window's counters; listener-bus thread writes, window thread
    * reads after the drain — all access under the lock. */
  private final class Acc {
    private val openMs = System.currentTimeMillis()
    private val jobs = mutable.LinkedHashMap.empty[Int, JobB]
    private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageB]
    private val phases = mutable.LinkedHashMap.empty[String, Double]
    private var executions = 0

    def jobStart(e: SparkListenerJobStart): Unit = synchronized {
      // the job's description, else its call site (the result stage —
      // the job's newest — is named after it)
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
        .getOrElse("").take(80)
      jobs(e.jobId) = new JobB(e.jobId, e.time, e.stageIds, desc)
    }

    def jobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }

    private def stageB(id: Int, attempt: Int): StageB =
      stages.getOrElseUpdate((id, attempt), new StageB(id, attempt))

    def stage(i: StageInfo): Unit = synchronized {
      val s = stageB(i.stageId, i.attemptNumber())
      s.name = i.name.take(60)
      s.submitted = i.submissionTime
      s.completed = i.completionTime
    }

    def taskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stageB(e.stageId, e.stageAttemptId)
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.deserializeMs += m.executorDeserializeTime
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inBytes += m.inputMetrics.bytesRead
        s.inRecords += m.inputMetrics.recordsRead
      }
    }

    def execution(qe: QueryExecution): Unit = synchronized {
      executions += 1
      qe.tracker.phases.foreach { case (k, p) =>
        phases(k) = phases.getOrElse(k, 0.0) + p.durationMs / 1e3 }
    }

    def record(wallS: Double): Record = synchronized {
      Record(wallS, executions, phases.toMap,
        jobs.values.toSeq.map(j => JobProfile(j.id, (j.start - openMs) / 1e3,
          if (j.end < 0) -1.0 else (j.end - j.start) / 1e3, j.stageIds,
          j.description)),
        stages.values.toSeq.map { s =>
          val wall = (for (a <- s.submitted; b <- s.completed)
            yield (b - a) / 1e3).getOrElse(0.0)
          StageProfile(s.id, s.attempt, s.name, s.tasks, wall,
            s.runMs / 1e3, s.cpuNs / 1e9, s.deserializeMs / 1e3, s.gcMs / 1e3,
            s.shuffleRead, s.shuffleWrite, s.shuffleRecords, s.spill,
            s.inBytes, s.inRecords)
        })
    }
  }
}
