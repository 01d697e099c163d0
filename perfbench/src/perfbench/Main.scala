package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in one JVM.
  *
  * Untraced (`--trace 0`): set up once (timed from JVM start: session
  * start plus the workload's preparation), an untimed warm-up batch where
  * the workload asks for one, then the closed loop of timed batches for
  * `--seconds` (at least one batch), run on to the end of the workload's
  * cycle. Traced (`--trace 1`): the same set-up,
  * then half the time in traced batches (prefix materializations under a
  * SparkListener and a QueryExecutionListener), a quarter repeating the
  * workload's comparison unit untraced for the tracing overhead, and a
  * quarter repeating it at `local[1]` for the parallel speed-up.
  *
  * Writes raw samples as JSON to `--result`; `run.py` reduces and checks
  * them. Usage: `perfbench.Main --workload W --input DIR --out DIR
  * --seconds S --trace 0|1 --cores N --result FILE`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val input = opts("input")
    val out = opts("out")
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = opts("cores").toInt
    val meta = Json.parse(Files.readString(Paths.get(input, "meta.json")))
    val w = Workload(opts("workload"), input, out, meta)

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = session(cores, out)
    w.prepare(spark)
    val setup = (System.currentTimeMillis() - jvmStart) / 1e3
    val heap = ArrayBuffer.empty[Double]
    val probe = new Probe(spark)
    if (traced) probe.register()

    val phaseBatches = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def loop(tag: String, budget: Double)(batch: Int => Double): Seq[Double] = {
      w.startPhase(tag)
      val walls = ArrayBuffer.empty[Double]
      val start = System.nanoTime()
      while (walls.isEmpty || (System.nanoTime() - start) / 1e9 < budget || !w.atCycleEnd) {
        w.beforeBatch()
        walls += batch(walls.size)
        heap += liveHeapMb(spark) // before afterBatch releases the batch's caches
        w.afterBatch(spark)
      }
      phaseBatches(tag) = walls.size
      walls.toSeq
    }
    def wall(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    def untimed(i: Int): Double = wall(w.runBatch(spark))
    def unit(i: Int): Double = wall(w.compareUnit(spark))

    if (w.warmUpBatches > 0) {
      w.startPhase("warmup")
      for (_ <- 1 to w.warmUpBatches) { w.beforeBatch(); untimed(0); w.afterBatch(spark) }
    }
    val result = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> opts("workload"), "traced" -> traced, "cores" -> cores,
      "records_per_batch" -> w.recordsPerBatch, "setup_s" -> setup)
    if (!traced) {
      result("batch_s") = loop("timed", seconds)(untimed)
    } else {
      val spans = new Spans
      val layers = ArrayBuffer.empty[Map[String, Double]]
      w.startPhase("traced")
      w.traceWarmUp(spark)
      result("traced_unit_s") = loop("traced", seconds / 2) { i =>
        val (l, realW, unitWall) = w.traceBatch(spark, probe, spans, s"b$i")
        layers += l ++ realW.counts.filter(_._1.startsWith("spark.")) +
          ("spark.scheduler.busy_ratio" -> realW("spark.scheduler.task_run_s") / (realW.wall * cores))
        unitWall
      }
      result("layers") = layers.toSeq
      result("once") = w.traceOnce(spark)
      probe.unregister()
      result("unit_s") = loop("untraced", seconds / 4)(unit)
      spark.stop()
      spark = session(1, out)
      w.prepare(spark)
      result("single_core_unit_s") = loop("single", seconds / 4)(unit)
      result("spans") = spans.records
    }
    result("live_heap_mb") = heap.max
    result("env") = Map(
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "java_vm" -> System.getProperty("java.vm.name"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "cores" -> cores)
    result("report") = w.report
    result("phase_batches") = phaseBatches.toMap
    spark.stop()
    Files.writeString(Paths.get(opts("result")), Json.render(result.toMap))
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // as graft.Bench: input splits small enough that scans use every core
      .config("spark.sql.files.maxPartitionBytes", "2097152")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Heap in use after a full collection, in MiB, once the listener bus has
    * handled the batch's events (the status store they fill is on the heap). */
  private def liveHeapMb(spark: SparkSession): Double = {
    PerfbenchBus.drain(spark.sparkContext)
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }
}
