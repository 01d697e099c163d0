package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import graft.Pipeline
import graft.config.GraftConfig
import graft.functions.{Caches, Dedup, Recipe, SuffixArray, TextAnalysis}
import graft.operators.Scan
import graft.sinks.Sinks
import graft.sources.Tables
import graft.streaming.Incremental
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark workload: the closed loop calls `runBatch` (timed) then
  * `afterBatch` (untimed bookkeeping) until the run's seconds are spent. */
trait Workload {
  /** Input rows or documents one batch fully processes. */
  def recordsPerBatch: Long
  /** Untimed batches before timing: only where users keep a warm process
    * between batches. */
  def warmUpBatches: Int = 0
  /** Per-session preparation; its time counts as set-up. */
  def prepare(spark: SparkSession): Unit
  /** Untimed: whatever must arrive before a batch (a landing page). */
  def beforeBatch(): Unit = ()
  def runBatch(spark: SparkSession): Unit
  /** The batch again, with each layer's cumulative prefix materialized
    * first; returns per-layer metrics, the real batch's window and the
    * traced wall of the comparison unit. */
  def traceBatch(spark: SparkSession, probe: Probe, spans: Spans,
      batch: String): (Map[String, Double], Window[Unit], Double)
  /** The work a traced run repeats untraced (`trace.overhead`) and at
    * `local[1]` (`spark.scheduler.parallel_speedup`): the whole batch
    * unless the workload says otherwise. */
  def compareUnit(spark: SparkSession): Unit = runBatch(spark)
  /** Untimed work before the traced batches, so that the first prefix does
    * not carry the process's one-time costs (class loading, JIT), where the
    * warm-up batches have not already paid them. */
  def traceWarmUp(spark: SparkSession): Unit = ()
  /** Counts measured once per traced run rather than per batch. */
  def traceOnce(spark: SparkSession): Map[String, Double] = Map.empty
  /** Whether the batches since the phase started make whole cycles, so
    * that every run measures the same mix of batches. */
  def atCycleEnd: Boolean = true
  /** Output sub-directory of the current phase; a phase restarts any
    * multi-batch state. */
  def startPhase(tag: String): Unit
  /** Untimed: record what the checker needs, release the batch's caches. */
  def afterBatch(spark: SparkSession): Unit = Workload.release(spark)
  /** What the checker needs, per phase. */
  def report: Map[String, Any]
}

object Workload {
  def apply(name: String, input: String, out: String, meta: JsonNode): Workload =
    name match {
      case "extract_incremental" => new ExtractIncremental(input, out, meta)
      case "corpus_dedup" => new CorpusDedup(input, out, meta)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** Drops every cache a batch left behind, so each batch starts cold the
    * same way (the program's operators persist intermediates they reuse). */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    Caches.sweepOperatorCaches()
  }

  def timed[T](spans: Spans, probe: Probe, name: String, batch: String)(body: => T): Window[T] =
    probe.window(spans(name, batch)(body))

  /** (bytes, files) of the part files under `dir`. */
  def outputSize(dir: Path): (Double, Double) =
    if (!Files.exists(dir)) (0.0, 0.0)
    else {
      val files = Files.walk(dir).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
        .toSeq
      (files.map(Files.size).sum.toDouble, files.size.toDouble)
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
}

/** The reference's extraction job over an events-shaped table: config
  * resolution, `Pipeline.extract`, `Pipeline.renderSinks` for the four
  * sink shapes, and their durable writes. The spec and templates follow the
  * `pipeline_e2e` and `sink_*_shape` catalog entries. */
final class ExtractFlow(tableDir: String) {
  import ExtractFlow._

  def config(): Pipeline.Config = {
    val global = GraftConfig.loadGlobal(GlobalProperties)
    GraftConfig.loadTable("events", global, propertiesText = TableProperties,
      specJson = Some(SpecJson)).toPipelineConfig
  }

  def extract(spark: SparkSession, cfg: Pipeline.Config): DataFrame =
    Pipeline.extract(spark, tableDir, cfg)

  /** (sink, rendered frame, durable write of that sink into `dir`). Every
    * sink renders the whole extracted record, as the reference's workers do. */
  def sinks(df: DataFrame): Seq[(String, DataFrame, String => Unit)] = {
    val r = Pipeline.renderSinks(df, kafka = Some((KafkaValue, KafkaKey, Topics)),
      s3 = Some((S3Key, None)), rds = Some(RdsInsert), jsonLines = true)
    val kafka = r("kafka").drop("headers") // the manifest codec takes atomic columns
    Seq(
      ("kafka", kafka, (d: String) => manifestWrite(kafka, s"$d/kafka")),
      ("s3", r("s3"), (d: String) => Sinks.writeS3Shaped(r("s3"), s"$d/s3")),
      ("rds", r("rds"), (d: String) => manifestWrite(r("rds"), s"$d/rds")),
      // writeJsonLines renders the same prepareJsonLines frame itself
      ("json", r("json"), (d: String) => Sinks.writeJsonLines(df, s"$d/json")))
  }

  def writeAll(df: DataFrame, dir: String): Unit = sinks(df).foreach(_._3(dir))

  /** Traces one extraction: config, plan build, then the cumulative
    * prefixes scan, +transform, +render (per sink), and the real writes.
    * `real` runs the write thunks and returns the seconds of the call that
    * wraps them (the watermark commit). */
  def trace(spark: SparkSession, probe: Probe, spans: Spans, batch: String,
      delta: DataFrame => DataFrame, real: Seq[() => Unit] => Double,
      outDir: String): (Map[String, Double], Window[Unit]) = {
    import Workload.timed
    val cfgW = timed(spans, probe, "config.resolve", batch)(config())
    val buildW = timed(spans, probe, "operators.plan_build", batch) {
      val d = delta(extract(spark, cfgW.value)); (d, sinks(d))
    }
    val (extracted, rendered) = buildW.value
    val scanW = timed(spans, probe, "sources.scan", batch)(Materialize(
      Scan.projectColumns(Tables.table(spark, tableDir, "events"), cfgW.value.columns)))
    val transformW = timed(spans, probe, "operators.transform", batch)(Materialize(extracted))
    val renderWs = rendered.map { case (name, frame, _) =>
      timed(spans, probe, s"sinks.render.$name", batch)(Materialize(frame)) }
    val writeWs = ArrayBuffer.empty[Window[Unit]]
    var wrapped = 0.0
    val realW = timed(spans, probe, "batch", batch) {
      wrapped = real(rendered.map { case (name, _, write) =>
        () => writeWs += timed(spans, probe, s"sinks.write.$name", batch)(write(outDir)) })
    }
    val commit = writeWs.map(_.tail).sum
    // the rds sink writes one row per extracted record
    val rowsOut = ExtractFlow.manifestRows(Paths.get(outDir, "rds")).toDouble
    val (bytes, files) = Workload.outputSize(Paths.get(outDir))
    val layers = Map(
      "config.resolve_s" -> cfgW.wall,
      "operators.plan_build_s" -> buildW.wall,
      "sources.read_s" -> scanW.wall,
      "sources.input_bytes" -> scanW("sources.input_bytes"),
      "sources.input_records" -> scanW("sources.input_records"),
      "sources.scan_tasks" -> scanW("spark.scheduler.tasks"),
      "sources.files_listed" -> scanW("sources.files_listed"),
      "operators.transform_s" -> (transformW.wall - scanW.wall),
      "operators.selectivity" -> rowsOut / math.max(1.0, scanW("sources.input_records")),
      "sinks.render_s" -> (renderWs.map(_.wall).sum - renderWs.size * transformW.wall),
      "sinks.write_s" -> (writeWs.map(_.wall).sum - renderWs.map(_.wall).sum - commit),
      "sinks.commit_s" -> commit,
      "sinks.bytes_written" -> bytes,
      "sinks.files_written" -> files,
      "sinks.bytes_per_record" -> bytes / math.max(1.0, rowsOut),
      "streaming.delta_rows" -> rowsOut,
      "streaming.watermark_s" -> (wrapped - writeWs.map(_.wall).sum))
    (layers, realW)
  }

  private def manifestWrite(df: DataFrame, path: String): Unit =
    df.write.format("graft.sources.v2.ManifestSink").option("path", path)
      .mode("overwrite").save()
}

object ExtractFlow {
  val GlobalProperties: String =
    """cassandra_fetch_size = 10000
      |cassandra_filter = event_type:click OR event_type:view OR event_type:purchase
      |""".stripMargin
  val TableProperties: String =
    "cassandra_columns = event_id,user_id,event_type,value,props,modified_at"
  val SpecJson: String =
    """{"columns": [
      |  {"name": "value", "renameTo": "amount"},
      |  {"name": "props", "convertTo": "object", "schema": "k BIGINT"},
      |  {"name": "modified_at", "convertTo": "timestamp"},
      |  {"name": "derived",
      |   "convertTo": "template:str(row['event_type']) + '#' + str(row['user_id'])"}
      |]}""".stripMargin
  val KafkaValue = "{[DQ]id[DQ]: %(event_id)s, [DQ]type[DQ]: [DQ]%(event_type)s[DQ], " +
    "[DQ]amount[DQ]: %(amount)s, [DQ]derived[DQ]: [DQ]%(derived)s[DQ], " +
    "[DQ]modified[DQ]: %(modified_at)s}"
  val KafkaKey = "%(user_id)s"
  val Topics: Seq[String] = Seq("t1", "t2")
  val S3Key = "events/%(event_id)s.json"
  val RdsInsert = "INSERT INTO events_t (id, doc) VALUES ('%(event_id)s', '%(json)s')"

  /** Rows the manifest sink committed under `dir` (from `_MANIFEST.tsv`). */
  def manifestRows(dir: Path): Long = {
    val m = dir.resolve("_MANIFEST.tsv")
    if (!Files.exists(m)) -1L
    else Files.readAllLines(m).asScala.filter(_.nonEmpty).map(_.split("\t")(1).toLong).sum
  }
}

/** The resume loop as many small deltas: pages land one at a time in the
  * table dir; each runs through the watermark filter, the same extraction
  * and sinks, and commits its watermark before the next page lands. A cycle
  * lands every page once, then the table and watermark are reset. */
final class ExtractIncremental(input: String, out: String, meta: JsonNode) extends Workload {
  private val pages = Files.list(Paths.get(input, "pages")).iterator().asScala.toSeq.sorted
  private val t0 = meta.get("t0_ms").asLong
  private val pageWindow = meta.get("page_window_ms").asLong
  private val tableRoot = Paths.get(out, "table")
  private val tableDir = tableRoot.resolve("events.parquet")
  private val flow = new ExtractFlow(tableRoot.toString)
  private val store = new Incremental.WatermarkStore(s"$out/watermarks")
  private var cfg: Pipeline.Config = _
  private var tag = ""
  private var cycle = 0
  private var page = 0
  private val deltas = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Map[String, Any]]]

  val recordsPerBatch: Long = meta.get("page_rows").asLong
  // the resume loop is a long-running process: deltas keep getting faster
  // through the first two cycles (JIT), which run before timing
  override def warmUpBatches: Int = 2 * pages.size

  def prepare(spark: SparkSession): Unit = {
    restartCycle()
    cfg = flow.config()
  }

  private def restartCycle(): Unit = {
    Workload.deleteTree(tableDir)
    Files.createDirectories(tableDir)
    store.clear("events")
    page = 0
  }

  def startPhase(t: String): Unit = {
    tag = t
    cycle = 0
    deltas(tag) = ArrayBuffer.empty
    restartCycle()
  }

  private def deltaDir = s"$out/$tag/cycle-$cycle/delta-$page"
  private def nowMillis = t0 + (page + 1) * pageWindow

  // the page lands before the timer starts: arrival is not the program's work
  override def beforeBatch(): Unit =
    Files.copy(pages(page), tableDir.resolve(pages(page).getFileName),
      StandardCopyOption.REPLACE_EXISTING)

  def runBatch(spark: SparkSession): Unit = {
    val df = flow.extract(spark, cfg)
    Incremental.incrementalRunCommitted(df, col("modified_at"), store, "events", nowMillis) {
      delta => flow.writeAll(delta, deltaDir)
    }
  }

  override def afterBatch(spark: SparkSession): Unit = {
    deltas(tag) += Map("cycle" -> cycle, "page" -> page, "dir" -> deltaDir,
      "kafka" -> ExtractFlow.manifestRows(Paths.get(deltaDir, "kafka")),
      "rds" -> ExtractFlow.manifestRows(Paths.get(deltaDir, "rds")))
    Workload.release(spark)
    page += 1
    if (page == pages.size) { cycle += 1; restartCycle() }
  }

  // a delta's cost grows with the pages already landed
  override def atCycleEnd: Boolean = page == 0

  def traceBatch(spark: SparkSession, probe: Probe, spans: Spans,
      batch: String): (Map[String, Double], Window[Unit], Double) = {
    val now = nowMillis
    val (layers, realW) = flow.trace(spark, probe, spans, batch,
      df => Incremental.incrementalRun(df, col("modified_at"), store, "events", now).frame,
      writes => {
        val df = flow.extract(spark, cfg)
        val t = System.nanoTime()
        Incremental.incrementalRunCommitted(df, col("modified_at"), store, "events", now) {
          _ => writes.foreach(_())
        }
        (System.nanoTime() - t) / 1e9
      }, deltaDir)
    (layers, realW, realW.wall)
  }

  def report: Map[String, Any] = Map(
    "pages" -> pages.map(_.toString),
    "phases" -> deltas.map { case (t, d) => t -> d.toSeq }.toMap)
}

/** The nightly training-data recipe over a corpus: stage flags (language,
  * Gopher quality, exact dedup, decontamination), MinHash near-dup
  * survivors, suffix-array span removal, then the survivors are written. */
final class CorpusDedup(input: String, out: String, meta: JsonNode) extends Workload {
  private var tag = ""
  private val written = scala.collection.mutable.LinkedHashSet.empty[String]

  val recordsPerBatch: Long = meta.get("docs").asLong

  def prepare(spark: SparkSession): Unit = ()

  def startPhase(t: String): Unit = tag = t

  // a full batch would cost as much as the traced one; the near-dup prefix
  // loads the scan, Gopher, language and MinHash kernels
  override def traceWarmUp(spark: SparkSession): Unit = {
    Materialize(near(spark))
    Workload.release(spark)
  }

  // A traced run that repeated the whole batch untraced and at local[1]
  // would not end within the run's limit (about 40 s a warm batch on 4
  // vCPUs). It repeats the stage-flags + MinHash prefix instead: the
  // batch's parallel part, which the traced batch times as its near-dup
  // prefix.
  override def compareUnit(spark: SparkSession): Unit = Materialize(near(spark))

  private def docs(spark: SparkSession) = Tables.documents(spark, input)
  private def flags(spark: SparkSession) = Recipe.stageFlags(docs(spark))
  private def kept(spark: SparkSession) =
    flags(spark).filter(col("_surv_c")).select("doc_id", "text")
  private def near(spark: SparkSession) =
    Dedup.minhashSurvivors(kept(spark), "doc_id", "text", k = 3, numHashes = 16, threshold = 0.8)
  // suffixSpansRemove builds the suffix array eagerly (driver-side loop)
  // and reads its input once per round; the survivors are persisted at
  // that stage boundary, where a deployment lands them in a staging table
  // (the stance Dedup.nearDupPairsAfterExact documents)
  private def clean(spark: SparkSession) =
    SuffixArray.suffixSpansRemove(near(spark).persist(), "doc_id", "text")

  private def write(df: DataFrame): Unit = {
    df.write.mode(SaveMode.Overwrite).parquet(s"$out/$tag/clean")
    written += tag
  }

  def runBatch(spark: SparkSession): Unit = write(clean(spark))

  def traceBatch(spark: SparkSession, probe: Probe, spans: Spans,
      batch: String): (Map[String, Double], Window[Unit], Double) = {
    // each prefix is built from fresh frames and starts with no caches,
    // so consecutive prefixes differ by exactly one layer's work
    def prefix(name: String)(df: => DataFrame): Window[Unit] = {
      Workload.release(spark)
      Workload.timed(spans, probe, name, batch)(Materialize(df))
    }
    val scan = prefix("sources.scan")(docs(spark))
    val kernel = prefix("plans.kernel")(docs(spark).select(
      Dedup.shingles(col("text"), 3).as("g3"), Dedup.shingles(col("text"), 5).as("g5")))
    val quality = prefix("functions.quality")(TextAnalysis.gopherChain(docs(spark),
        "doc_id", "text", minWords = 8, maxWords = 100000, keepCols = Seq("text"))
      .withColumn("_lang_ok", TextAnalysis.langId(col("text")) === lit("en")))
    val staged = prefix("functions.exact_dedup")(flags(spark))
    val nearW = prefix("functions.near_dup")(near(spark))
    Workload.release(spark)
    // the real batch in two spans: the suffix-array build runs inside
    // suffixSpansRemove (and computes its persisted input once); the
    // write evaluates the removal's lazy rebuild and commits
    var spanW: Window[DataFrame] = null
    var writeW: Window[Unit] = null
    val realW = Workload.timed(spans, probe, "batch", batch) {
      spanW = Workload.timed(spans, probe, "functions.span_removal", batch)(clean(spark))
      writeW = Workload.timed(spans, probe, "sinks.write", batch)(write(spanW.value))
    }
    val (bytes, files) = Workload.outputSize(Paths.get(out, tag, "clean"))
    val layers = Map(
      "sources.read_s" -> scan.wall,
      "sources.input_bytes" -> scan("sources.input_bytes"),
      "sources.input_records" -> scan("sources.input_records"),
      "sources.scan_tasks" -> scan("spark.scheduler.tasks"),
      "sources.files_listed" -> scan("sources.files_listed"),
      "plans.kernel_s" -> (kernel.wall - scan.wall),
      "functions.quality_s" -> (quality.wall - scan.wall),
      "functions.exact_dedup_s" -> (staged.wall - quality.wall),
      "functions.near_dup_s" -> (nearW.wall - staged.wall),
      "functions.span_removal_s" -> (spanW.wall - nearW.wall),
      "sinks.write_s" -> (writeW.wall - writeW.tail),
      "sinks.commit_s" -> writeW.tail,
      "sinks.bytes_written" -> bytes,
      "sinks.files_written" -> files,
      "sinks.bytes_per_record" -> bytes / recordsPerBatch)
    (layers, realW, nearW.wall)
  }

  override def traceOnce(spark: SparkSession): Map[String, Double] = {
    val survivors = kept(spark).persist()
    val candidates = Dedup.minhashCandidates(survivors, "doc_id", "text", k = 3, numHashes = 16)
      .count().toDouble
    val verified = Dedup.minhashDedupPairs(survivors, "doc_id", "text", k = 3, numHashes = 16,
      threshold = 0.8).count().toDouble
    Workload.release(spark)
    Map("functions.lsh_candidates" -> candidates,
      "functions.lsh_precision" -> verified / math.max(1.0, candidates))
  }

  def report: Map[String, Any] = Map(
    "phases" -> written.map(t => t -> Map("dir" -> s"$out/$t")).toMap,
    "oracles" -> Seq("recipe_pretrain_funnel", "dedup_minhash", "suffix_spans_remove")
      .map(q => q -> graft.queries.Catalog.oracleSql(q)).toMap)
}
