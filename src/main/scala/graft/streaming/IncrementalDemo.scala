package graft.streaming

import java.nio.file.Files

import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Runnable end-to-end demo of the incremental/streaming surface:
  * snapshot-watermark runs, delta-window runs, and the checkpointed
  * streaming pipeline with an idempotent foreachBatch sink.
  *
  * `sbt "runMain graft.streaming.IncrementalDemo [sfDir]"`
  */
object IncrementalDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Bench.session("4")

    val ev = Tables.events(spark, sfDir).withColumn("ts_ms", unix_millis(col("ts")))
    val total = ev.count()

    // snapshot protocol: watermark captured once, stable across restarts
    val store = new Incremental.WatermarkStore(
      Files.createTempDirectory("wm-snap").toString)
    val wm = 1717200000000L // 2024-06-01T00:00:00Z
    val r1 = Incremental.snapshotRun(ev, col("ts_ms"), store, "events", wm).count()
    val r2 = Incremental.snapshotRun(ev, col("ts_ms"), store, "events",
      9999999999999L).count()
    println(s"DEMO snapshot: run1=$r1 run2=$r2 (equal despite later 'now'); " +
      s"stored=${store.load("events").get}")

    // incremental protocol: consecutive runs see disjoint deltas
    val store2 = new Incremental.WatermarkStore(
      Files.createTempDirectory("wm-inc").toString)
    val d1 = Incremental.incrementalRunCommitted(
      ev, col("ts_ms"), store2, "events", wm)(_.count())
    val d2 = Incremental.incrementalRunCommitted(
      ev, col("ts_ms"), store2, "events", 9999999999999L)(_.count())
    val d3 = Incremental.incrementalRunCommitted(
      ev, col("ts_ms"), store2, "events", 9999999999999L)(_.count())
    println(s"DEMO incremental: deltas $d1 + $d2 = ${d1 + d2} of $total; rerun=$d3")

    // streaming: file source -> watermarked windows -> idempotent batches;
    // a restart from the same checkpoint must add nothing
    val src = Files.createTempDirectory("stream-src").toString
    ev.drop("ts_ms").write.mode("overwrite").parquet(src)
    val schema = Tables.parquet(spark, src).schema
    val outDir = Files.createTempDirectory("stream-out").toString
    val ckpt = Files.createTempDirectory("stream-ckpt").toString
    def runOnce(): Unit = {
      val q = Incremental.availableNow(
        Incremental.windowedCounts(
          Incremental.readEventsStream(spark, src, schema, maxFilesPerTrigger = 2)),
        ckpt, "update")(Incremental.idempotentBatchWriter(outDir))
      q.awaitTermination(120000)
    }
    runOnce()
    def batchDirs = new java.io.File(outDir).listFiles()
      .filter(f => f.getName.startsWith("batch-") && !f.getName.endsWith("._done"))
    val n1 = batchDirs.length
    runOnce()
    val n2 = batchDirs.length
    val counted = spark.read.parquet(batchDirs.map(_.toString).toIndexedSeq: _*)
      .agg(sum("n")).head().getLong(0)
    println(s"DEMO streaming: batches=$n1 after-restart=$n2 windowedEvents=$counted of $total")
    spark.stop()
  }
}
