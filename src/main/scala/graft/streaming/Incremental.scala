package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The reference's incremental/streaming semantics, Spark-native.
  *
  * Reference (`/root/reference/wadlabs/hub/migration/`):
  *  - a `modified_timestamp_filter` high-watermark captured at first fetch
  *    and persisted to Redis (`datacrawler.py:486-491`), restored on restart
  *    (`datacrawler.py:400-408`); rows with ts >= watermark are ignored
  *    (`worker.py:194-198`) — snapshot consistency for one logical
  *    extraction across interruptions;
  *  - per-sink per-page DONE state + record offsets for resume
  *    (`worker.py:164-188`, `datacrawler.py:202-209`).
  *
  * Here the watermark store is a file directory (standing in for Redis; at
  * scale: a DFS/checkpoint path — a single tiny key per table, not data),
  * and resume maps to Structured Streaming's checkpointed file source +
  * idempotent `foreachBatch` (batchId-keyed), which is the 100 TB-correct
  * seat: the checkpoint tracks *files/offsets*, never a global row counter.
  */
object Incremental {

  /** File-backed watermark store: one `<table>.watermark` file holding epoch
    * millis — the Redis key `<table>-modified-timestamp-filter` analogue. */
  final class WatermarkStore(dir: String) {
    Files.createDirectories(Paths.get(dir))
    private def file(table: String): Path = Paths.get(dir, s"$table.watermark")
    def load(table: String): Option[Long] =
      if (Files.exists(file(table))) Some(Files.readString(file(table)).trim.toLong)
      else None
    def save(table: String, millis: Long): Unit =
      Files.writeString(file(table), millis.toString)
    def clear(table: String): Unit = Files.deleteIfExists(file(table))
  }

  /** Snapshot-consistent run (reference semantics): on first call the
    * watermark is captured (`nowMillis`) and persisted; every (re-)run
    * filters to rows strictly before it, so an interrupted-and-restarted
    * extraction never double-processes rows mutated mid-run. */
  def snapshotRun(df: DataFrame, tsMillis: Column, store: WatermarkStore,
      table: String, nowMillis: Long): DataFrame = {
    val wm = store.load(table).getOrElse {
      store.save(table, nowMillis); nowMillis
    }
    df.filter(tsMillis.isNull || tsMillis < lit(wm))
  }

  /** One incremental delta window: the filtered frame plus an explicit
    * `commit()` that advances the stored watermark. The watermark moves only
    * on commit — if the caller's action fails (or the frame is never acted
    * on), the next run re-reads the same window instead of silently skipping
    * it. */
  final case class IncrementalBatch(frame: DataFrame, lower: Long, upper: Long,
      private val store: WatermarkStore, private val table: String) {
    def commit(): Unit = store.save(table, upper)
  }

  /** Incremental window run (the re-run protocol the reference enables):
    * rows in [previous watermark, now); the caller advances the watermark
    * via `commit()` AFTER its action on the frame succeeds — at-least-once,
    * never silent loss (the reference's page-DONE state is likewise only
    * written after the sink ack, `worker.py:164-188`). */
  def incrementalRun(df: DataFrame, tsMillis: Column, store: WatermarkStore,
      table: String, nowMillis: Long): IncrementalBatch = {
    val lower = store.load(table).getOrElse(Long.MinValue)
    val frame = df.filter(tsMillis >= lit(lower) && tsMillis < lit(nowMillis))
    IncrementalBatch(frame, lower, nowMillis, store, table)
  }

  /** Run-and-commit convenience: applies `action` to the delta frame and
    * advances the watermark only if it returns without throwing. */
  def incrementalRunCommitted[T](df: DataFrame, tsMillis: Column,
      store: WatermarkStore, table: String, nowMillis: Long)
      (action: DataFrame => T): T = {
    val batch = incrementalRun(df, tsMillis, store, table, nowMillis)
    val out = action(batch.frame)
    batch.commit()
    out
  }

  /** Streaming scan of an events-shaped parquet directory — the unbounded
    * analogue of the reference's pagination loop (`datacrawler.py:464`).
    * `maxFilesPerTrigger` plays `fetch_size` (bounded batch per trigger). */
  def readEventsStream(spark: SparkSession, dir: String, schema: StructType,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Watermarked tumbling-window aggregation: event counts + value sums per
    * (window, event_type), late rows beyond `delay` dropped — the streaming
    * seat of `filter_modified_ts`. */
  def windowedCounts(events: DataFrame, tsCol: String = "ts",
      windowLen: String = "1 hour", delay: String = "30 minutes"): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Watermarked SESSION-window aggregation (gap-close semantics): event
    * counts per (session, user), late rows beyond `delay` dropped — the
    * streaming seat of the batch `window_session` catalog query. Sessions
    * are Spark-managed state: fragments merge as events arrive and a
    * session closes `gap` after its last event passes the watermark. */
  def sessionCounts(events: DataFrame, tsCol: String = "ts",
      gap: String = "30 minutes", delay: String = "30 minutes"): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n"))

  /** Streaming exact dedup — the streaming seat of `dedup_exact`: drop
    * re-deliveries of the same key within the watermark horizon. State is
    * keyed by `idCols` and expired by the watermark, so it cannot grow
    * unboundedly (the property that makes streaming dedup viable at all at
    * 100 TB — an unwatermarked dropDuplicates keeps every key forever). */
  def streamingDedup(df: DataFrame, idCols: Seq[String], tsCol: String = "ts",
      delay: String = "30 minutes"): DataFrame =
    df.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  /** Streaming seat of [[graft.functions.Sketches.hllSketch]] — the live
    * distinct-cardinality dashboard. The HLL sketch IS a (group, bucket)
    * max aggregate, so Structured Streaming's state store holds exactly
    * the sketch: at most groups × 4096 small rows, BOUNDED regardless of
    * stream length — where a streaming COUNT(DISTINCT) would have to keep
    * every key ever seen. No watermark is needed or wanted: max is
    * monotone and idempotent, so late or replayed data can only confirm
    * or refine the sketch, never corrupt it, and the converged state is
    * bit-identical to the batch sketch over the same rows (pinned by
    * test). Feed [[graft.functions.Sketches.hllEstimate]] with any
    * snapshot of the output for the estimate. */
  def streamingHllSketch(df: DataFrame, groupCols: Seq[String],
      value: Column): DataFrame =
    graft.functions.Sketches.hllSketch(df, groupCols, value)

  /** Streaming maintenance of the day-partitioned HLL sketch LAYOUT
    * ([[graft.sources.Layout.writeDailyHllSketch]]): each micro-batch
    * sketches ITSELF per (day, group, bucket) and APPENDS under the day
    * partitions. No dynamic-overwrite dance is needed here, unlike the
    * additive rollups: bucket-max is IDEMPOTENT, so a replayed batch's
    * duplicate sub-sketch rows are absorbed by the read-side
    * `groupBy(bucket).max(max_rho)` that every consumer
    * ([[graft.sources.Layout.readHllRangeEstimate]] /
    * `readHllRollingCurve`) already performs — replay-immunity comes from
    * the algebra, not from write-path bookkeeping (pinned by test: stream
    * + replay == batch sketch bit-exact). Per-batch appended state is
    * <= days × groups × 4096 small rows. */
  def hllRollupMaintenance(rollupDir: String, tsCol: String = "ts",
      groupCol: String = "event_type",
      valueCol: String = "user_id"): (DataFrame, Long) => Unit = {
    (batch: DataFrame, _: Long) =>
      graft.functions.Sketches.hllSketch(
          batch.withColumn("event_date", to_date(col(tsCol))),
          Seq("event_date", groupCol), col(valueCol))
        .write.mode("append").partitionBy("event_date").parquet(rollupDir)
  }

  /** Run `sink` over every micro-batch of `df` as an AvailableNow stream
    * (drain what is there, then stop) with restart state in
    * `checkpointDir` — the one streaming wiring every per-batch sink in
    * this object plugs into (`availableNow(df, ckpt)(nearDupGate(...))`).
    * Resume state lives entirely in the checkpoint (file-source offsets +
    * batch WAL), the Spark-native replacement for Redis page state. */
  def availableNow(df: DataFrame, checkpointDir: String,
      outputMode: String = "append")(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(outputMode)
      .foreachBatch(sink)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming seat of the log-histogram quantile sketch
    * ([[graft.functions.Sketches.logHistSketch]]). Bucket COUNTS are
    * additive, not idempotent — a replayed micro-batch would double-count
    * if the state lived in a streaming aggregation. So cross-batch state
    * lives as per-BATCH sub-sketch partitions in parquet (the
    * ManifestSink epoch-idempotence stance): each micro-batch writes its
    * own bucket counts under `batch_id=<epoch>` with DYNAMIC partition
    * overwrite, so a re-delivered batch overwrites ITS OWN partition and
    * can never double-count (pinned by test). Per-batch state is
    * bucket-count-sized (~KB); any snapshot quantile read merges the
    * partitions by bucket-wise sum, bit-identical to the batch sketch
    * over the same rows. */
  def logHistSketchSink(path: String, groupCols: Seq[String],
      value: Column): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) =>
      graft.functions.Sketches.logHistSketch(batch, groupCols, value)
        .withColumn("batch_id", lit(batchId))
        .coalesce(1)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)

  /** Snapshot read of the [[logHistSketchSink]] state: merged sketch,
    * ready for [[graft.functions.Sketches.logHistQuantiles]]. */
  def readLogHistSketchState(spark: SparkSession, path: String,
      groupCols: Seq[String]): DataFrame =
    graft.functions.Sketches.logHistMerge(
      Seq(spark.read.parquet(path)), groupCols)

  /** Streaming NEAR-dup gate — the streaming seat of
    * [[graft.functions.Dedup.nearDupAgainstCorpus]]: each micro-batch
    * (1) near-dedups within itself, (2) probes the PERSISTED band index of
    * everything accepted so far and drops batch docs that near-match the
    * accepted corpus, (3) appends the survivors to the accepted corpus and
    * their band rows to the index — so batch N+1 near-dedups against every
    * earlier batch without re-signaturing any of them.
    *
    * All cross-batch state lives in parquet (the band-partitioned index +
    * the accepted table), NOT in executor memory: the state a Spark
    * streaming aggregation would hold for this is the full corpus
    * signature set, which no state store should carry at 100 TB — the
    * parquet index is bounded, shared, and survives restarts for free.
    * foreachBatch runs batches sequentially, so the read-probe-append
    * cycle is race-free by construction.
    *
    * Replay-safe without batchId markers: if a committed batch is
    * re-delivered after a restart, every accepted doc in it near-matches
    * its OWN copy in the index (identical text => identical band keys and
    * Jaccard 1 >= any threshold <= 1), so the probe drops the whole
    * replay and the append is a no-op — idempotence falls out of the
    * dedup semantics themselves (pinned by test). */
  def nearDupGate(indexDir: String, acceptedDir: String,
      idCol: String, textCol: String, k: Int = 3, numHashes: Int = 16,
      threshold: Double = 0.5, bandRows: Int = 2): (DataFrame, Long) => Unit = {
    (batch: DataFrame, _: Long) =>
      val spark = batch.sparkSession
      import graft.functions.Dedup
      // within-batch near-dedup first (a micro-batch is small; the
      // exact-first composition matters at corpus scale, not here)
      val inBatch = Dedup.minhashSurvivors(batch, idCol, textCol,
        k, numHashes, threshold, bandRows)
      val hasState = Files.exists(Paths.get(acceptedDir)) &&
        Files.exists(Paths.get(indexDir))
      graft.functions.Caches.scoped { scope =>
        val survivors = scope.persist(if (!hasState) inBatch else {
          val corpus = spark.read.parquet(acceptedDir)
          val index = spark.read.parquet(indexDir)
          val hits = Dedup.nearDupAgainstCorpus(inBatch, corpus, index,
              idCol, textCol, k, numHashes, threshold, bandRows)
            .select(col("id_new").as(idCol)).distinct()
          inBatch.join(hits, Seq(idCol), "left_anti")
        })
        survivors.write.mode("append").parquet(acceptedDir)
        Dedup.bandIndex(survivors, idCol, textCol, k, numHashes, bandRows)
          .write.mode("append").partitionBy("band").parquet(indexDir)
      }
  }

  /** Streaming rollup maintenance — the continuous form of
    * [[graft.sources.Layout.writeDailyRollup]]: each micro-batch lands its
    * OWN partial-aggregate states under `(event_date, batch_id)`
    * partitions. Idempotency is structural, not stateful: a replayed batch
    * dynamically overwrites exactly its own `batch_id` partitions (the
    * write is keyed by the same id the checkpoint replays), and range
    * readers just merge more partials — the states are associative, so
    * per-batch granularity changes nothing downstream. No executor-memory
    * state, no read-modify-write of previous days. */
  def rollupMaintenance(rollupDir: String, tsCol: String, groupCol: String,
      valueCol: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      // overwrite mode as a WRITER option, not a session-conf mutation:
      // the set/restore form was visible to every concurrent query on
      // the shared session for the write's duration
      batch
        .withColumn("event_date", to_date(col(tsCol)))
        .groupBy("event_date", groupCol)
        .agg(count(lit(1)).as("n_events"),
          sum(round(col(valueCol) * 100).cast("long")).as("value_cents"))
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_date", "batch_id")
        .parquet(rollupDir)
  }

  /** Streaming CDC log — the write side of
    * [[graft.functions.Merge.readMergeOnRead]]: each micro-batch of change
    * rows (op/seq/payload) appends under its own `batch_id` partition, so
    * a checkpoint replay overwrites exactly its own partition (the same
    * structural idempotency as [[rollupMaintenance]]) and the base
    * snapshot is never read-modify-written on the hot path. */
  def cdcLog(changesDir: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      // writer-scoped overwrite mode (see rollupMaintenance)
      batch.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(changesDir)
  }

  /** Streaming quality gate with a DEAD-LETTER lane: each micro-batch is
    * split by the row-local expectation predicate
    * ([[graft.functions.Expectations.rowViolation]]) — clean rows land in
    * `acceptedDir`, violating rows in `quarantineDir` with the reason
    * recorded; both under their own `batch_id` partition, so a checkpoint
    * replay overwrites exactly its own partitions (the [[rollupMaintenance]]
    * idempotency). Nothing is dropped silently: accepted + quarantined =
    * input, and the quarantine lane is re-processable once the upstream
    * defect is fixed. */
  def qualityGate(acceptedDir: String, quarantineDir: String,
      rules: Seq[graft.functions.Expectations.Rule]): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      val bad = graft.functions.Expectations.rowViolation(rules)
      val marked = batch.withColumn("_bad", bad)
        .withColumn("batch_id", lit(batchId))
      // writer-scoped overwrite mode (see rollupMaintenance)
      def land(lane: Column, dir: String): Unit =
        marked.filter(lane).drop("_bad")
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(dir)
      land(!col("_bad"), acceptedDir)
      land(col("_bad"), quarantineDir)
  }

  /** Streaming SEMANTIC near-dup gate — the embedding-space sibling of
    * [[nearDupGate]]: each micro-batch of vectors is (1) near-deduped
    * within the batch (greedy keep-lowest-id over the IVF-cell-blocked
    * pair graph — the same one-pass trade `Dedup.minhashSurvivors`
    * documents; a full CC pass per micro-batch would buy transitive
    * exactness a stream does not need), (2) probed against the persisted
    * cell-partitioned layout of everything accepted so far (partition
    * pruning: only touched cells are read), and (3) survivors APPENDED
    * into the same layout by the frozen quantizer
    * ([[graft.functions.IVF.appendIndexed]]). The index IS the accepted
    * corpus — one parquet dir, all cross-batch state on disk, none in
    * executor memory; replay suppression comes from the streaming
    * checkpoint exactly as with [[nearDupGate]]. */
  def semanticGate(indexDir: String, model: graft.functions.IVF.Model,
      idCol: String, vecCol: String,
      threshold: Double): (DataFrame, Long) => Unit = {
    (batch: DataFrame, _: Long) =>
      val spark = batch.sparkSession
      import graft.functions.{IVF, Similarity}
      val inPairs = Similarity.semanticPairs(batch, vecCol, idCol, model,
        threshold)
      val inBatch = batch.join(
        inPairs.select(col("id_b").as(idCol)).distinct(),
        Seq(idCol), "left_anti")
      val hasState = Files.exists(Paths.get(indexDir))
      graft.functions.Caches.scoped { scope =>
        val survivors = scope.persist(if (!hasState) inBatch else {
          val corpus = spark.read.parquet(indexDir)
          val hits = Similarity.semanticPairsAgainstIndex(inBatch, corpus,
              vecCol, idCol, model, threshold)
            .select(col("id_new").as(idCol)).distinct()
          inBatch.join(hits, Seq(idCol), "left_anti")
        })
        IVF.appendIndexed(survivors, vecCol, idCol, model, indexDir)
      }
  }

  /** Committed-version numbers under a state dir (the Files.list stream
    * is CLOSED — it holds a directory fd until then, and a long-running
    * stream calls this every batch). */
  private def saVersions(stateDir: String, marker: Long => Boolean)
      : Seq[Long] = {
    val d = Paths.get(stateDir)
    if (!Files.exists(d)) Seq.empty
    else {
      val s = Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.matches("b\\d+")).map(_.drop(1).toLong)
          .filter(marker).toSeq
      } finally s.close()
    }
  }


  /** Streaming SUFFIX-ARRAY maintenance — the streaming seat of
    * [[graft.functions.SuffixArray.suffixRanksIncrementalFrom]], closing
    * the daily-crawl loop the incremental merge exists for: each
    * micro-batch of (id, text) documents merges into the landed SA +
    * sidecar instead of re-running the doubling loop over the corpus.
    *
    * State layout under `stateDir` (all parquet, no executor-memory
    * state — the index is corpus-sized, which no state store should
    * carry at 100 TB):
    *   docs/                (id, text, _batch) — batch-partitioned corpus
    *   b<batchId>/ranks     the SA as of that batch
    *   b<batchId>/reps      its merge sidecar
    *
    * Idempotency is STRUCTURAL, version-per-batch (the rollupMaintenance
    * discipline): a batch reads the corpus at `_batch < batchId` and the
    * newest COMMITTED version `< batchId` (commit marker = parquet's own
    * _SUCCESS), recomputes the same merge on replay, overwrites exactly
    * its own version dir + docs partition — so a checkpoint replay after
    * restart adds nothing (pinned by StreamingSpec). Superseded version
    * dirs are left for a TTL sweep in production (bounded: one ranks +
    * reps pair per batch, never rewritten). */
  def saMaintenance(stateDir: String, idCol: String, textCol: String,
      nParts: Int = 32): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      import graft.functions.SuffixArray
      val docsDir = s"$stateDir/docs"
      def committed(v: Long): Boolean =
        Files.exists(Paths.get(stateDir, s"b$v", "ranks", "_SUCCESS")) &&
          Files.exists(Paths.get(stateDir, s"b$v", "reps", "_SUCCESS"))
      val prev = saVersions(stateDir,
        v => v < batchId && committed(v)).maxOption
      // every block this batch pins (the merge/build leave their final
      // checkpoints persisted for lazy callers — here everything lands
      // in parquet, so nothing may stay pinned across batches: a
      // daily-crawl stream would otherwise accumulate a corpus-scale
      // block set per micro-batch until executors fill)
      graft.functions.Caches.sweepingNew(spark) {
        val delta = batch.select(col(idCol), col(textCol))
        // corpus as of batches STRICTLY before this one — the
        // replay-safe read: a re-delivered batch never sees its own
        // earlier partition
        val oldDocs =
          if (Files.exists(Paths.get(docsDir)))
            spark.read.parquet(docsDir).filter(col("_batch") < batchId)
              .select(col(idCol), col(textCol))
          else delta.filter(lit(false))
        val merged = prev match {
          case None => SuffixArray.suffixRanks(oldDocs.unionAll(delta),
            idCol, textCol, nParts)
          case Some(p) => SuffixArray.suffixRanksIncrementalFrom(
            spark.read.parquet(s"$stateDir/b$p/reps"),
            spark.read.parquet(s"$stateDir/b$p/ranks"),
            oldDocs, delta, idCol, textCol, nParts)
        }
        merged.write.mode("overwrite").parquet(s"$stateDir/b$batchId/ranks")
        // sidecar derives from the LANDED ranks (read back — the merge
        // frame is consumed once) + the full corpus including this delta
        SuffixArray.suffixMergeReps(
            spark.read.parquet(s"$stateDir/b$batchId/ranks"),
            oldDocs.unionAll(delta), idCol, textCol)
          .write.mode("overwrite").parquet(s"$stateDir/b$batchId/reps")
        // docs partition lands LAST: a crash anywhere above replays into
        // identical overwrites because this batch's partition is
        // excluded from every read. Overwrite mode is a WRITER option
        // (the rollupMaintenance form at its call site mutated the
        // session conf — racy under a shared session)
        delta.withColumn("_batch", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("_batch").parquet(docsDir)
      }
  }

  /** Newest committed SA version under a [[saMaintenance]] state dir. */
  def readSaRanks(spark: SparkSession, stateDir: String): DataFrame = {
    val vs = saVersions(stateDir, v => Files.exists(
      Paths.get(stateDir, s"b$v", "ranks", "_SUCCESS")))
    require(vs.nonEmpty, s"no committed SA version under $stateDir")
    spark.read.parquet(s"$stateDir/b${vs.max}/ranks")
  }

  /** Idempotent per-batch sink: one output dir per batchId, skipped if it
    * already committed — the `foreachBatch` replay-suppression analogue of
    * the reference's page-DONE state (`worker.py:164-188`). */
  def idempotentBatchWriter(outDir: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      val target = Paths.get(outDir, s"batch-$batchId")
      val marker = Paths.get(outDir, s"batch-$batchId._done")
      if (!Files.exists(marker)) {
        batch.write.mode("overwrite").parquet(target.toString)
        Files.createDirectories(marker.getParent)
        Files.writeString(marker, "done")
      }
  }
}
