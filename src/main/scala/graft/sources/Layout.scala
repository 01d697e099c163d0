package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layout policies for the 100 TB deployment — how extracted data
  * should be WRITTEN so later queries prune instead of scan.
  *
  * The reference streams records out and never owns a layout; an engine
  * that lands 100 TB of extracted data must. Two policies:
  *
  *  - time-partitioned: `partitionBy(date)` directories. Any query with a
    *  date predicate turns into directory pruning (`PartitionFilters` in the
    *  scan, zero IO for excluded days) — the natural layout for the events/
    *  watermark workload, and what makes incremental re-extraction cheap
    *  (each delta window lands in its own partitions).
  *  - bucketed: `bucketBy(n, key)` tables for the repeated-join workload
  *    (see `operators.Joins.coLocatedJoin`) — both sides pre-hashed, joins
  *    plan with zero Exchange.
  */
object Layout {

  /** Land an events-shaped frame partitioned by day (derived from `tsCol`).
    * Partition count = days, not cardinality — safe directory fan-out. */
  def writePartitionedByDay(df: DataFrame, path: String,
      tsCol: String = "ts"): Unit =
    df.withColumn("event_date", to_date(col(tsCol)))
      // repartition by the partition column BEFORE a partitionBy write:
      // otherwise every upstream task opens a writer per day it touches
      // (tasks x days tiny files — the classic dynamic-partition
      // anti-pattern); keyed repartition lands one file per day
      .repartition(col("event_date"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("event_date")
      .parquet(path)

  /** Read back with a day predicate — Catalyst resolves it against the
    * partition column, so the scan's `PartitionFilters` excludes whole
    * directories before any file IO. */
  def readDay(spark: SparkSession, path: String, day: String): DataFrame =
    Tables.parquet(spark, path).filter(col("event_date") === lit(day))

  /** Compact a frame into ~`targetFileBytes` parquet files, range-clustered
    * and sorted on `sortCols` so every output file carries tight min/max
    * column stats (row-group + file skipping on later scans).
    *
    * This is the small-files maintenance op every long-running extraction
    * lands on: streaming/incremental runs produce one file per micro-batch
    * per partition, and a 100 TB table accumulates millions of KB-sized
    * files whose open/footer cost dominates scans. File count is derived
    * from the REAL input bytes (not row counts), so the op sizes output to
    * the storage budget; `repartitionByRange` keeps the clustering a single
    * shuffle. Returns the file count written. */
  def compact(df: DataFrame, path: String, sortCols: Seq[String],
      targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val hconf = df.sparkSession.sparkContext.hadoopConfiguration
    val bytes = df.inputFiles.map { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(hconf).getFileStatus(hp).getLen
    }.sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    df.repartitionByRange(nFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
    nFiles
  }

  /** [[compact]] for a PARTITIONED layout (e.g. the near-dup band index or
    * an IVF cell layout, both of which accumulate one small file per
    * append/micro-batch per partition): same real-bytes file-count math,
    * but the output keeps `partitionBy(partCol)` so partition pruning and
    * dynamic partition pruning on the probe path survive the maintenance
    * op. Range-clustering on (partCol, sortCols…) keeps each output task
    * writing into few partition directories. */
  def compactPartitioned(df: DataFrame, path: String, partCol: String,
      sortCols: Seq[String],
      targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val hconf = df.sparkSession.sparkContext.hadoopConfiguration
    val bytes = df.inputFiles.map { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(hconf).getFileStatus(hp).getLen
    }.sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    df.repartitionByRange(nFiles, (partCol +: sortCols).map(col): _*)
      .sortWithinPartitions((partCol +: sortCols).map(col): _*)
      .write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(path)
    nFiles
  }

  /** Land a day-partitioned PARTIAL-aggregate rollup of an events-shaped
    * frame: per (day, group) one row of associative state — counts and
    * exact cent sums. This is incremental view maintenance for the
    * append-only 100 TB log: each new day's raw data aggregates once into
    * its own partition (re-running a day overwrites just that directory),
    * and any date-range query then reads a few KB of partials instead of
    * re-scanning raw events. Works because the states are ASSOCIATIVE
    * (longs add), the same property that makes them partial-agg safe
    * inside Spark. */
  def writeDailyRollup(events: DataFrame, path: String,
      tsCol: String = "ts", groupCol: String = "event_type",
      valueCol: String = "value"): Unit =
    events
      .withColumn("event_date", to_date(col(tsCol)))
      .groupBy("event_date", groupCol)
      .agg(count(lit(1)).as("n_events"),
        sum(round(col(valueCol) * 100).cast("long")).as("value_cents"))
      // one writer (and so one file) per day — see writePartitionedByDay
      .repartition(col("event_date"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("event_date")
      .parquet(path)

  /** Answer a date-range aggregate FROM the rollup: partition pruning
    * keeps IO to the touched days; the merge is a sum of partial states —
    * exactly what a final-mode aggregate does, so the result is identical
    * to aggregating the raw range. */
  def readRollupRange(spark: SparkSession, path: String,
      fromDay: String, toDay: String,
      groupCol: String = "event_type"): DataFrame =
    Tables.parquet(spark, path)
      .filter(col("event_date") >= lit(fromDay) &&
        col("event_date") <= lit(toDay))
      .groupBy(groupCol)
      .agg(sum(col("n_events")).as("n_events"),
        (sum(col("value_cents")).cast("double") / 100.0).as("value_sum"))

  /** Day-partitioned HLL SUB-SKETCH rollup — incremental view maintenance
    * for DISTINCT-cardinality dashboards, where [[writeDailyRollup]]'s
    * additive states cannot help (distinct counts don't add across days).
    * Per (day, group, bucket) one max-rho row: at most 4096 small rows per
    * (day, group) regardless of raw volume. Each new day lands its own
    * partition; any date-range distinct estimate then MERGES the touched
    * days' sketches by bucket-wise max (associative + idempotent — a
    * re-landed day is harmless) and never re-reads raw events. */
  def writeDailyHllSketch(events: DataFrame, path: String, value: Column,
      tsCol: String = "ts", groupCol: String = "event_type"): Unit =
    graft.functions.Sketches.hllSketch(
        events.withColumn("event_date", to_date(col(tsCol))),
        Seq("event_date", groupCol), value)
      .repartition(col("event_date"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("event_date")
      .parquet(path)

  /** Distinct-cardinality estimate for a date range FROM the sketch
    * rollup: partition pruning keeps IO to the touched days, the merge
    * moves <= days x 4096 longs per group, and the result is bit-identical
    * to sketching the raw range directly (the HLL merge law — pinned by
    * the gate oracle, which does exactly that). */
  def readHllRangeEstimate(spark: SparkSession, path: String,
      fromDay: String, toDay: String,
      groupCol: String = "event_type"): DataFrame = {
    val merged = Tables.parquet(spark, path)
      .filter(col("event_date") >= lit(fromDay) &&
        col("event_date") <= lit(toDay))
      .groupBy(groupCol, "bucket")
      .agg(max("max_rho").as("max_rho"))
    graft.functions.Sketches.hllEstimate(merged, Seq(groupCol))
  }

  /** Rolling `windowDays`-day distinct curve FROM the sketch rollup: the
    * per-group "7-day active users per day" dashboard computed entirely
    * over the landed day-sketches — the day×window bucket-max merge runs
    * on <= days × 4096-row metadata against the broadcast day list, and
    * raw events are never read (they were sketched once, at land time).
    * Bit-identical to sketching each raw window directly (idempotent max
    * + the merge law), which is exactly what the gate oracle does. */
  def readHllRollingCurve(spark: SparkSession, path: String,
      windowDays: Int, groupCol: String = "event_type"): DataFrame = {
    require(windowDays >= 1, "windowDays must be positive")
    val sk = Tables.parquet(spark, path)
      .select(col("event_date").as("day"), col(groupCol),
        col("bucket"), col("max_rho"))
    val days = sk.select(col("day").as("w_day")).distinct()
    val merged = sk.join(broadcast(days),
        col("day") >= date_sub(col("w_day"), windowDays - 1) &&
          col("day") <= col("w_day"))
      .groupBy(col(groupCol), col("w_day"), col("bucket"))
      .agg(max("max_rho").as("max_rho"))
      .withColumnRenamed("w_day", "day")
    graft.functions.Sketches.hllEstimate(merged, Seq(groupCol, "day"))
      .withColumn("day", col("day").cast("string"))
  }

  /** Day-partitioned log-histogram quantile sub-sketches — the same
    * incremental-maintenance layout as [[writeDailyHllSketch]] for the
    * DISTRIBUTION instead of the cardinality: each ingest slice lands its
    * bucket counts once; any later range/rollup question re-aggregates
    * the tiny states, never raw events. */
  def writeDailyLogHistSketch(events: DataFrame, path: String, value: Column,
      tsCol: String = "ts", groupCol: String = "event_type"): Unit =
    graft.functions.Sketches.logHistSketch(
        events.withColumn("event_date", to_date(col(tsCol))),
        Seq("event_date", groupCol), value)
      .repartition(col("event_date"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("event_date")
      .parquet(path)

  /** Quantile estimates for a date range FROM the sketch rollup:
    * partition pruning keeps IO to the touched days, the merge moves
    * <= days x ~1K bucket counts per group, and the result is
    * bit-identical to sketching the raw range directly (bucket counts
    * are additive — pinned by the gate oracle, which does exactly that). */
  def readLogHistRangeQuantiles(spark: SparkSession, path: String,
      fromDay: String, toDay: String, permilles: Seq[Int],
      groupCol: String = "event_type"): DataFrame = {
    val merged = Tables.parquet(spark, path)
      .filter(col("event_date") >= lit(fromDay) &&
        col("event_date") <= lit(toDay))
      .groupBy(groupCol, "e", "sub")
      .agg(sum("cnt").as("cnt"))
    graft.functions.Sketches.logHistQuantiles(merged, Seq(groupCol), permilles)
  }

  /** Coarser-granularity view FROM the daily partials — the cascade that
    * makes rollup maintenance compose: weekly (epoch-week) totals are a
    * re-aggregation of the day states, never of raw events, because the
    * states are associative. Epoch-day integer arithmetic keeps the week
    * assignment engine-exact. */
  def readRollupWeekly(spark: SparkSession, path: String,
      groupCol: String = "event_type"): DataFrame =
    Tables.parquet(spark, path)
      .withColumn("wk", expr("unix_date(event_date) div 7"))
      .groupBy("wk", groupCol)
      .agg(sum(col("n_events")).as("n_events"),
        (sum(col("value_cents")).cast("double") / 100.0).as("value_sum"))

  /** Land a table bucketed + sorted on its lookup key — the SERVING layout
    * for point reads over extracted data: a key-equality (or IN-list)
    * filter prunes to the matching buckets at plan time
    * (`SelectedBucketsCount` in the scan), so a lookup reads 1/buckets of
    * the table regardless of size, and the per-file sort keeps row-group
    * stats tight inside each bucket. Same warehouse mechanics as
    * [[graft.operators.Joins.coLocatedJoin]]. */
  def writeKeyBucketed(df: DataFrame, key: String, buckets: Int,
      table: String): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val loc = java.nio.file.Paths.get(wh, table)
    if (java.nio.file.Files.exists(loc)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(loc).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
    }
    df.write.bucketBy(buckets, key).sortBy(key).saveAsTable(table)
  }

  /** Point lookup over a [[writeKeyBucketed]] table: bucket pruning keeps
    * the scan to the buckets the keys hash into. The auto-bucketed-scan
    * planner rule only keeps bucketed scans for distribution requirements
    * (joins/aggs) — it would discard the PRUNING benefit here and scan
    * every bucket — so it's pinned off (bucketed tables in this engine
    * exist precisely to be scanned bucketed). */
  def lookupKeys(spark: SparkSession, table: String, key: String,
      keys: Seq[Long]): DataFrame = {
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    spark.table(table).filter(col(key).isin(keys: _*))
  }

  /** Morton (Z-order) value of two non-negative integer columns: the low
    * `bits` bits of each interleave (a's bit i lands at 2i+1, b's at 2i),
    * so range-clustering on the z-value keeps BOTH dimensions locally
    * narrow in every output file — the multi-column file-skipping layout
    * (Delta/Iceberg OPTIMIZE ZORDER) for tables queried by two independent
    * selective predicates, where a plain sort nails one dimension and
    * spreads the other across every file. Pure bit arithmetic (shift/and/
    * add) — codegen'd, engine-portable, SQL-recomputable for the gate. */
  def zValue(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
      bits: Int = 16): org.apache.spark.sql.Column = {
    require(bits >= 1 && bits <= 31)
    val mask = (1L << bits) - 1
    val al = a.cast("long").bitwiseAND(lit(mask))
    val bl = b.cast("long").bitwiseAND(lit(mask))
    (0 until bits).map { i =>
      shiftleft(shiftright(al, i).bitwiseAND(lit(1L)), 2 * i + 1) +
        shiftleft(shiftright(bl, i).bitwiseAND(lit(1L)), 2 * i)
    }.reduce(_ + _)
  }

  /** DuckDB SQL rendering of [[zValue]] over the given column expressions —
    * the oracle's half of the contract. */
  def zValueSql(a: String, b: String, bits: Int = 16): String = {
    val mask = (1L << bits) - 1
    (0 until bits).map { i =>
      s"((((($a) & $mask) >> $i) & 1) << ${2 * i + 1}) + " +
        s"((((($b) & $mask) >> $i) & 1) << ${2 * i})"
    }.mkString("(", " + ", ")")
  }

  /** Write `df` clustered by the Morton curve over (colA, colB): normalize
    * each column to its own [0, 2^bits) range (otherwise the wider-domain
    * column's high bits own the curve and the layout degenerates to a
    * single-column sort), compute the z-value, range-partition on it (one
    * shuffle, like [[compact]]), sort within partitions, drop the helpers.
    * Every file then holds a z-contiguous block — tight min/max stats on
    * BOTH columns, so scans filtering either (or both) skip most files.
    * The min/max normalizers are one driver-side aggregate row (metadata);
    * (x-min)*mask must stay under 2^53 (true for any real column at
    * bits<=16 unless the raw range exceeds ~1.4e11). */
  def writeZOrdered(df: DataFrame, colA: String, colB: String, path: String,
      numFiles: Int = 8, bits: Int = 16): Unit = {
    val mask = (1L << bits) - 1
    val r = df.agg(
      min(col(colA)).cast("long"), max(col(colA)).cast("long"),
      min(col(colB)).cast("long"), max(col(colB)).cast("long")).head()
    def scaled(c: String, lo: Long, hi: Long) =
      if (hi > lo) floor((col(c).cast("long") - lit(lo)) * lit(mask) /
        lit(hi - lo)).cast("long")
      else lit(0L)
    df.withColumn("_z", zValue(
        scaled(colA, r.getLong(0), r.getLong(1)),
        scaled(colB, r.getLong(2), r.getLong(3)), bits))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Retention maintenance over a partitioned layout: DELETE whole
    * partition directories whose `partCol` value sorts strictly below
    * `cutoff` (partition values are directory names — day strings compare
    * lexicographically in date order). This is the other half of the
    * time-partitioned contract: expiry is O(#expired directories) of
    * metadata work, ZERO data reads/rewrites — the reason retention policy
    * should always align with the partition key. Returns the deleted
    * partition values. Readers racing an expiry see standard
    * eventual-list-consistency (same as any compaction); at 100 TB this
    * runs in the maintenance window like [[compact]]. */
  def expirePartitions(spark: SparkSession, path: String, partCol: String,
      cutoff: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    val prefix = partCol + "="
    // partition dir names are Hive-escaped (%XX only) by Spark's
    // escapePathName; URLDecoder is NOT its inverse ('+' would decode to a
    // space) — use the catalog's own unescape
    def unescape(name: String): String =
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(name.stripPrefix(prefix))
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map(s => s.getPath)
      .filter(p => unescape(p.getName) < cutoff)
      .map { p =>
        val v = unescape(p.getName)
        fs.delete(p, true)
        v
      }
  }

  /** Compaction planner — the small-file maintenance advisor every large
    * parquet estate runs nightly: group the file census by its partition
    * key, order each group's files (size DESC, id ASC — first-fit-
    * decreasing's ordering), and assign bins by cumulative size:
    * `bin = cum_before div targetBytes` (next-fit on the sorted list).
    * One row per planned output file: (group, bin, n_files, bytes) — the
    * rewrite job then coalesces each bin. Deterministic, one window
    * PARTITIONED by the group key (file censuses are per-partition
    * metadata, never data), one partial-aggregable rollup. The oracle
    * replays the identical cumulative rule. */
  def compactionPlan(files: DataFrame, groupCol: String, idCol: String,
      sizeCol: String, targetBytes: Long): DataFrame = {
    require(targetBytes >= 1, "targetBytes must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("_sz").desc, col(idCol))
    files
      .select(col(groupCol), col(idCol), col(sizeCol).cast("long").as("_sz"))
      .withColumn("_cum", sum(col("_sz")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .withColumn("bin", expr(s"(_cum - _sz) div ${targetBytes}L"))
      .groupBy(col(groupCol), col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("_sz")).as("bytes"))
  }
}
