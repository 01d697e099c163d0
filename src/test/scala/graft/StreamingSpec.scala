package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.streaming.Incremental
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  def events = Seq(
    (1L, 100L, "click", 1.0), (2L, 200L, "view", 2.0),
    (3L, 300L, "click", 3.0), (4L, 400L, "view", 4.0))
    .toDF("event_id", "ts_ms", "event_type", "value")

  test("snapshotRun: watermark captured once, re-runs see the same snapshot") {
    val store = new Incremental.WatermarkStore(tmp("wm").toString)
    val run1 = Incremental.snapshotRun(events, $"ts_ms", store, "events", 300L)
    assert(run1.select("event_id").as[Long].collect().toSet == Set(1L, 2L))
    // restart with a later 'now': stored watermark still rules (datacrawler.py:400-408)
    val run2 = Incremental.snapshotRun(events, $"ts_ms", store, "events", 999L)
    assert(run2.select("event_id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("incrementalRun: each run sees exactly the delta window") {
    val store = new Incremental.WatermarkStore(tmp("wm2").toString)
    val r1 = Incremental.incrementalRun(events, $"ts_ms", store, "t", 250L)
    assert(r1.frame.select("event_id").as[Long].collect().toSet == Set(1L, 2L))
    r1.commit()
    val r2 = Incremental.incrementalRun(events, $"ts_ms", store, "t", 500L)
    assert(r2.frame.select("event_id").as[Long].collect().toSet == Set(3L, 4L))
    r2.commit()
    val r3 = Incremental.incrementalRun(events, $"ts_ms", store, "t", 500L)
    assert(r3.frame.count() == 0)
  }

  test("incrementalRun: failed action leaves the watermark, window is re-read") {
    val store = new Incremental.WatermarkStore(tmp("wm3").toString)
    // a run whose action throws never commits -> no rows are lost
    intercept[RuntimeException] {
      Incremental.incrementalRunCommitted(events, $"ts_ms", store, "t", 250L) {
        _ => throw new RuntimeException("sink down")
      }
    }
    assert(store.load("t").isEmpty)
    val retried = Incremental.incrementalRunCommitted(
      events, $"ts_ms", store, "t", 250L) {
      f => f.select("event_id").as[Long].collect().toSet
    }
    assert(retried == Set(1L, 2L))
    assert(store.load("t").contains(250L))
  }

  test("WatermarkStore: save/load round-trips; a leftover temp file is ignored") {
    val dir = tmp("wm-atomic")
    val store = new Incremental.WatermarkStore(dir.toString)
    store.save("t", 123L)
    store.save("t", 456L)
    assert(store.load("t").contains(456L))
    // what a crash between the temp write and the rename leaves behind
    Files.writeString(dir.resolve(".t.watermark999.tmp"), "45")
    Files.writeString(dir.resolve(".u.watermark999.tmp"), "")
    assert(store.load("t").contains(456L))
    assert(store.load("u").isEmpty)
    store.save("t", 789L)
    assert(new Incremental.WatermarkStore(dir.toString).load("t").contains(789L))
    assert(Files.list(dir).iterator().asScala
      .count(_.getFileName.toString.endsWith(".tmp")) == 2)
  }

  /** A parquet copy of the test events, read back through `Tables`. */
  private def landedEvents(): (org.apache.spark.sql.DataFrame, Long) = {
    val dir = tmp("inc-src").resolve("t").toString
    graft.sources.Tables.events(spark, GraftTestSpark.Sf0001)
      .select(col("event_id"), col("event_type"), col("value"),
        unix_millis(col("ts")).as("ts_ms"))
      .write.parquet(dir)
    val df = graft.sources.Tables.parquet(spark, dir)
    (df, df.count())
  }

  /** Four differently rendered writes of one delta frame. */
  private def fourSinks(delta: org.apache.spark.sql.DataFrame): Unit = {
    val out = tmp("inc-sinks")
    Seq(delta,
      delta.select(to_json(struct(col("*"))).as("json")),
      delta.select(concat_ws("/", col("event_type"), col("event_id")).as("key")),
      delta.groupBy("event_type").count())
      .zipWithIndex.foreach { case (f, i) => f.write.parquet(s"$out/s$i") }
  }

  test("incrementalRunCommitted: four sinks read the source once") {
    import graft.observability.QueryProfile
    val (df, n) = landedEvents()
    val profile = QueryProfile.install(spark)
    try {
      val store = new Incremental.WatermarkStore(tmp("wm-fan").toString)
      val (_, shared) = profile.window(
        Incremental.incrementalRunCommitted(df, $"ts_ms", store, "t", Long.MaxValue)(fourSinks))
      // the cache's own reads add one record per cached batch, not per row
      assert(shared.inputRecords >= n && shared.inputRecords < 2 * n, shared)
      val (_, unshared) = profile.window(
        fourSinks(Incremental.incrementalRun(df, $"ts_ms", store, "u", Long.MaxValue).frame))
      assert(unshared.inputRecords >= 4 * n, unshared)
    } finally profile.close()
  }

  test("incrementalRunCommitted: the delta's cache dies with the action, " +
      "returned or thrown; the watermark commits only on return") {
    import org.apache.spark.sql.GraftSql
    val (df, n) = landedEvents()
    val store = new Incremental.WatermarkStore(tmp("wm-life").toString)
    val base = GraftSql.cachedEntries(spark)
    intercept[RuntimeException] {
      Incremental.incrementalRunCommitted(df, $"ts_ms", store, "t", Long.MaxValue) { d =>
        d.count()
        assert(GraftSql.cachedEntries(spark) == base + 1)
        throw new RuntimeException("sink down")
      }
    }
    assert(GraftSql.cachedEntries(spark) == base)
    assert(store.load("t").isEmpty)
    val rows = Incremental.incrementalRunCommitted(
        df, $"ts_ms", store, "t", Long.MaxValue) { d =>
      assert(GraftSql.cachedEntries(spark) == base + 1)
      assert(store.load("t").isEmpty)
      d.count()
    }
    assert(rows == n)
    assert(GraftSql.cachedEntries(spark) == base)
    assert(store.load("t").contains(Long.MaxValue))
  }

  test("flatMapGroupsWithState: custom per-user state over a stream equals batch counts") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val srcDir = tmp("fmgs-src")
    import graft.sources.Tables
    val ev = Tables.events(spark, GraftTestSpark.Sf0001)
    ev.write.mode("overwrite").parquet(srcDir.toString)
    val schema = spark.read.parquet(srcDir.toString).schema

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
    val counted = stream.selectExpr("user_id", "value")
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, Double)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var s = s0
          rows.foreach { r => n += 1; s += r._2 }
          state.update((n, s))
          Iterator((user, n, s))
      }.toDF("user_id", "n", "sum_value")
    val q = counted.writeStream.format("memory").queryName("fmgs_out")
      .outputMode("update")
      .option("checkpointLocation", tmp("fmgs-ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    // last update per user == batch aggregate
    val streamed = spark.sql(
      """SELECT user_id, max_by(n, n) AS n FROM fmgs_out GROUP BY user_id""")
      .as[(Long, Long)].collect().toMap
    val batch = ev.groupBy("user_id").count().as[(Long, Long)].collect().toMap
    assert(streamed == batch && batch.nonEmpty)
  }

  test("Sessions.sessionize: custom event-time-timeout state — closed " +
    "sessions equal the batch sessionization (mid-batch AND timeout closes)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Sessions
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val sess = Sessions.sessionize(
      in.toDF.toDF("user_id", "ts"), "user_id", "ts",
      gapMinutes = 30, watermarkDelay = "0 seconds")
    val q = sess.writeStream.format("memory").queryName("sess_out")
      .outputMode("append")
      .option("checkpointLocation", tmp("sess-ckpt").toString).start()
    // batch 1: user 1 has two close events; user 2 one old event
    in.addData((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:10:00")),
      (2L, ts("2024-01-01 09:00:00")))
    q.processAllAvailable()
    // batch 2: user 1 returns past the gap (mid-batch close of session 1);
    // sentinel user 99 pushes the watermark far ahead (times out user 2)
    in.addData((1L, ts("2024-01-01 11:00:00")), (99L, ts("2024-01-01 23:00:00")))
    q.processAllAvailable()
    // batch 3: dummy advances once more so user 1's open 11:00 session
    // times out (watermark 23:00 > 11:30)
    in.addData((98L, ts("2024-01-01 23:30:00")))
    q.processAllAvailable()
    q.stop()
    val closed = spark.sql(
      "SELECT user_id, session_start_us, session_end_us, n_events " +
        "FROM sess_out WHERE user_id IN (1, 2)")
      .as[(Long, Long, Long, Long)].collect().toSet
    // the batch twin over the same finite data (users 1, 2 only)
    val batchDf = Seq(
      (1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:10:00")),
      (1L, ts("2024-01-01 11:00:00")), (2L, ts("2024-01-01 09:00:00")))
      .toDF("user_id", "ts")
    val batch = Sessions.sessionizeBatch(batchDf, "user_id", "ts",
        gapMinutes = 30)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(closed == batch, s"stream $closed vs batch $batch")
    assert(closed.size == 3)
  }

  test("stream-stream inner join with watermarks equals the batch join") {
    val srcDir = tmp("ssj-src")
    import graft.sources.Tables
    val ev = Tables.events(spark, GraftTestSpark.Sf0001)
    ev.write.mode("overwrite").parquet(srcDir.toString)
    val schema = spark.read.parquet(srcDir.toString).schema
    def stream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)

    // purchases joined to clicks by the same user within the prior hour
    val clicks = stream().filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val purchases = stream().filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val joined = purchases.join(clicks,
      ($"p_user" === $"c_user") &&
        ($"c_ts" >= $"p_ts" - expr("INTERVAL 1 HOUR")) && ($"c_ts" <= $"p_ts"))
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .option("checkpointLocation", tmp("ssj-ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(180000)

    val batchCount = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("p_ts"))
      .join(ev.filter($"event_type" === "click")
        .select($"user_id".as("c_user"), $"ts".as("c_ts")),
        ($"p_user" === $"c_user") &&
          ($"c_ts" >= $"p_ts" - expr("INTERVAL 1 HOUR")) && ($"c_ts" <= $"p_ts"))
      .count()
    val streamCount = spark.table("ssj_out").count()
    assert(streamCount == batchCount && batchCount > 0)
  }

  test("stream-stream LEFT OUTER join emits unmatched rows after watermark closes") {
    val srcDir = tmp("ssoj-src")
    import graft.sources.Tables
    val ev = Tables.events(spark, GraftTestSpark.Sf0001)
    ev.write.mode("overwrite").parquet(srcDir.toString)
    val schema = spark.read.parquet(srcDir.toString).schema
    def stream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)

    val clicks = stream().filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = stream().filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val joined = purchases.join(clicks,
      ($"p_user" === $"c_user") &&
        ($"c_ts" >= $"p_ts" - expr("INTERVAL 30 MINUTES")) && ($"c_ts" <= $"p_ts"),
      "left_outer")
    val q = joined.writeStream.format("memory").queryName("ssoj_out")
      .option("checkpointLocation", tmp("ssoj-ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(180000)

    val out = spark.table("ssoj_out")
    val batch = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("p_ts"))
      .join(ev.filter($"event_type" === "click")
        .select($"user_id".as("c_user"), $"ts".as("c_ts")),
        ($"p_user" === $"c_user") &&
          ($"c_ts" >= $"p_ts" - expr("INTERVAL 30 MINUTES")) && ($"c_ts" <= $"p_ts"),
        "left_outer")
    // matched rows must agree exactly; unmatched (NULL c_user) may be held
    // back for purchases inside the final un-closed watermark window, so
    // stream-unmatched is a subset of batch-unmatched
    assert(out.filter($"c_user".isNotNull).count() ==
      batch.filter($"c_user".isNotNull).count())
    val streamUnmatched = out.filter($"c_user".isNull).count()
    val batchUnmatched = batch.filter($"c_user".isNull).count()
    assert(streamUnmatched > 0 && streamUnmatched <= batchUnmatched)
  }

  test("streaming session_window equals batch sessions (single AvailableNow pass)") {
    import graft.sources.Tables
    import org.apache.spark.sql.functions._
    val srcDir = tmp("sess-src")
    val ev = Tables.events(spark, GraftTestSpark.Sf0001)
    ev.write.mode("overwrite").parquet(srcDir.toString)
    val schema = spark.read.parquet(srcDir.toString).schema
    val ckpt = tmp("sess-ckpt")
    // session windows support append mode only: a session emits once the
    // watermark passes its close. Run once over the real data, then push a
    // far-future sentinel event through the SAME checkpoint so the advanced
    // watermark closes every real session (also proves session state
    // survives restart).
    val outDir = tmp("sess-out")
    def runPass(): Unit = {
      val stream = Incremental.readEventsStream(spark, srcDir.toString, schema,
        maxFilesPerTrigger = 100000)
      val q = Incremental.sessionCounts(stream, gap = "30 minutes",
          delay = "0 seconds")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(outDir.toString)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    runPass()
    val maxTs = ev.agg(max(col("ts"))).head.getTimestamp(0)
    spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row.fromSeq(
          ev.schema.fields.map {
            case f if f.name == "ts" =>
              new java.sql.Timestamp(maxTs.getTime + 86400L * 1000)
            case f if f.name == "user_id" => -1L
            case f => null
          }.toSeq))), ev.schema)
      .write.mode("append").parquet(srcDir.toString)
    runPass()
    val streamed = spark.read.parquet(outDir.toString)
      .filter(col("user_id") =!= -1L)
      .select(col("session_window.start").cast("long").as("s"),
        col("session_window.end").cast("long").as("e"), col("user_id"), col("n"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = ev.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").cast("long").as("s"),
        col("session_window.end").cast("long").as("e"), col("user_id"), col("n"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("rollup maintenance: per-batch partials merge to the batch answer; replay is idempotent") {
    val dir = tmp("rollup-stream").toString
    val maintain = Incremental.rollupMaintenance(dir, "ts", "event_type", "value")
    def ev(rows: (Long, String, String, Double)*) =
      rows.toSeq.toDF("event_id", "ts_s", "event_type", "value")
        .withColumn("ts", col("ts_s").cast("timestamp"))
    val b0 = ev((1L, "2024-03-01 10:00:00", "click", 1.50),
      (2L, "2024-03-01 11:00:00", "view", 2.25),
      (3L, "2024-03-02 10:00:00", "click", 3.00))
    val b1 = ev((4L, "2024-03-02 12:00:00", "click", 4.75),
      (5L, "2024-03-03 09:00:00", "view", 0.25))
    maintain(b0, 0L); maintain(b1, 1L)
    def range(from: String, to: String) =
      graft.sources.Layout.readRollupRange(spark, dir, from, to)
        .select("event_type", "n_events", "value_sum")
        .as[(String, Long, Double)].collect().map(r => r._1 -> r).toMap
    val all = range("2024-03-01", "2024-03-03")
    assert(all == Map("click" -> (("click", 3L, 9.25)),
      "view" -> (("view", 2L, 2.5))))
    // range read prunes to touched days
    assert(range("2024-03-03", "2024-03-03") ==
      Map("view" -> (("view", 1L, 0.25))))
    // a replayed batch overwrites its OWN batch_id partitions — merging
    // again changes nothing
    maintain(b0, 0L)
    assert(range("2024-03-01", "2024-03-03") == all)
  }

  test("startRollupMaintenance: file-source stream lands the same partials as the batch path") {
    import graft.sources.Tables
    val src = tmp("rollup-src"); val dir = tmp("rollup-out").toString
    val ev = Tables.events(spark, GraftTestSpark.Sf0001)
      .select("event_id", "ts", "event_type", "value")
    ev.write.mode("overwrite").parquet(src.toString)
    val schema = spark.read.parquet(src.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src.toString)
    val q = Incremental.availableNow(stream, tmp("rollup-ck").toString)(
      Incremental.rollupMaintenance(dir, "ts", "event_type", "value"))
    q.awaitTermination(60000)
    val merged = graft.sources.Layout
      .readRollupRange(spark, dir, "2024-01-01", "2024-01-30")
      .select("event_type", "n_events").as[(String, Long)].collect().toMap
    val direct = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(merged == direct)
  }

  test("CDC log + merge-on-read: streamed changes resolve like eager apply; replay no-op") {
    import graft.functions.Merge
    val dir = tmp("cdc-log").toString
    val base = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "v", "n")
    val log = Incremental.cdcLog(dir)
    val b0 = Seq((2L, "u", 1L, "B", 21L), (3L, "d", 1L, "c", 30L))
      .toDF("id", "op", "seq", "v", "n")
    val b1 = Seq((4L, "u", 1L, "d", 40L), (3L, "u", 2L, "C", 31L))
      .toDF("id", "op", "seq", "v", "n")
    log(b0, 0L); log(b1, 1L)
    def state() = Merge.readMergeOnRead(base, dir, "id")
      .as[(Long, String, Long)].collect().toSet
    val want = Set((1L, "a", 10L), (2L, "B", 21L), (3L, "C", 31L), (4L, "d", 40L))
    assert(state() == want)
    // eager apply of the union equals the MOR view
    val eager = Merge.applyChanges(base, b0.unionAll(b1), "id")
      .as[(Long, String, Long)].collect().toSet
    assert(eager == want)
    // replaying a committed batch overwrites its own partition — no change
    log(b0, 0L)
    assert(state() == want)
  }

  test("SA maintenance: per-batch merge == full rebuild; checkpoint replay adds nothing") {
    import graft.functions.SuffixArray
    val dir = tmp("sa-maint").toString
    val gate = Incremental.saMaintenance(dir, "doc_id", "text", nParts = 4)
    val b0 = Seq((1L, "b a n a n a"), (2L, "a n a b")).toDF("doc_id", "text")
    val b1 = Seq(
      (10L, "b a n a n a"),   // exact dup of doc 1 (md5 fast path)
      (11L, "c c c"),         // fresh vocabulary
      (12L, "n a b")).toDF("doc_id", "text")
    val b2 = Seq((20L, "b a n a n a q")).toDF("doc_id", "text")
    gate(b0, 0L); gate(b1, 1L); gate(b2, 2L)
    def state() = Incremental.readSaRanks(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val want = SuffixArray.suffixRanks(b0.unionAll(b1).unionAll(b2),
        "doc_id", "text", nParts = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(state() == want, "streamed merges == one-shot rebuild")
    // checkpoint replay after restart: the last batch re-delivers with
    // the same batchId — version dir and docs partition overwrite
    // themselves, the state is bit-identical (restart adds nothing)
    gate(b2, 2L)
    assert(state() == want, "replayed batch is a structural no-op")
    // the corpus partition log holds each batch exactly once
    val batches = spark.read.parquet(s"$dir/docs")
      .groupBy("_batch").count().as[(Long, Long)].collect().toMap
    assert(batches == Map(0L -> 2L, 1L -> 3L, 2L -> 1L))
  }

  test("quality gate: violating rows quarantined, clean rows accepted, nothing lost; replay no-op") {
    import graft.functions.Expectations._
    val dir = tmp("qgate").toString
    val gate = Incremental.qualityGate(s"$dir/ok", s"$dir/dlq",
      Seq(NotNull("v"), InRange("n", 0, 100)))
    val b0 = Seq((1L, Some("a"), 10L), (2L, None, 20L), (3L, Some("c"), 500L))
      .toDF("id", "v", "n")
    val b1 = Seq((4L, Some("d"), 40L)).toDF("id", "v", "n")
    gate(b0, 0L); gate(b1, 1L)
    def ids(p: String) = spark.read.parquet(p).select("id").as[Long].collect().toSet
    assert(ids(s"$dir/ok") == Set(1L, 4L))
    assert(ids(s"$dir/dlq") == Set(2L, 3L))
    // conservation: accepted + quarantined == input
    assert(ids(s"$dir/ok").size + ids(s"$dir/dlq").size == 4)
    // replay overwrites only its own batch partitions
    gate(b0, 0L)
    assert(ids(s"$dir/ok") == Set(1L, 4L) && ids(s"$dir/dlq") == Set(2L, 3L))
  }

  test("near-dup gate: later batches drop near-matches of earlier accepted docs") {
    val dir = Files.createTempDirectory("neardup-gate").toString
    val gate = Incremental.nearDupGate(s"$dir/index", s"$dir/accepted",
      "doc_id", "text", threshold = 0.8)
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val b1 = Seq(
      (1L, base),
      (2L, "completely different text about spark catalyst query planning rules")
    ).toDF("doc_id", "text")
    gate(b1, 0L)
    val b2 = Seq(
      (3L, base), // exact dup of accepted doc 1 -> dropped
      (4L, base + " extra"), // near dup of doc 1 (jaccard > 0.8) -> dropped
      (5L, "unrelated corpus about parquet columnar file formats and readers")
    ).toDF("doc_id", "text")
    gate(b2, 1L)
    val accepted = spark.read.parquet(s"$dir/accepted")
      .select("doc_id").as[Long].collect().toSet
    assert(accepted == Set(1L, 2L, 5L))
    // the index grew to cover every accepted doc (8 bands each)
    val idx = spark.read.parquet(s"$dir/index")
    assert(idx.select("id").distinct().as[Long].collect().toSet == Set(1L, 2L, 5L))
    // replay of a committed batch: every doc near-matches its own accepted
    // copy, so the gate drops the whole batch — append is a no-op
    gate(b1, 0L)
    val afterReplay = spark.read.parquet(s"$dir/accepted")
      .select("doc_id").as[Long].collect().toSeq
    assert(afterReplay.sorted == Seq(1L, 2L, 5L))
    // maintenance: compacting the appended index (partition-preserving)
    // changes files, not probe results
    val compacted = s"$dir/index-compacted"
    graft.sources.Layout.compactPartitioned(
      spark.read.parquet(s"$dir/index"), compacted, "band", Seq("bkey"))
    assert(Files.list(java.nio.file.Paths.get(compacted)).iterator().asScala
      .exists(_.getFileName.toString.startsWith("band=")))
    val b3 = Seq((6L, base + " words"), (7L, "fresh unrelated content entirely")).toDF("doc_id", "text")
    val viaOld = graft.functions.Dedup.nearDupAgainstCorpus(
        b3, spark.read.parquet(s"$dir/accepted"), spark.read.parquet(s"$dir/index"),
        "doc_id", "text", threshold = 0.8)
      .select("id_new", "id_corp").as[(Long, Long)].collect().toSet
    val viaCompacted = graft.functions.Dedup.nearDupAgainstCorpus(
        b3, spark.read.parquet(s"$dir/accepted"), spark.read.parquet(compacted),
        "doc_id", "text", threshold = 0.8)
      .select("id_new", "id_corp").as[(Long, Long)].collect().toSet
    assert(viaCompacted == viaOld && viaOld.contains((6L, 1L)))
  }

  test("semantic gate: later batches drop embedding near-dups of accepted vectors") {
    import graft.functions.IVF
    val dir = Files.createTempDirectory("semantic-gate").toString
    val index = s"$dir/index"
    // frozen 2-cell quantizer (the production IVF contract)
    val model = IVF.Model(Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0)))
    val gate = Incremental.semanticGate(index, model, "vec_id", "v",
      threshold = 0.95)
    def emb(rows: (Long, Seq[Float])*) = rows.toDF("vec_id", "v")
    val b1 = emb(1L -> Seq(1f, 0.01f, 0f, 0f), 2L -> Seq(0.01f, 1f, 0f, 0f))
    gate(b1, 0L)
    val b2 = emb(
      3L -> Seq(0.99f, 0.011f, 0f, 0f),  // near-dup of accepted 1 -> dropped
      4L -> Seq(0f, 0.2f, 0.97f, 0f),    // novel -> kept
      5L -> Seq(0.01f, 0.1f, 0.99f, 0f)) // within-batch near-dup of 4 -> dropped
    gate(b2, 1L)
    val accepted = spark.read.parquet(index)
      .select("vec_id").as[Long].collect().toSet
    assert(accepted == Set(1L, 2L, 4L))
    // the accepted corpus lives in the cell-partitioned layout itself
    assert(Files.list(java.nio.file.Paths.get(index)).iterator().asScala
      .exists(_.getFileName.toString.startsWith("ivf_cell=")))
    // replay: every vector near-matches its own accepted copy -> no-op
    gate(b1, 0L)
    assert(spark.read.parquet(index)
      .select("vec_id").as[Long].collect().toSeq.sorted == Seq(1L, 2L, 4L))
  }

  test("streaming dedup: re-delivered rows dropped within the watermark") {
    import graft.sources.Tables
    import org.apache.spark.sql.functions._
    val srcDir = tmp("dedup-src")
    val ev = Tables.events(spark, GraftTestSpark.Sf0001).select("event_id", "ts")
    // the same rows land twice (two files) — a redelivery/replay
    ev.coalesce(1).write.mode("overwrite").parquet(srcDir.toString)
    ev.coalesce(1).write.mode("append").parquet(srcDir.toString)
    assert(spark.read.parquet(srcDir.toString).count() == ev.count() * 2)
    val schema = spark.read.parquet(srcDir.toString).schema
    val outDir = tmp("dedup-out")
    val q = Incremental.streamingDedup(
        Incremental.readEventsStream(spark, srcDir.toString, schema,
          maxFilesPerTrigger = 100000),
        idCols = Seq("event_id"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", tmp("dedup-ckpt").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(outDir.toString)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val out = spark.read.parquet(outDir.toString)
    assert(out.count() == ev.count())
    assert(out.select("event_id").distinct().count() == ev.count())
  }

  test("streaming watermarked window agg over file source + idempotent foreachBatch") {
    val srcDir = tmp("stream-src")
    val outDir = tmp("stream-out")
    val ckpt1 = tmp("stream-ckpt")
    import graft.sources.Tables
    Tables.events(spark, GraftTestSpark.Sf0001)
      .write.mode("overwrite").parquet(srcDir.toString)
    val schema = spark.read.parquet(srcDir.toString).schema

    val stream = Incremental.readEventsStream(spark, srcDir.toString, schema,
      maxFilesPerTrigger = 2)
    val agg = Incremental.windowedCounts(stream)
    val q = Incremental.availableNow(agg, ckpt1.toString, "update")(
      Incremental.idempotentBatchWriter(outDir.toString))
    q.awaitTermination(120000)

    val batches = Files.list(outDir).filter(_.getFileName.toString.startsWith("batch-"))
      .filter(p => !p.getFileName.toString.endsWith("._done")).toArray
    assert(batches.nonEmpty)
    val total = spark.read.parquet(
      batches.map(_.toString): _*)
    // windowed counts over all events: totals must match the batch count
    val n = total.agg(sum("n")).head.getLong(0)
    assert(n > 0 && n <= 1000)

    // restart from the same checkpoint: no new batches (offsets committed)
    val q2 = Incremental.availableNow(
      Incremental.windowedCounts(
        Incremental.readEventsStream(spark, srcDir.toString, schema, 2)),
      ckpt1.toString, "update")(
      Incremental.idempotentBatchWriter(outDir.toString))
    q2.awaitTermination(60000)
    val batches2 = Files.list(outDir).filter(_.getFileName.toString.startsWith("batch-"))
      .filter(p => !p.getFileName.toString.endsWith("._done")).count()
    assert(batches2 == batches.length)
  }

  test("streaming HLL sketch converges to the batch sketch, bit-identical, " +
    "with bounded state and replay immunity") {
    import org.apache.spark.sql.functions._
    val srcDir = tmp("hll-src")
    val all = (0 until 600)
      .map(i => (i.toLong, 1000L + i % 137, s"t${i % 3}"))
      .toDF("event_id", "user_id", "event_type")
    // three chunk files -> three micro-batches; chunk 3 REPLAYS chunk 1
    // (max is idempotent: replays must not move the sketch)
    all.filter($"event_id" < 300).coalesce(1)
      .write.mode("append").parquet(srcDir.toString)
    all.filter($"event_id" >= 300).coalesce(1)
      .write.mode("append").parquet(srcDir.toString)
    all.filter($"event_id" < 300).coalesce(1)
      .write.mode("append").parquet(srcDir.toString)
    val schema = spark.read.parquet(srcDir.toString).schema
    val stream = Incremental.readEventsStream(spark, srcDir.toString, schema, 1)
    val sk = Incremental.streamingHllSketch(stream,
      Seq("event_type"), $"user_id")
    val q = sk.writeStream.format("memory").queryName("hll_stream_out")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("hll_stream_out")
      .as[(String, Int, Int)].collect().toSet
    val want = graft.functions.Sketches
      .hllSketch(all, Seq("event_type"), $"user_id")
      .as[(String, Int, Int)].collect().toSet
    assert(got == want)
    // state bound: <= 4096 buckets per group
    assert(got.groupBy(_._1).values.forall(_.size <= 4096))
  }

  test("streaming logHist sketch sink: per-batch partitions merge to the " +
    "batch sketch; same-epoch redelivery cannot double-count") {
    import org.apache.spark.sql.functions._
    val srcDir = tmp("lh-src")
    val stateDir = tmp("lh-state").toString
    val all = (0 until 600)
      .map(i => (i.toLong, 1L + (i * 13) % 5000, s"t${i % 3}"))
      .toDF("event_id", "cents", "event_type")
    val c1 = all.filter($"event_id" < 300)
    val c2 = all.filter($"event_id" >= 300)
    c1.coalesce(1).write.mode("append").parquet(srcDir.toString)
    c2.coalesce(1).write.mode("append").parquet(srcDir.toString)
    val schema = spark.read.parquet(srcDir.toString).schema
    val sink = Incremental.logHistSketchSink(stateDir,
      Seq("event_type"), $"cents")
    val q = Incremental.readEventsStream(spark, srcDir.toString, schema, 1)
      .writeStream.foreachBatch(sink)
      .option("checkpointLocation", tmp("lh-ckpt").toString)
      .start()
    q.processAllAvailable(); q.stop()
    // redeliver batch 0's data under its ORIGINAL epoch id: the dynamic
    // partition overwrite replaces batch_id=0, so counts cannot double
    sink(c1, 0L)
    val merged = Incremental.readLogHistSketchState(spark, stateDir,
      Seq("event_type"))
    val got = graft.functions.Sketches.logHistQuantiles(merged,
        Seq("event_type"), Seq(500, 950))
      .as[(String, Int, Long, Long)].collect().toSet
    val want = graft.functions.Sketches.logHistDistribution(all,
        Seq("event_type"), $"cents", Seq(500, 950))
      .as[(String, Int, Long, Long)].collect().toSet
    assert(got == want)
  }

  test("streaming HLL rollup maintenance: appended per-batch sub-sketches " +
    "read back == batch layout; replayed batch absorbed by idempotent max") {
    import org.apache.spark.sql.functions._
    val srcDir = tmp("hllroll-src")
    val rollDir = tmp("hllroll-state").toString
    val all = (0 until 400).map { i =>
      (i.toLong, f"2024-02-${1 + i % 10}%02d 12:00:00", 100L + i % 77,
        s"t${i % 2}")
    }.toDF("event_id", "ts_s", "user_id", "event_type")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val c1 = all.filter($"event_id" < 200)
    val c2 = all.filter($"event_id" >= 200)
    c1.coalesce(1).write.mode("append").parquet(srcDir.toString)
    c2.coalesce(1).write.mode("append").parquet(srcDir.toString)
    val schema = spark.read.parquet(srcDir.toString).schema
    val q = Incremental.availableNow(
      Incremental.readEventsStream(spark, srcDir.toString, schema, 1),
      tmp("hllroll-ckpt").toString)(
      Incremental.hllRollupMaintenance(rollDir))
    q.processAllAvailable(); q.stop()
    // replay a batch: duplicate sub-sketch rows appended — the read-side
    // bucket-max must absorb them (max is idempotent; no write-path
    // bookkeeping exists to prevent the duplicate)
    Incremental.hllRollupMaintenance(rollDir)(c1, 99L)
    val got = graft.sources.Layout.readHllRangeEstimate(spark, rollDir,
        "2024-02-03", "2024-02-08")
      .select("event_type", "v_empty", "s_scaled")
      .as[(String, Long, Long)].collect().toSet
    val want = graft.functions.Sketches.hllDistinct(
        all.filter(to_date($"ts").between("2024-02-03", "2024-02-08")),
        Seq("event_type"), $"user_id")
      .select("event_type", "v_empty", "s_scaled")
      .as[(String, Long, Long)].collect().toSet
    assert(got == want)
    // the rolling-curve reader shares the same idempotent read-side merge
    val curve = graft.sources.Layout.readHllRollingCurve(spark, rollDir,
        windowDays = 3)
      .select("event_type", "day", "s_scaled")
      .as[(String, String, Long)].collect().toSet
    val wantCurve = (1 to 10).flatMap { d =>
      val lo = f"2024-02-${math.max(1, d - 2)}%02d"
      val hi = f"2024-02-$d%02d"
      graft.functions.Sketches.hllDistinct(
          all.filter(to_date($"ts").between(lo, hi)),
          Seq("event_type"), $"user_id")
        .select("event_type", "s_scaled").as[(String, Long)].collect()
        .map { case (t, s) => (t, hi, s) }
    }.toSet
    assert(curve == wantCurve)
  }
}
