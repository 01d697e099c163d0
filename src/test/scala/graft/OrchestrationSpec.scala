package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import graft.operators.Scan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Lifecycle parity beyond a single run: checkpointed resume with
  * fetch_size invalidation (`datacrawler.py:205-208, 439-461`) and the
  * one-extractor-per-table concurrent orchestration (`app.py:74-88`,
  * `extractor.py:11-21`). */
class OrchestrationSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  private def rows = spark.range(1, 101).select($"id".as("k"))

  test("resumeWithState skips done pages when fetch_size matches") {
    val state = Scan.PageState(fetchSize = 10, donePages = Set(0L, 1L))
    val out = Scan.resumeWithState(rows.toDF(), "k", 10, Some(state))
      .as[Long].collect().sorted
    assert(out.head == 21 && out.length == 80)
  }

  test("resumeWithState discards state minted at a different fetch_size") {
    // pages 0-1 at fetch_size 10 are rows 1-20; if fetch_size changes to 25
    // those page numbers would denote rows 1-50 — honoring them would
    // silently mis-skip 30 rows. The reference discards the saved state on
    // mismatch; so do we: the run reprocesses from scratch.
    val stale = Scan.PageState(fetchSize = 10, donePages = Set(0L, 1L),
      lastRecordOffset = Map(2L -> 5L))
    val out = Scan.resumeWithState(rows.toDF(), "k", 25, Some(stale))
    assert(out.count() == 100)
    // and no state at all is likewise a full scan
    assert(Scan.resumeWithState(rows.toDF(), "k", 25, None).count() == 100)
  }

  test("PageStateStore round-trips state and survives a fetch_size check") {
    val dir = Files.createTempDirectory("graft-pages").toString
    val store = new Scan.PageStateStore(dir)
    val state = Scan.PageState(7, Set(0L, 3L, 9L), Map(4L -> 2L, 10L -> 6L))
    store.save("events", state)
    assert(store.load("events").contains(state))
    assert(store.load("missing").isEmpty)
    // the stored fetch_size is what resumeWithState validates against
    val loaded = store.load("events")
    assert(Scan.resumeWithState(rows.toDF(), "k", 8, loaded).count() == 100)
    store.clear("events")
    assert(store.load("events").isEmpty)
  }

  test("PageStateStore: a save over an existing key leaves only the key file") {
    val dir = Files.createTempDirectory("graft-pages-atomic")
    val store = new Scan.PageStateStore(dir.toString)
    store.save("events", Scan.PageState(7, Set(0L, 1L)))
    val state = Scan.PageState(7, Set(0L, 1L, 123L), Map(124L -> 5L))
    store.save("events", state)
    assert(store.load("events").contains(state))
    assert(Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .toList == List("events.pages"))
  }

  test("PageStateStore: load ignores a stray temp sibling") {
    val dir = Files.createTempDirectory("graft-pages-stray")
    val store = new Scan.PageStateStore(dir.toString)
    val state = Scan.PageState(7, Set(0L, 123L))
    store.save("events", state)
    // what a crash between the temp write and the rename leaves behind:
    // a cut page list (123 -> 12) that must never be read as the state
    Files.writeString(dir.resolve(".events.pages999.tmp"), "7\n0,12")
    Files.writeString(dir.resolve(".orders.pages999.tmp"), "")
    assert(store.load("events").contains(state))
    assert(store.load("orders").isEmpty)
  }

  test("runAll extracts N tables concurrently with per-table isolation") {
    val cfgs = Seq(
      Pipeline.Config("region", columns = Seq("r_regionkey", "r_name")),
      Pipeline.Config("nation", columns = Seq("n_nationkey", "n_name")),
      Pipeline.Config("events", solrFilter = Some("event_type:click")))
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val gate = new java.util.concurrent.CountDownLatch(cfgs.size)
    val results = Pipeline.runAll(spark, GraftTestSpark.Sf0001, cfgs) {
      (cfg, df) =>
        started.add(cfg.table)
        gate.countDown()
        // all three actions must be in flight at once for the latch to
        // open — proves the extractors really run concurrently
        assert(gate.await(30, java.util.concurrent.TimeUnit.SECONDS),
          "extractors did not overlap")
        df.count()
    }
    assert(results.keySet == Set("region", "nation", "events"))
    assert(results.values.forall(_.isSuccess))
    assert(results("region").get == 5L)
    assert(results("events").get > 0L)
  }

  test("runAll isolates a failing table: others still succeed") {
    val cfgs = Seq(
      Pipeline.Config("region"),
      Pipeline.Config("nation", solrFilter = Some("no_such_column:zzz")))
    val results = Pipeline.runAll(spark, GraftTestSpark.Sf0001, cfgs) {
      (_, df) => df.count()
    }
    assert(results("region").isSuccess && results("region").get == 5L)
    assert(results("nation").isFailure)
  }
}
