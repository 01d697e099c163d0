package graft

import graft.functions._
import org.apache.spark.sql.{DataFrame, GraftSql}
import org.scalatest.funsuite.AnyFunSuite

/** The two cache lifetimes of [[Caches]]: a unit run inside
  * `Caches.sweepingNew` leaves the session's CacheManager and its
  * persistent RDDs as it found them, and a scope releases what it holds
  * even when its body throws. */
class CachesSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  private def cacheState() = (GraftSql.cachedEntries(spark),
    spark.sparkContext.getPersistentRDDs.keySet)

  /** Sweep `unit` and assert it left no cache entry and no persistent
    * RDD behind. */
  private def assertNoLeak(name: String)(unit: => DataFrame): Unit = {
    Caches.sweepOperatorCaches() // drain earlier tests' registered caches
    val (entries0, rdds0) = cacheState()
    Caches.sweepingNew(spark)(unit.collect())
    val (entries1, rdds1) = cacheState()
    assert(entries1 == entries0,
      s"$name left ${entries1 - entries0} CacheManager entries behind")
    assert((rdds1 -- rdds0).isEmpty,
      s"$name left persistent RDDs behind: ${rdds1 -- rdds0}")
  }

  // near-duplicate texts (pairs exist at every threshold below) with a
  // suite-unique token, so no other suite's cached plan can match these
  private lazy val docs = Seq(
    (1L, "cachesspec the quick brown fox jumps over the lazy dog today", "s0", 0),
    (2L, "cachesspec the quick brown fox jumps over the lazy dog again", "s0", 0),
    (3L, "cachesspec the quick brown fox jumps over the lazy dog today", "s1", 0),
    (4L, "cachesspec a completely different sentence about red apples", "s1", 1),
    (5L, "cachesspec a completely different sentence about red apples too", "s1", 1),
    (6L, "cachesspec and the words of this one are its very own", "s0", 1))
    .toDF("doc_id", "text", "source", "blk")
  private lazy val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")

  private val escaping: Seq[(String, () => DataFrame)] = Seq(
    "jaccardPairs" -> (() =>
      Dedup.jaccardPairs(docs, "doc_id", "text", "blk", 3, 0.3)),
    "containmentPairs" -> (() =>
      Dedup.containmentPairs(docs, "doc_id", "text", "blk", 3, 0.3)),
    "groupOverlap" -> (() => Dedup.groupOverlap(docs, "source", "text", 3)),
    "minhashCandidates" -> (() =>
      Dedup.minhashCandidates(docs, "doc_id", "text", 3, 16)),
    "minhashDedupPairs" -> (() =>
      Dedup.minhashDedupPairs(docs, "doc_id", "text", threshold = 0.3)),
    "nearDupPairsAfterExact" -> (() =>
      Dedup.nearDupPairsAfterExact(docs, "doc_id", "text", threshold = 0.3)),
    "simhashPairs" -> (() => Dedup.simhashPairs(docs, "doc_id", "text")),
    "similarNamePairs" -> (() => Entity.similarNamePairs(
      docs, "doc_id", "text", docs, "doc_id", "text", threshold = 0.3)),
    "dsirWeights" -> (() => Sampling.dsirWeights(docs,
      docs.filter($"blk" === 0), "doc_id", "text", dim = 16)),
    "semanticPairs" -> (() => {
      val e = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
        (3L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
      Similarity.semanticPairs(e, "embedding", "vec_id",
        IVF.Model(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))), 0.5)
    }),
    "stageFlags" -> (() => Recipe.stageFlags(docs, minWords = 4)),
    "noveltyScores" -> (() =>
      TextAnalysis.noveltyScores(docs, "doc_id", "text", 3)),
    "bm25TopK" -> (() => TextAnalysis.bm25TopK(docs, "doc_id", "text",
      Seq("q1" -> Seq("fox", "dog"), "q2" -> Seq("apples")))),
    "connectedComponents (distributed loop)" -> (() =>
      Dedup.connectedComponents(docs, "doc_id", pairs, driverMaxEdges = 0)),
    "pageRank" -> (() => Graphs.pageRank(docs, "doc_id", pairs)))

  escaping.foreach { case (name, op) =>
    test(s"$name: a swept unit leaves no cache entry and no persistent RDD") {
      assertNoLeak(name)(op())
    }
  }

  test("a scope releases its persists and checkpoints when its body throws") {
    val (entries0, rdds0) = cacheState()
    val boom = intercept[IllegalStateException] {
      Caches.scoped { scope =>
        val p = scope.persist(docs.select($"doc_id", $"blk"))
        p.count()
        scope.checkpoint(p.filter($"blk" === 0))
        assert(cacheState()._1 == entries0 + 1)
        assert((cacheState()._2 -- rdds0).nonEmpty)
        throw new IllegalStateException("boom")
      }
    }
    assert(boom.getMessage == "boom")
    val (entries1, rdds1) = cacheState()
    assert(entries1 == entries0, "the scope's persist kept its entry")
    assert((rdds1 -- rdds0).isEmpty,
      s"the scope left persistent RDDs behind: ${rdds1 -- rdds0}")
  }

  test("scope.release frees one frame early; escape hands a checkpoint out") {
    val rdds0 = cacheState()._2
    val out = Caches.scoped { scope =>
      val p = scope.persist(docs.select($"doc_id", $"text"))
      p.count()
      scope.release(p)
      assert(p.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      intercept[IllegalArgumentException](scope.release(docs))
      scope.escape(scope.checkpoint(docs.select($"doc_id")))
    }
    // the escaped checkpoint outlives the scope: still readable
    assert(out.count() == 6)
    val left = cacheState()._2 -- rdds0
    assert(left.size == 1, s"exactly the escaped checkpoint stays: $left")
    left.foreach(id => spark.sparkContext.getPersistentRDDs(id)
      .unpersist(blocking = false))
  }
}
