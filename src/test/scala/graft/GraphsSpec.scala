package graft

import graft.functions.{Checkpoints, Graphs}
import org.scalatest.funsuite.AnyFunSuite

class GraphsSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  private def ranks(nodes: Seq[Long], pairs: Seq[(Long, Long)],
      iters: Int = 3): Map[Long, Long] =
    Graphs.pageRank(nodes.toDF("id"), "id",
        pairs.toDF("id_a", "id_b"), iterations = iters)
      .as[(Long, Long)].collect().toMap

  test("pageRank: symmetric ring keeps the uniform distribution") {
    // 4-cycle, every node degree 2: the uniform vector is the fixed point
    val r = ranks(Seq(1L, 2L, 3L, 4L), Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)))
    assert(r.values.toSet.size == 1)
    assert(r(1L) == 1000000000000L / 4)
  }

  test("pageRank: star center outranks leaves; leaves tie") {
    val r = ranks(Seq(1L, 2L, 3L, 4L, 5L),
      Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)))
    assert(Set(r(2L), r(3L), r(4L), r(5L)).size == 1)
    assert(r(1L) > r(2L))
  }

  test("pageRank: dangling node holds exactly the teleport mass") {
    val r = ranks(Seq(1L, 2L, 3L), Seq((1L, 2L)))
    val base = 1000000000000L / 3
    assert(r(3L) == (15L * base) / 100L)
    assert(r(1L) == r(2L)) // symmetric 2-clique
  }

  test("pageRank: rank mass is conserved up to floor-division loss") {
    // no dangling nodes (a dangling node's mass leaks by design — the
    // standard simplification); floor divisions lose at most a few units
    // per node per round
    val r = ranks(Seq(1L, 2L, 3L, 4L, 5L),
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (3L, 4L)))
    val total = r.values.sum
    assert(total <= 1000000000000L && total > 1000000000000L - 1000L)
  }

  test("pageRank: reliable-checkpoint seat (spark.graft.checkpointDir) — same ranks, files on disk") {
    // 9 iterations: the mid-loop lineage cuts (rounds 4 and 8) and the
    // final materialization all go through Checkpoints.eager
    val nodes = (1L to 12L)
    val pairs = (1L to 11L).map(i => (i, i + 1)) ++ Seq((1L, 6L), (3L, 9L))
    val expected = ranks(nodes, pairs, iters = 9)
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-pr").toString
    spark.conf.set(Checkpoints.DirKey, dir)
    try {
      assert(ranks(nodes, pairs, iters = 9) == expected)
      val found = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => p.getFileName.toString.startsWith("rdd-"))
        .count()
      assert(found > 0, s"no reliable checkpoint files under $dir")
    } finally spark.conf.unset(Checkpoints.DirKey)
  }
}
