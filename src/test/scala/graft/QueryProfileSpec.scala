package graft

import graft.observability.QueryProfile
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class QueryProfileSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark

  private def profiled[A](body: => A): QueryProfile.Record = {
    val profile = QueryProfile.install(spark)
    try profile.window(body)._2
    finally profile.close()
  }

  test("grouped aggregate: jobs, a shuffle map stage and its shuffle bytes") {
    val r = profiled(spark.range(0, 20000, 1, 4)
      .groupBy((col("id") % 10).as("k")).count().collect())
    assert(r.jobs.nonEmpty, r)
    assert(r.stages.size >= 2, r)
    assert(r.shuffleWriteBytes > 0 && r.shuffleReadBytes > 0, r)
    assert(r.stages.exists(_.shuffleRecordsWritten > 0), r)
    assert(r.tasks > 0 && r.taskRunS >= 0 && r.jobs.forall(_.wallS >= 0), r)
  }

  test("narrow filter collect: no shuffle bytes") {
    val r = profiled(spark.range(0, 20000, 1, 4)
      .filter(col("id") % 7 === 0).collect())
    assert(r.jobs.nonEmpty, r)
    assert(r.shuffleWriteBytes == 0 && r.shuffleReadBytes == 0, r)
  }

  test("all three Catalyst phases are recorded") {
    val r = profiled(spark.range(0, 100).filter(col("id") > 5).collect())
    assert(r.executions >= 1, r)
    assert(Set("analysis", "optimization", "planning").subsetOf(r.phasesS.keySet), r)
    assert(r.phasesS.values.forall(_ >= 0), r)
  }

  test("back-to-back windows share no events") {
    val profile = QueryProfile.install(spark)
    try {
      val (_, a) = profile.window(spark.range(0, 20000, 1, 4)
        .groupBy((col("id") % 10).as("k")).count().collect())
      val (_, b) = profile.window(spark.range(0, 20000, 1, 4)
        .filter(col("id") % 7 === 0).collect())
      assert(a.shuffleWriteBytes > 0 && b.shuffleWriteBytes == 0, (a, b))
      assert(a.jobs.map(_.id).intersect(b.jobs.map(_.id)).isEmpty, (a, b))
      assert(a.stages.map(_.id).intersect(b.stages.map(_.id)).isEmpty, (a, b))
      assert(b.executions == 1, b)
      // nothing is recorded outside a window
      spark.range(0, 1000, 1, 4).groupBy((col("id") % 3).as("k")).count().collect()
      val (_, c) = profile.window(())
      assert(c.jobs.isEmpty && c.stages.isEmpty && c.executions == 0, c)
    } finally profile.close()
  }
}
