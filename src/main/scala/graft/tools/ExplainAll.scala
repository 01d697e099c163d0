package graft.tools

import graft.SparkEntry

/** Print formatted physical plans for selected queries (dev tool), under
  * the bench session so the plan is the one the bench times. */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args.toSeq else graft.queries.Catalog.headline
    val spark = graft.Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      graft.functions.Caches.sweepingNew(spark) {
        SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
