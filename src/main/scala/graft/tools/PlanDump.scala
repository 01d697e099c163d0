package graft.tools

import graft.queries.Catalog
import org.apache.spark.sql.execution.ExplainMode

/** Round-17 evidence tool: write each named catalog query's
  * `.explain("formatted")` output to `<outDir>/<query>_<tag>.txt` —
  * the before/after plan artifacts the optimization rounds commit under
  * plans/rN/. Runs under the bench session ([[graft.Bench.session]]) so
  * the dumped plan is the plan the bench actually times, not a dev-shell
  * variant.
  *
  *   runMain graft.tools.PlanDump <sfDir> <outDir> <tag> <query> [query...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    // arity / query-name guard (round-17 advice): fail with usage, not a
    // raw MatchError / NoSuchElementException
    if (args.length < 4) {
      System.err.println(
        "usage: PlanDump <sfDir> <outDir> <tag> <query> [query...]")
      sys.exit(2)
    }
    val unknown = args.drop(3).filterNot(Catalog.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(
        s"unknown queries: ${unknown.mkString(", ")} (see Catalog.queries)")
      sys.exit(2)
    }
    val spark = graft.Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    val Array(sfDir, outDir, tag) = args.take(3)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    args.drop(3).foreach { q =>
      val txt = graft.functions.Caches.sweepingNew(spark) {
        Catalog.queries(q)(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${q}_$tag.txt"),
        txt.getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/${q}_$tag.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
