package graft.tools

import graft.Bench
import graft.functions.Caches
import graft.observability.QueryProfile
import graft.queries.Catalog

/** Per-pass [[QueryProfile]] of ANY catalog query under the bench's
  * session, warmup (artifacts included) and materialize action, so the
  * profile bills the same work the bench times. Prints, per pass: wall,
  * job count, job wall, stage task-time split (run / deser / GC); on the
  * last pass the per-job timeline, the top stages by task run time and
  * the whole record as JSON.
  *
  *   runMain graft.tools.ProfileQuery <sfDir> <passes> <query> [query...]
  *   (extra "k=v" args after queries become session confs)
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "usage: ProfileQuery <sfDir> <passes> <query> [query...] [k=v...]")
      sys.exit(2)
    }
    val dir = args(0)
    val passes = args(1).toInt
    val (queries, confs) = args.drop(2).partition(!_.contains("="))
    val unknown = queries.filterNot(Catalog.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    confs.foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
      println(s"PROFILE conf $k=$v")
    }
    Bench.warmup(spark, dir)
    val profile = QueryProfile.install(spark)

    queries.foreach { q =>
      (0 until passes).foreach { p =>
        val (_, r) = Caches.sweepingNew(spark) {
          profile.window(Bench.materialize(Catalog.queries(q)(spark, dir)))
        }
        println(f"PROFILE $q pass$p wall=${r.wallS}%.2f s " +
          f"jobs=${r.jobs.size} jobwall=${r.jobWallS}%.2f s " +
          f"stages=${r.stages.size} taskrun=${r.taskRunS}%.2f s " +
          f"deser=${r.deserializeS}%.2f s gc=${r.gcS}%.2f s")
        if (p == passes - 1) {
          r.jobs.foreach { j =>
            val e = if (j.wallS >= 0) f"${j.startS + j.wallS}%7.2f" else "      ?"
            println(f"  job ${j.id}%4d ${j.startS}%7.2f -> $e s  ${j.description}")
          }
          r.stages.sortBy(-_.runS).take(12).foreach { s =>
            println(f"  stage ${s.id}%4d wall=${s.wallS}%8.3f tasks=${s.tasks}%3d " +
              f"run=${s.runS}%.2f deser=${s.deserializeS}%.2f " +
              f"gc=${s.gcS}%.2f | ${s.name}")
          }
          println(s"PROFILE $q record ${r.json}")
        }
      }
    }
    spark.stop()
  }
}
