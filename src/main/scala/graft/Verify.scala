package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    // the session the bench times, so the gate scans with the same splits
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    // local-iteration filter: SPARK_GRAFT_VERIFY_ONLY=a,b,c runs a subset
    // (the driver never sets it — full catalog by default)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    // offline artifacts (models, landed indexes, staged fixtures) are
    // built once here, outside every query's cache-sweep window, as
    // Bench's warmup does; a failed build is logged, and the queries
    // reading it fail on their own
    graft.queries.Artifacts.ensureAll(spark, sfDir).foreach { case (n, t) =>
      t.failed.foreach(e =>
        System.err.println(s"[verify] artifact $n failed: ${e.getMessage}"))
    }
    // per-query cache hygiene (safe here: Verify is sequential); what a
    // query's sweep leaves behind is reported on stderr
    def cacheState() = (org.apache.spark.sql.GraftSql.cachedEntries(spark),
      spark.sparkContext.getPersistentRDDs.keySet.toSet)
    val leaks = selected.toSeq.map { case (name, fn) =>
      val (entries0, rdds0) = cacheState()
      graft.functions.Caches.sweepingNew(spark) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
      val (entries1, rdds1) = cacheState()
      val (n, m) = (math.max(0, entries1 - entries0), (rdds1 -- rdds0).size)
      if (n + m > 0)
        System.err.println(s"[verify] $name left $n cache entries / $m RDDs")
      (n, m)
    }
    System.err.println(s"[verify] cache leaks total: ${leaks.map(_._1).sum} " +
      s"cache entries / ${leaks.map(_._2).sum} RDDs over ${leaks.size} queries")
    // a tab or CR left unescaped in an oracle's SQL would make the
    // compare's json.load fail and silently zero the correctness check
    def q(s: String): String =
      graft.observability.Json.str(s, shortControls = true)
    // dynamic oracles (data-dependent literals, e.g. IVF centroids) are
    // rendered against the actual sf dir; a failure there must not zero the
    // whole round, so each is best-effort
    val dynamic = SparkEntry.dynamicOracleSql.flatMap { case (k, f) =>
      try Some(k -> f(spark, sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[verify] dynamic oracle $k failed: ${e.getMessage}")
        None
      }
    }
    val json = (SparkEntry.oracleSql ++ dynamic)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
