package graft
import org.apache.spark.sql.SparkSession
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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // cumulative-state caps — see the matching block in Bench: the
      // status stores retain 1000 executions of plan graphs across a
      // 329-query run with nothing reading them
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // local-iteration filter: SPARK_GRAFT_VERIFY_ONLY=a,b,c runs a subset
    // (the driver never sets it — full catalog by default)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    // per-query cache hygiene (safe here: Verify is sequential)
    selected.foreach { case (name, fn) =>
      graft.functions.Caches.sweepingNew(spark) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
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
