package graft.tools

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up evidence generator (dev tool): synthesize an N x copy of the
  * sf0.1 dataset by key-offset replication, so the bench suite can be run
  * at ~sf1 and the scaling of every headline plan measured, not argued.
  *
  * Facts are replicated with joined keys offset consistently per copy
  * (orderkey/custkey chains stay intact); dimensions keep ONE copy — which
  * is exactly how real scale behaves (facts grow, dims don't), and keeps
  * broadcast-vs-shuffle decisions honest at the larger size. documents /
  * embeddings replicate verbatim: every text gains N-1 exact near-dups,
  * deliberately stressing the dedup pipelines' candidate sets.
  *
  * usage: runMain graft.tools.ScaleUp <outDir> <copies> [srcSfDir]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    val n = args(1).toInt
    val src = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val M = 10000000L // above any sf0.1 key

    def copies(df: DataFrame)(shift: (DataFrame, Long) => DataFrame): DataFrame =
      (0 until n).map(i => shift(df, i * M)).reduce(_ unionAll _)

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$name.parquet")
      println(s"SCALEUP $name -> ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    write("lineitem", copies(Tables.lineitem(spark, src)) { (d, off) =>
      d.withColumn("l_orderkey", col("l_orderkey") + off) })
    write("orders", copies(Tables.orders(spark, src)) { (d, off) =>
      d.withColumn("o_orderkey", col("o_orderkey") + off)
        .withColumn("o_custkey", col("o_custkey") + off) })
    write("customer", copies(Tables.customer(spark, src)) { (d, off) =>
      d.withColumn("c_custkey", col("c_custkey") + off) })
    // events: ts re-written as raw nanos BIGINT so Tables' normalization
    // (nanos-long -> micros timestamp) applies to the copy identically
    write("events", copies(Tables.events(spark, src)
        .withColumn("ts", unix_micros(col("ts")) * 1000L)) { (d, off) =>
      d.withColumn("event_id", col("event_id") + off)
        .withColumn("user_id", col("user_id") + off) })
    write("documents", copies(Tables.documents(spark, src)) { (d, off) =>
      d.withColumn("doc_id", col("doc_id") + off) })
    write("embeddings", copies(Tables.embeddings(spark, src)) { (d, off) =>
      d.withColumn("vec_id", col("vec_id") + off) })
    Seq("supplier", "part", "nation", "region").foreach { t =>
      write(t, Tables.table(spark, src, t))
    }
    spark.stop()
  }
}
