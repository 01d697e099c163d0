package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquet
import org.apache.spark.sql.functions._

/** Table access layer — the Spark-native seat of the reference's scan operator.
  *
  * The reference (`/root/reference/wadlabs/hub/migration/datacrawler.py:133-184`)
  * builds `SELECT JSON col1,... FROM table` and pages results through a thread
  * pool; a page (`fetch_size` rows) is its unit of parallelism. Here a table is
  * a parquet dataset and the page is a Spark partition: the reader's split size
  * (`spark.sql.files.maxPartitionBytes`) plays `fetch_size`, the scheduler plays
  * the worker pool, and Catalyst pushes projection/filter down into the scan
  * (the reference inlines them into CQL text, `datacrawler.py:135-151`).
  *
  * In production the same API would front the Spark Cassandra Connector
  * (`spark.read.format("org.apache.spark.sql.cassandra")`); at 100 TB each
  * table is many thousands of splits and nothing here materializes on the
  * driver — `table()` returns a lazy DataFrame.
  *
  * Reads launch no Spark job: [[parquet]] resolves the schema from one
  * footer on the driver (`GraftParquet`) where `spark.read.parquet` would
  * run a one-task inference job per read. Nothing is memoised — each read
  * lists the path afresh, so a directory that gains files between reads
  * (the incremental resume loop) is seen whole every time.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Small dimension tables — always broadcast-join these (see Joins). */
  val Dims: Set[String] = Set("region", "nation", "supplier", "part", "customer")

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts layout varies by generator vintage: TIMESTAMP(NANOS) (read
    // as long via nanosAsLong, normalized by integer `div` — a double
    // division would lose precision above 2^53 ns), plain parquet TIMESTAMP
    // (micros, isAdjustedToUTC=false → TimestampNTZType), or already-LTZ.
    // All normalize to session-UTC TimestampType so every downstream
    // comparison against `lit(...).cast("timestamp")` resolves identically.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = parquet(spark, s"$dir/$name.parquet")
    if (name == "events") {
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df
      }
    } else df
  }

  /** `spark.read.parquet(path)` with the schema read from the path's first
    * data file on the driver, so no inference job runs. A `k=v` partitioned
    * directory gets its data schema the same way, and the reader appends
    * the partition columns it discovers. A path the driver read cannot
    * settle (a mixed or non-`k=v` layout, no data file, a glob) goes to
    * `spark.read.parquet` as is, errors included. Every single-path
    * parquet read of the library goes through here but a schema-merging
    * one. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    GraftParquet.footerSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
