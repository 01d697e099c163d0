package graft

import java.nio.file.{Files, Path}

import graft.functions.TextAnalysis
import graft.observability.QueryProfile
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** Reads resolve their schema on the driver: no Spark job, the schema
  * `spark.read.parquet` infers, a live listing on every read, and Spark's
  * own reader (and errors) wherever the driver read cannot decide. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import GraftTestSpark.Sf0001

  /** `body`'s result and the number of Spark jobs it launched. */
  private def jobs[A](body: => A): (A, Int) = {
    val profile = QueryProfile.install(spark)
    try {
      val (out, r) = profile.window(body)
      (out, r.jobs.size)
    } finally profile.close()
  }

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("Tables.table launches no job and keeps the inferred schema, every table") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for (name <- Tables.All) {
      val path = s"$Sf0001/$name.parquet"
      val (df, n) = jobs(Tables.table(spark, Sf0001, name))
      assert(n == 0, s"$name: $n jobs")
      val inferred = spark.read.parquet(path).schema
      assert(jobs(Tables.parquet(spark, path))._1.schema == inferred, name)
      if (name == "events") {
        assert(df.schema("ts").dataType == TimestampType)
        assert(df.schema.fields.map(_.name).toSeq == inferred.fields.map(_.name).toSeq)
        assert(df.schema.filterNot(_.name == "ts") == inferred.filterNot(_.name == "ts"))
      } else assert(df.schema == inferred, name)
    }
  }

  test("a multi-file Spark-written dir: same schema and rows, no job") {
    val dir = tmp("tables-multi").resolve("t").toString
    spark.range(0, 300, 1, 3).select(col("id"), (col("id") % 7).as("k"),
        concat(lit("r"), col("id").cast("string")).as("s"))
      .write.parquet(dir)
    val (df, n) = jobs(Tables.parquet(spark, dir))
    assert(n == 0)
    val inferred = spark.read.parquet(dir)
    assert(df.schema == inferred.schema)
    assert(rows(df) == rows(inferred))
  }

  test("each read lists the dir afresh: files landed between reads are read") {
    val dir = tmp("tables-live")
    spark.range(0, 10, 1, 1).write.parquet(dir.resolve("a").toString)
    spark.range(10, 25, 1, 1).write.parquet(dir.resolve("b").toString)
    def part(sub: String): Path = {
      val s = Files.list(dir.resolve(sub))
      try s.filter(_.getFileName.toString.startsWith("part-")).findFirst().get
      finally s.close()
    }
    val t = Files.createDirectories(dir.resolve("t"))
    Files.copy(part("a"), t.resolve("page-0.parquet"))
    assert(Tables.parquet(spark, t.toString).count() == 10)
    Files.copy(part("b"), t.resolve("page-1.parquet"))
    assert(Tables.parquet(spark, t.toString).count() == 25)
  }

  test("a partitioned dir takes Spark's reader and keeps its partition column") {
    val dir = tmp("tables-part").resolve("t").toString
    spark.range(0, 40, 1, 2).select(col("id"), (col("id") % 3).as("p"))
      .write.partitionBy("p").parquet(dir)
    val df = Tables.parquet(spark, dir)
    val inferred = spark.read.parquet(dir)
    assert(df.schema == inferred.schema)
    assert(df.schema.fieldNames.contains("p"))
    assert(rows(df) == rows(inferred))
  }

  test("a k=v partitioned layout, one level or two: no job, the inferred schema") {
    val base = tmp("tables-kv")
    val src = spark.range(0, 60, 1, 3).select(col("id"), (col("id") % 3).as("p"),
      concat(lit("q"), (col("id") % 2).cast("string")).as("q"))
    for ((name, by) <- Seq("one" -> Seq("p"), "two" -> Seq("p", "q"))) {
      val dir = base.resolve(name).toString
      src.write.partitionBy(by: _*).parquet(dir)
      val (df, n) = jobs(Tables.parquet(spark, dir))
      assert(n == 0, s"$name: $n jobs")
      val inferred = spark.read.parquet(dir)
      assert(df.schema == inferred.schema, name)
      assert(rows(df) == rows(inferred), name)
    }
    // a subdirectory not named k=v is Spark's to judge
    val odd = base.resolve("odd")
    spark.range(3).write.parquet(odd.resolve("sub").toString)
    assert(org.apache.spark.sql.execution.datasources.parquet.GraftParquet
      .footerSchema(spark, odd.toString).isEmpty)
  }

  test("the partitioned-layout readers build their frames without a job") {
    import graft.sources.Layout
    val events = Tables.events(spark, Sf0001)
    val base = tmp("tables-layout")
    def dir(n: String) = base.resolve(n).toString
    Layout.writePartitionedByDay(events, dir("days"))
    Layout.writeDailyRollup(events, dir("rollup"))
    Layout.writeDailyHllSketch(events, dir("hll"), col("user_id"))
    Layout.writeDailyLogHistSketch(events, dir("hist"), col("value"))
    val changes = dir("changes")
    graft.streaming.Incremental.cdcLog(changes)(
      spark.range(5).select(col("id"), lit("u").as("op"), col("id").as("seq")), 0L)
    val frames: Seq[(String, () => DataFrame)] = Seq(
      "readDay" -> (() => Layout.readDay(spark, dir("days"), "2024-01-08")),
      "readRollupRange" -> (() =>
        Layout.readRollupRange(spark, dir("rollup"), "2024-01-01", "2024-01-31")),
      "readRollupWeekly" -> (() => Layout.readRollupWeekly(spark, dir("rollup"))),
      "readHllRangeEstimate" -> (() =>
        Layout.readHllRangeEstimate(spark, dir("hll"), "2024-01-01", "2024-01-31")),
      "readLogHistRangeQuantiles" -> (() => Layout.readLogHistRangeQuantiles(
        spark, dir("hist"), "2024-01-01", "2024-01-31", Seq(500))),
      "readMergeOnRead" -> (() => graft.functions.Merge.readMergeOnRead(
        spark.range(3).select(col("id")), changes, "id")))
    for ((name, build) <- frames) {
      val (_, n) = jobs(build())
      assert(n == 0, s"$name: $n jobs")
    }
  }

  test("an empty dir throws what spark.read.parquet throws") {
    val dir = tmp("tables-empty").toString
    val spark_ = intercept[Exception](spark.read.parquet(dir))
    val ours = intercept[Exception](Tables.parquet(spark, dir))
    assert(ours.getClass == spark_.getClass, ours)
  }

  test("a landed KN model reads back without a job") {
    val train = spark.createDataFrame(Seq(
      (1L, "the cat sat on the mat"), (2L, "the dog sat on the log")))
      .toDF("doc_id", "text")
    val path = tmp("tables-kn").resolve("m").toString
    TextAnalysis.knBigramModelWrite(TextAnalysis.knBigramTrain(train, "text"), path)
    val (m, n) = jobs(TextAnalysis.knBigramModelRead(spark, path))
    assert(n == 0)
    assert(m.bigrams.schema == spark.read.parquet(s"$path/bigrams").schema)
  }
}
