package graft

import java.nio.file.{Files, Path}

import graft.functions.TextAnalysis
import graft.plans.RollingHash
import graft.sinks.Sinks
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class SinksAndPlansSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  def df = Seq(
    (1L, "click", "alice"), (2L, "view", "bob"), (3L, "buy", "carol"))
    .toDF("id", "event_type", "user")

  test("prepareKafka: exact column layout, per-topic fanout, WRR partitions") {
    val out = Sinks.prepareKafka(df,
      valueTemplate = "{[DQ]id[DQ]: %(id)s}", keyTemplate = "%(user)s",
      topics = Seq("t1", "t2"), topicPrefix = "p-",
      headerTemplates = Seq("h1" -> "%(event_type)s"),
      partitionWeights = Some("0:3,1:1"), orderCol = Some("id"))
    assert(out.columns.toSeq == Seq("key", "value", "topic", "partition", "headers"))
    assert(out.count() == 6) // 3 records x 2 topics
    val first = out.filter($"topic" === "p-t1" && $"key" === "alice").head
    assert(first.getString(1) == """{"id": 1}""")
    assert(first.getInt(3) == 0) // schedule [0,0,1,0] position 1
    assert(first.getMap[String, String](4)("h1") == "click")
    val partitions = out.filter($"topic" === "p-t1").orderBy("key")
      .select("partition").as[Int].collect().toSeq
    assert(partitions == Seq(0, 0, 1)) // alice,bob,carol = rows 1,2,3
  }

  test("hashWeightedAssign: weight shares honored in expectation, no window") {
    import graft.operators.Partitioners
    val keys = spark.range(10000).select($"id".cast("string").as("k"))
    val counts = keys
      .withColumn("p", Partitioners.hashWeightedAssign($"k", "0:3,1:1"))
      .groupBy("p").count().as[(Int, Long)].collect().toMap
    assert(counts.keySet == Set(0, 1))
    val share0 = counts(0).toDouble / 10000
    // weight 3 of 4 = 0.75 expected; binomial sd ~0.004 -> +-0.03 is >6 sigma
    assert(math.abs(share0 - 0.75) < 0.03, s"partition-0 share $share0")
    // narrow map: planning it must introduce no WindowExec at all
    val plan = keys.withColumn("p",
      Partitioners.hashWeightedAssign($"k", "0:3,1:1"))
      .queryExecution.executedPlan
    import org.apache.spark.sql.execution.window.WindowExec
    assert(plan.collect { case w: WindowExec => w }.isEmpty)
  }

  test("withPageNumberScalable == sequential withPageNumber, row for row") {
    import graft.operators.Scan
    val events = graft.sources.Tables.events(spark, GraftTestSpark.Sf0001)
      .select("event_id")
    val seq = Scan.withPageNumber(events, "event_id", 17)
      .select("event_id", "page").as[(Long, Long)].collect().toMap
    val par = Scan.withPageNumberScalable(events, "event_id", 17)
      .select("event_id", "page").as[(Long, Long)].collect().toMap
    assert(par.size == seq.size)
    assert(par == seq)
  }

  test("writeSingleJsonFile: header, separator, footer in one file (jsonworker.py parity)") {
    val dir = Files.createTempDirectory("jsonsink")
    Sinks.writeSingleJsonFile(df.orderBy("id"), dir.toString,
      header = "[\n", footer = "\n]", separator = ",\n")
    val part = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.head
    val content = Files.readString(part)
    assert(content.startsWith("[\n{") && content.trim.endsWith("}\n]".trim))
    assert(content.trim.endsWith("]"))
    assert(content.count(_ == ',') >= 2) // separators between 3 records
    assert(content.contains(""""event_type":"view""""))
  }

  /** The multiset of lines in `dir`'s `part-*` files. */
  private def partLines(dir: Path): Seq[String] =
    partFiles(dir).flatMap { f =>
      val text = Files.readString(f)
      if (text.isEmpty) Nil else text.stripSuffix("\n").split("\n", -1).toSeq
    }.sorted

  private def partFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toList
    finally s.close()
  }

  /** Two S3-shaped frames: empty, and 4 partitions of which 2 are empty,
    * holding nulls, non-ASCII text and a tab, backslash, quote, newline. */
  private def sinkFrames: Seq[(String, DataFrame)] = {
    val schema = StructType.fromDDL("s3key STRING, body STRING")
    val rows = Seq(Row("k1", "plain"), Row(null, "tab\there"), Row("k\\3", null),
      Row("ключ-ü", "quote\" back\\slash\nnewline"), Row(null, null))
    val four = spark.createDataFrame(spark.sparkContext.parallelize(Seq(0, 3), 4)
      .flatMap(i => if (i == 0) rows.take(3) else rows.drop(3)), schema)
    assert(four.rdd.mapPartitions(it => Iterator(it.size)).collect().toSeq ==
      Seq(0, 3, 0, 2))
    Seq("empty" -> spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema),
      "4 partitions" -> four)
  }

  private type Write = (DataFrame, String) => Unit

  /** (writer, Spark's own writer for the same lines) per file-backed sink. */
  private val lineWriters: Seq[(String, Write, Write)] = Seq(
    ("writeS3Shaped", Sinks.writeS3Shaped, (d, p) => d.write.json(p)),
    ("writeJsonLines", Sinks.writeJsonLines,
      (d, p) => Sinks.prepareJsonLines(d).write.text(p)))

  private def jobsOf(body: => Unit): Int = {
    val profile = graft.observability.QueryProfile.install(spark)
    try profile.window(body)._2.jobs.size finally profile.close()
  }

  test("writeS3Shaped / writeJsonLines: Spark's .json() / .text() lines, one job per write") {
    for ((name, write, sparkWrite) <- lineWriters; (shape, frame) <- sinkFrames) {
      val ours = Files.createTempDirectory("sink-ours")
      val theirs = Files.createTempDirectory("sink-spark").resolve("out")
      assert(jobsOf(write(frame, ours.toString)) == 1, s"$name $shape")
      sparkWrite(frame, theirs.toString)
      assert(partLines(ours) == partLines(theirs), s"$name $shape")
      // the manifest names exactly the committed files, each holding rows
      val manifest = Files.readAllLines(ours.resolve("_MANIFEST.tsv")).asScala
        .filter(_.nonEmpty).map(_.split("\t")).map(a => a(0) -> a(1).toLong).toMap
      assert(manifest.keySet == partFiles(ours).map(_.getFileName.toString).toSet,
        s"$name $shape")
      assert(manifest.values.forall(_ > 0) &&
        manifest.values.sum == partLines(ours).size, s"$name $shape")
    }
  }

  test("writeS3Shaped / writeJsonLines: overwrite leaves only the new write's files") {
    val one = sinkFrames.last._2.limit(1)
    for ((name, write, sparkWrite) <- lineWriters) {
      val dir = Files.createTempDirectory("sink-over").resolve("out")
      // a directory a Hadoop writer filled first (_SUCCESS, .crc files)
      sparkWrite(sinkFrames.last._2, dir.toString)
      write(sinkFrames.last._2, dir.toString)
      write(one, dir.toString)
      val left = Files.list(dir).iterator().asScala
        .map(_.getFileName.toString).toSet
      val named = Files.readAllLines(dir.resolve("_MANIFEST.tsv")).asScala
        .filter(_.nonEmpty).map(_.split("\t")(0)).toSet
      assert(left == named + "_MANIFEST.tsv", s"$name: $left")
      assert(partLines(dir).size == 1, name)
    }
  }

  test("writeS3Shaped / writeJsonLines: a task that throws leaves no part file, no manifest") {
    val boom = udf((s: String) =>
      if (s == "boom") throw new IllegalStateException("boom") else s)
    val failing = Seq("a", "b", "boom").toDF("v").coalesce(1)
      .select(boom($"v").as("s3key"), lit("x").as("body"))
    for ((name, write, _) <- lineWriters) {
      val dir = Files.createTempDirectory("sink-fail").resolve("out")
      intercept[Exception](write(failing, dir.toString))
      assert(partFiles(dir).isEmpty, name)
      assert(!Files.exists(dir.resolve("_MANIFEST.tsv")), name)
    }
  }

  test("partitionDdl: normalized LIST-partition DDL per distinct value (rdsdatabase.py:73-119)") {
    val d = Seq(("US East", 1), ("eu-west", 2), ("US East", 3)).toDF("reg", "n")
    val ddl = Sinks.partitionDdl(d, "t", "reg").as[String].collect().toSet
    assert(ddl == Set(
      "CREATE TABLE IF NOT EXISTS t_us_east PARTITION OF t FOR VALUES IN ('US East')",
      "CREATE TABLE IF NOT EXISTS t_eu_west PARTITION OF t FOR VALUES IN ('eu-west')"))
  }

  test("RollingHash: pinned value, codegen == interpreted, empty and unicode inputs") {
    val in = Seq("abc", "", "café", "x").toDF("s")
    val got = in.select(RollingHash($"s").as("h")).as[Long].collect().toSeq
    // interpreted reference (same fold in plain Scala)
    def ref(s: String): Long = {
      var acc = 0L; var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i); i += Character.charCount(cp)
        acc = (acc * 31 + cp) % 1000000007L
      }
      acc
    }
    assert(got == Seq("abc", "", "café", "x").map(ref))
    assert(ref("abc") == 96354L) // pinned: (('a'*31+'b')*31+'c') % 1e9+7
    // force the non-codegen path and compare
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val noCg = in.select(RollingHash($"s").as("h")).as[Long].collect().toSeq
      assert(noCg == got)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("lang id + quality metrics deterministic on canonical text") {
    val d = Seq((1L, "the cat and the hat is on a mat")).toDF("doc_id", "text")
    val lang = d.select(TextAnalysis.langId($"text")).as[String].head()
    assert(lang == "en")
    val m = TextAnalysis.qualityMetrics(d, "text")
      .select("n_tokens", "n_uniq_tokens").head
    assert(m.getInt(0) == 9 && m.getInt(1) == 8)
  }
}
