package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SourceV2Spec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  private def paged(rows: Long = 100000L, fetch: Int = 8192) =
    spark.read.format("graft.sources.v2.PagedSource")
      .option("rows", rows.toString).option("fetchSize", fetch.toString)
      .option("seed", "s42").load()

  private def scanOf(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan.asInstanceOf[graft.sources.v2.PagedScan]
    }.get
  }

  test("id-range filters narrow the page range BEFORE partition planning") {
    val df = paged().filter($"id" >= 25000 && $"id" < 50000)
    val scan = scanOf(df)
    assert(scan.lo == 25000L && scan.hi == 50000L)
    assert(scan.planInputPartitions().length == 4) // ceil(25000 / 8192)
    assert(df.count() == 25000L)
    // point lookup: a single page, a single row, content verified
    val one = paged().filter($"id" === 77777L)
    assert(scanOf(one).planInputPartitions().length == 1)
    val row = one.select("payload").head().getString(0)
    assert(row == graft.sources.v2.PagedSource.payload("s42", 77777L))
  }

  test("column pruning reaches the source; unselected fields never materialize") {
    val df = paged().select("id", "bucket")
    assert(scanOf(df).readSchema().fieldNames.toSeq == Seq("id", "bucket"))
    // projection order must not break source field order
    val rev = paged().select("modified_ts", "id")
    assert(scanOf(rev).readSchema().fieldNames.toSeq == Seq("id", "modified_ts"))
    assert(rev.head().schema.fieldNames.toSeq == Seq("modified_ts", "id"))
  }

  test("limit pushdown caps the generated range; residual filters stay correct") {
    val lim = paged().limit(100)
    assert(scanOf(lim).hi <= 100L)
    assert(lim.count() == 100L)
    // a non-id predicate is NOT pushed: source returns the range, Spark filters
    val res = paged(rows = 1000L).filter($"bucket" === 3)
    val scan = scanOf(res)
    assert(scan.lo == 0L && scan.hi == 1000L, "bucket filter must stay residual")
    assert(res.count() == 1000L / 32 + (if (3 < 1000 % 32) 1 else 0))
  }

  test("pages parallelize: partition count tracks rows/fetchSize") {
    val df = paged(rows = 1000L, fetch = 100)
    assert(scanOf(df).planInputPartitions().length == 10)
    assert(df.count() == 1000L)
  }

  test("manifest sink: two-phase commit — manifest lists exactly the committed files") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-manifest-sink").toString
    val df = spark.range(1000).select($"id",
      concat(lit("payload-"), $"id").as("payload")).repartition(4)
    df.write.format("graft.sources.v2.ManifestSink")
      .option("path", path).mode("overwrite").save()
    val manifest = scala.io.Source.fromFile(s"$path/_MANIFEST.tsv")
      .getLines().map(_.split("\t")).map(a => (a(0), a(1).toLong)).toSeq
    assert(manifest.map(_._2).sum == 1000L)
    manifest.foreach { case (f, _) =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(path, f)), f)
    }
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_tmp")),
      "temp dir must be swept after commit")
    // read-back equals input
    val back = spark.read.option("sep", "\t")
      .schema("id LONG, payload STRING").csv(s"$path/part-*.tsv")
    assert(back.count() == 1000L)
    assert(back.as[(Long, String)].collect().toSet ==
      (0L until 1000L).map(i => (i, s"payload-$i")).toSet)
    // overwrite truncates: a second smaller write leaves no stale rows
    spark.range(10).select($"id", lit("x").as("payload"))
      .write.format("graft.sources.v2.ManifestSink")
      .option("path", path).mode("overwrite").save()
    val after = spark.read.option("sep", "\t")
      .schema("id LONG, payload STRING").csv(s"$path/part-*.tsv")
    assert(after.count() == 10L, "truncate must remove the old files")
  }

  test("manifest sink: a task without rows commits no file") {
    val path = java.nio.file.Files.createTempDirectory("graft-manifest-empty")
    // 4 partitions [0,2) [2,5) [5,7) [7,10), the middle two filtered empty
    val df = spark.range(0, 10, 1, 4).filter($"id" < 2 || $"id" >= 7)
      .select($"id", lit("p").as("payload"))
    assert(df.rdd.mapPartitions(it => Iterator(it.size)).collect().toSeq ==
      Seq(2, 0, 0, 3))
    df.write.format("graft.sources.v2.ManifestSink")
      .option("path", path.toString).mode("overwrite").save()
    val manifest = scala.io.Source.fromFile(s"$path/_MANIFEST.tsv")
      .getLines().map(_.split("\t")).map(a => (a(0), a(1).toLong)).toSeq
    assert(manifest.map(_._2) == Seq(2L, 3L), manifest)
    val parts = path.toFile.listFiles().map(_.getName).filter(_.startsWith("part-"))
    assert(parts.toSet == manifest.map(_._1).toSet)
  }

  test("manifest sink codec 'lines': raw lines as Spark's text writer, null an empty line") {
    val base = java.nio.file.Files.createTempDirectory("graft-manifest-lines")
    val df = Seq(Some("a\tb\\c"), None, Some("ü \"q\""), Some("")).toDF("line")
      .repartition(2)
    df.write.format("graft.sources.v2.ManifestSink").option("path", s"$base/ours")
      .option("codec", "lines").mode("overwrite").save()
    df.write.text(s"$base/spark")
    def lines(dir: String): Seq[String] =
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
        .toSeq.flatMap { f =>
          val t = java.nio.file.Files.readString(f.toPath)
          if (t.isEmpty) Nil else t.stripSuffix("\n").split("\n", -1).toSeq
        }.sorted
    assert(lines(s"$base/ours") == lines(s"$base/spark"))
    assert(lines(s"$base/ours") == Seq("", "", "a\tb\\c", "ü \"q\"").sorted)
    assert(new java.io.File(s"$base/ours").listFiles().map(_.getName)
      .filter(_.startsWith("part-")).forall(_.endsWith(".txt")))
    // the codec takes one string column only, and names no other codec
    intercept[IllegalArgumentException](spark.range(3).write
      .format("graft.sources.v2.ManifestSink").option("path", s"$base/bad")
      .option("codec", "lines").mode("overwrite").save())
    intercept[IllegalArgumentException](df.write
      .format("graft.sources.v2.ManifestSink").option("path", s"$base/bad")
      .option("codec", "csv").mode("overwrite").save())
  }

  test("manifest sink: a file: URI lands locally, another scheme throws naming the path") {
    val base = java.nio.file.Files.createTempDirectory("graft-manifest-uri")
    spark.range(3).write.format("graft.sources.v2.ManifestSink")
      .option("path", s"file://$base/local").mode("overwrite").save()
    assert(java.nio.file.Files.exists(base.resolve("local/_MANIFEST.tsv")))
    val cwd = new java.io.File(".").getCanonicalFile
    val before = cwd.list().toSet
    val e = intercept[IllegalArgumentException](spark.range(3).write
      .format("graft.sources.v2.ManifestSink")
      .option("path", "s3a://bucket/x").mode("overwrite").save())
    assert(e.getMessage.contains("s3a://bucket/x"), e.getMessage)
    assert(cwd.list().toSet == before, "no local dir may be made for s3a:")
  }

  test("manifest sink: task abort leaves no temp file behind") {
    import graft.sources.v2.ManifestDataWriter
    import org.apache.spark.sql.types._
    val path = java.nio.file.Files
      .createTempDirectory("graft-manifest-abort").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path, "_tmp"))
    val schema = StructType(Seq(StructField("id", LongType)))
    val w = new ManifestDataWriter(path, schema, 0, 99L)
    w.write(org.apache.spark.sql.catalyst.InternalRow(42L))
    w.abort()
    val tmp = java.nio.file.Files.list(
      java.nio.file.Paths.get(path, "_tmp")).count()
    assert(tmp == 0, "aborted attempt must delete its temp file")
  }

  test("manifest sink streaming: source-to-sink V2 pipe, restart lands zero duplicates") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-v2-pipe").toString
    val (ckpt, out) = (s"$base/ckpt", s"$base/out")
    def runOnce(): Long = {
      val q = spark.readStream.format("graft.sources.v2.PagedSource")
        .option("rows", "500").option("fetchSize", "64")
        .option("seed", "s42").load()
        .select($"id", $"payload")
        .writeStream.format("graft.sources.v2.ManifestSink")
        .option("path", out).option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable()
      q.stop()
      spark.read.option("sep", "\t").schema("id LONG, payload STRING")
        .csv(s"$out/epoch-*.tsv").count()
    }
    assert(runOnce() == 500L)
    // per-epoch manifests exist and account for every row
    val manifests = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("_MANIFEST-"))
    val counted = manifests.flatMap(f =>
      scala.io.Source.fromFile(f).getLines().map(_.split("\t")(1).toLong)).sum
    assert(counted == 500L)
    // restart from the same checkpoint: idempotent epochs, no duplicates
    assert(runOnce() == 500L)
  }

  test("streaming read: offsets are row indices; a restart replays nothing") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-paged-stream").toString
    val (ckpt, out) = (s"$base/ckpt", s"$base/out")
    def runOnce(): Long = {
      val stream = spark.readStream.format("graft.sources.v2.PagedSource")
        .option("rows", "1000").option("fetchSize", "128")
        .option("seed", "s42").load()
      val q = stream.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable()
      q.stop()
      spark.read.parquet(out).count()
    }
    assert(runOnce() == 1000L)
    // content spot-check: generated payload survives the streaming path
    val p7 = spark.read.parquet(out).filter($"id" === 7L)
      .select("payload").head().getString(0)
    assert(p7 == graft.sources.v2.PagedSource.payload("s42", 7L))
    // restart against the same checkpoint: offset log says done -> the
    // exactly-once contract means NO duplicate rows land
    assert(runOnce() == 1000L)
  }

  test("aggregate pushdown: COUNT/MIN/MAX answer from the filtered range " +
    "with NO aggregate node in the plan; empty range gives SQL semantics") {
    import org.apache.spark.sql.functions._
    def paged = spark.read.format("graft.sources.v2.PagedSource")
      .option("rows", "100000").option("fetchSize", "8192")
      .option("seed", "s42").load()
    val df = paged.filter($"id" >= 25000 && $"id" < 75000)
      .agg(expr("count(*)").as("n"), min($"id").as("min_id"),
        max($"modified_ts").as("max_ts"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Aggregate"), s"aggregate not pushed:\n$plan")
    assert(plan.contains("AGG-PUSHDOWN"), plan)
    assert(df.as[(Long, Long, Long)].head() ==
      ((50000L, 25000L, 1700074999000L)))
    // empty range: count 0, min/max NULL — global-aggregate SQL semantics
    val e = paged.filter($"id" < 0)
      .agg(expr("count(*)"), min($"id"), max($"modified_ts"))
      .head()
    assert(e.getLong(0) == 0L && e.isNullAt(1) && e.isNullAt(2))
  }

  test("runtime filtering: a selective dim join injects an id IN filter " +
    "that PRUNES pages before readers exist (the connector DPP seat)") {
    import org.apache.spark.sql.functions._
    val paged = spark.read.format("graft.sources.v2.PagedSource")
      .option("rows", "100000").option("fetchSize", "1024")
      .option("seed", "s42").load()
    // range-based dim: a LocalRelation dim would constant-fold its filter
    // away and DPP requires a surviving selective predicate
    val dim = spark.range(0, 3).select(($"id" * 49997L + 5L).as("k"))
      .filter($"k" >= 5)
    val j = paged.join(dim, paged("id") === dim("k"))
    graft.sources.v2.PagedSource.ReadersCreated.set(0)
    val got = j.select(paged("id")).as[Long].collect().sorted
    assert(got.toSeq == Seq(5L, 50002L, 99999L))
    // ids 5 / 50002 / 99999 live in 3 distinct 1024-row pages; without
    // runtime pruning the scan would create ~98 readers
    val readers = graft.sources.v2.PagedSource.ReadersCreated.get()
    assert(readers <= 6, s"expected pruned page readers, got $readers")
    assert(j.queryExecution.executedPlan.toString
      .contains("dynamicpruningexpression"),
      "runtime filter missing from the scan")
  }

  test("aggregate pushdown declines what the range cannot answer: " +
    "grouped and non-monotone aggregates take the row-scan path, same " +
    "results") {
    import org.apache.spark.sql.functions._
    def paged = spark.read.format("graft.sources.v2.PagedSource")
      .option("rows", "10000").option("fetchSize", "1024")
      .option("seed", "s42").load()
    // grouped: declined (group-by unsupported) -> ordinary scan + agg
    val g = paged.groupBy($"bucket").agg(count(lit(1)).as("n"))
    assert(g.queryExecution.executedPlan.toString.contains("Aggregate"))
    assert(g.count() == 32L)
    assert(g.filter($"bucket" === 0).head().getLong(1) ==
      (0L until 10000L).count(_ % 32 == 0))
    // min of a NON-monotone column (payload, a string): declined
    val m = paged.agg(min($"payload").as("mp"))
    assert(m.queryExecution.executedPlan.toString.contains("Aggregate"))
    val brute = (0L until 10000L)
      .map(graft.sources.v2.PagedSource.payload("s42", _)).min
    assert(m.head().getString(0) == brute)
  }
}
