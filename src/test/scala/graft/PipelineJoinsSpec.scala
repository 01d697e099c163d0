package graft

import graft.operators.Joins
import graft.plans.GraftExtensions
import graft.sources.Tables
import graft.spec.TableSpec
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PipelineJoinsSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  test("Pipeline.extract composes scan/filter/spec/sort/limit into one frame") {
    val df = Pipeline.extract(spark, GraftTestSpark.Sf0001, Pipeline.Config(
      table = "events",
      columns = Seq("event_id", "event_type", "value"),
      solrFilter = Some("event_type:click"),
      sortBy = Seq(("event_id", true)),
      pages = Some(1), fetchSize = 10,
      spec = TableSpec.parse(
        """{"columns": [{"name": "value", "renameTo": "amount"}]}""")))
    val rows = df.collect()
    assert(rows.length == 10)
    assert(df.columns.toSeq == Seq("event_id", "event_type", "amount"))
    assert(rows.forall(_.getString(1) == "click"))
  }

  test("Pipeline metrics: processed and watermark-ignored counters via observe") {
    val obs = Observation("m")
    val ev = Tables.events(spark, GraftTestSpark.Sf0001)
      .withColumn("ts_ms", unix_millis(col("ts")))
    val observed = Pipeline.withMetrics(ev, obs, Some("ts_ms"), Some(1704300000000L))
    val total = observed.count()
    val m = obs.get
    assert(m("records_processed") == total)
    val expectedIgnored = ev.filter(col("ts_ms") >= 1704300000000L).count()
    assert(m("records_ignored_watermark") == expectedIgnored && expectedIgnored > 0)
  }

  test("Pipeline.renderSinks fans one frame out to all four sink shapes") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val sinks = Pipeline.renderSinks(df,
      kafka = Some(("%(v)s", "%(id)s", Seq("t"))),
      s3 = Some(("%(id)s.json", None)),
      rds = Some("INSERT INTO t VALUES ('%(id)s')"),
      jsonLines = true)
    assert(sinks.keySet == Set("kafka", "s3", "rds", "json"))
    assert(sinks("kafka").columns.contains("topic"))
    assert(sinks("s3").columns.toSeq == Seq("s3key", "body"))
    assert(sinks("rds").as[String].head().startsWith("INSERT INTO t"))
    assert(sinks("json").count() == 2)
  }

  test("salted join equals plain join (skew mitigation changes placement, not results)") {
    val orders = Tables.orders(spark, GraftTestSpark.Sf0001)
    val cust = Tables.customer(spark, GraftTestSpark.Sf0001)
      .withColumnRenamed("c_custkey", "o_custkey").select("o_custkey", "c_name")
    val salted = Joins.saltedJoin(orders, cust, "o_custkey", saltFactor = 8)
      .select("o_orderkey", "c_name").as[(Long, String)].collect().sorted.toSeq
    val plain = orders.join(cust, "o_custkey")
      .select("o_orderkey", "c_name").as[(Long, String)].collect().sorted.toSeq
    assert(salted == plain && salted.nonEmpty)
  }

  test("bloomReducedJoin equals plain join; the sketch probe drops most non-matching rows") {
    val li = Tables.lineitem(spark, GraftTestSpark.Sf0001)
      .select("l_orderkey", "l_extendedprice")
    val urgent = Tables.orders(spark, GraftTestSpark.Sf0001)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
    val reduced = Joins.bloomReducedJoin(li, urgent, "l_orderkey")
    val plain = li.join(urgent, Seq("l_orderkey"))
    assert(reduced.count() == plain.count() && plain.count() > 0)
    // the prefilter is a real stream reducer: at 1% fpp the kept fraction
    // is ~(match rate + fpp), far below 1
    val mightContain = {
      val bloom = urgent.select("l_orderkey").distinct()
        .stat.bloomFilter("l_orderkey", 1000000L, 0.01)
      val bc = spark.sparkContext.broadcast(bloom)
      udf((k: Long) => bc.value.mightContainLong(k))
    }
    val kept = li.filter(mightContain(col("l_orderkey"))).count().toDouble
    val matchRate = plain.select("l_orderkey").distinct().count().toDouble /
      li.select("l_orderkey").distinct().count()
    assert(kept / li.count() < matchRate + 0.05)
  }

  test("readRollupRange: the range query is partition pruning over the partials") {
    import graft.sources.{Layout, Tables}
    val dir = java.nio.file.Files.createTempDirectory("rollup").toString
    Layout.writeDailyRollup(Tables.events(spark, GraftTestSpark.Sf0001), dir)
    val q = Layout.readRollupRange(spark, dir, "2024-01-08", "2024-01-14")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("event_date"), plan)
    // partials merge to exactly the raw-range aggregate
    val raw = Tables.events(spark, GraftTestSpark.Sf0001)
      .filter(to_date(col("ts")).between("2024-01-08", "2024-01-14"))
      .groupBy("event_type").agg(count(lit(1)).as("n_events"))
    val merged = q.select("event_type", "n_events")
      .as[(String, Long)].collect().toMap
    raw.as[(String, Long)].collect().foreach { case (t, n) =>
      assert(merged(t) == n, s"type $t")
    }
  }

  test("co-located bucketed join plans without a shuffle Exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      val a = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "va")
      val b = Seq((1L, 10), (2L, 20)).toDF("k", "vb")
      val joined = Joins.coLocatedJoin(a, b, "k", buckets = 4,
        "graft_bucket_a", "graft_bucket_b")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"unexpected shuffle in:\n$plan")
      assert(plan.contains("SortMergeJoin"))
      assert(joined.count() == 2)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("day-partitioned layout prunes partitions at the scan (PartitionFilters)") {
    import graft.sources.{Layout, Tables}
    val dir = java.nio.file.Files.createTempDirectory("layout").toString
    val ev = Tables.events(spark, GraftTestSpark.Sf0001)
    Layout.writePartitionedByDay(ev, dir)
    val day = ev.select(to_date(col("ts")).cast("string")).head.getString(0)
    val pruned = Layout.readDay(spark, dir, day)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("event_date"), plan)
    // pruned read equals the predicate applied to the full data
    assert(pruned.count() ==
      ev.filter(to_date(col("ts")) === lit(day)).count())
    // and the full-scan row count survives the layout round-trip
    assert(spark.read.parquet(dir).count() == ev.count())
  }

  test("expirePartitions: deletes only below-cutoff day directories, rest stays readable") {
    import graft.sources.{Layout, Tables}
    val dir = java.nio.file.Files.createTempDirectory("layout-expire").toString
    val ev = Tables.events(spark, GraftTestSpark.Sf0001)
    Layout.writePartitionedByDay(ev, dir)
    val days = ev.select(to_date(col("ts")).cast("string"))
      .distinct().as[String].collect().sorted
    assert(days.size >= 3, s"need several days, got ${days.toSeq}")
    val cutoff = days(days.size / 2)
    val expectedExpired = days.filter(_ < cutoff).toSet
    val expired = Layout.expirePartitions(spark, dir, "event_date", cutoff)
    assert(expired.toSet == expectedExpired)
    // surviving data: exactly the rows at/after the cutoff, still readable
    val left = spark.read.parquet(dir)
    assert(left.count() ==
      ev.filter(to_date(col("ts")) >= lit(cutoff)).count())
    assert(left.select(min(col("event_date").cast("string"))).head.getString(0) == cutoff)
    // idempotent: nothing left to expire
    assert(Layout.expirePartitions(spark, dir, "event_date", cutoff).isEmpty)
  }

  test("writeZOrdered: per-file ranges are tight on BOTH columns (vs single-column sort)") {
    import graft.sources.{Layout, Tables}
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
      .select("doc_id", "n_chars")
    // average per-file (max-min)/globalRange for one column of a layout
    def avgFrac(dir: String, c: String): Double = {
      val withFile = spark.read.parquet(dir)
        .withColumn("_f", input_file_name())
      val global = withFile.agg((max(col(c)) - min(col(c))).cast("double")).head.getDouble(0)
      val per = withFile.groupBy("_f")
        .agg(((max(col(c)) - min(col(c))).cast("double") / global).as("fr"))
        .agg(avg("fr")).head.getDouble(0)
      per
    }
    val zDir = java.nio.file.Files.createTempDirectory("zorder").toString
    Layout.writeZOrdered(docs, "n_chars", "doc_id", zDir, numFiles = 8)
    val sortDir = java.nio.file.Files.createTempDirectory("asort").toString
    docs.repartitionByRange(8, col("n_chars")).sortWithinPartitions("n_chars")
      .write.mode("overwrite").parquet(sortDir)
    // single-column sort: perfect on n_chars, useless on doc_id
    assert(avgFrac(sortDir, "doc_id") > 0.9)
    // z-order: BOTH dimensions locally narrow — every file skippable by
    // either predicate
    assert(avgFrac(zDir, "n_chars") < 0.6, s"n_chars ${avgFrac(zDir, "n_chars")}")
    assert(avgFrac(zDir, "doc_id") < 0.6, s"doc_id ${avgFrac(zDir, "doc_id")}")
    // and the rewrite is lossless
    assert(spark.read.parquet(zDir).count() == docs.count())
  }

  test("expirePartitions: Hive-escaped partition values round-trip ('+' is not a space)") {
    import graft.sources.Layout
    val dir = java.nio.file.Files.createTempDirectory("layout-expire-esc").toString
    // values exercising escapePathName: '+' (URLDecoder's false friend),
    // space, and ':' all get %XX-escaped in the directory name
    val rows = Seq((1L, "a+b"), (2L, "c d"), (3L, "x:y"), (4L, "zz"))
      .toDF("id", "part")
    rows.write.mode("overwrite").partitionBy("part").parquet(dir)
    val expired = Layout.expirePartitions(spark, dir, "part", "d")
    assert(expired.toSet == Set("a+b", "c d"))
    assert(spark.read.parquet(dir).select("part").as[String]
      .collect().toSet == Set("x:y", "zz"))
  }

  test("asofJoin: latest prior right row per left row, inclusive ties, left-outer") {
    val trades = Seq((1L, "A", 100L), (2L, "A", 205L), (3L, "B", 50L))
      .toDF("trade_id", "sym", "t")
    val quotes = Seq(("A", 90L, 1.0), ("A", 100L, 2.0), ("A", 200L, 3.0),
      ("B", 60L, 9.0)).toDF("sym", "t", "px")
    val out = Joins.asofJoin(trades, quotes, "sym", "t", "t")
      .select($"trade_id", $"asof_px", $"asof_t")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(out(1L) == (Some(2.0), Some(100L)))  // equal-ts quote matches
    assert(out(2L) == (Some(3.0), Some(200L)))  // latest prior
    assert(out(3L) == (None, None))             // no prior quote -> NULLs
  }

  test("AQE splits skewed join partitions at runtime (skew=true in final plan)") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled" -> conf.get("spark.sql.adaptive.enabled", "true"),
      "spark.sql.autoBroadcastJoinThreshold" ->
        conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      // 90% of the big side lands on one key -> one fat shuffle partition
      val big = spark.range(200000)
        .select(when($"id" % 10 === 0, $"id" % 50).otherwise(lit(7L)).as("k"),
          concat(lit("payload-payload-payload-"), $"id").as("v"))
      val small = spark.range(50).select($"id".as("k"), lit("dim").as("d"))
      val joined = big.join(small, "k")
      // execute THIS frame (count() would plan a different query and leave
      // joined's AdaptiveSparkPlan unfinalized)
      assert(joined.collect().length == 200000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"), finalPlan)
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("dynamic partition pruning: partitioned fact x filtered dim join prunes at runtime") {
    import graft.sources.{Layout, Tables}
    val dir = java.nio.file.Files.createTempDirectory("dpp").toString
    Layout.writePartitionedByDay(Tables.events(spark, GraftTestSpark.Sf0001), dir)
    val fact = spark.read.parquet(dir)
    val allDays = fact.select($"event_date").distinct()
      .as[java.sql.Date].collect().sorted
    // DPP needs a real source with a selective predicate on the build side
    val dimDir = java.nio.file.Files.createTempDirectory("dpp-dim").toString
    allDays.toSeq.toDF("d")
      .withColumn("flag", when($"d".isin(allDays.take(2).toSeq: _*), "keep")
        .otherwise("drop"))
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter($"flag" === "keep")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    val joined = fact.join(dim, $"event_date" === $"d")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan)
    assert(joined.count() ==
      fact.filter($"event_date".isin(allDays.take(2).toSeq: _*)).count())
  }

  test("writeSingleJsonFile append mode carries the existing document forward") {
    val dir = java.nio.file.Files.createTempDirectory("jsonappend").toString
    val first = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val second = Seq((3L, "c")).toDF("id", "v")
    graft.sinks.Sinks.writeSingleJsonFile(first, dir, header = "[\n",
      footer = "\n]", separator = ",\n")
    graft.sinks.Sinks.writeSingleJsonFile(second, dir, header = "[\n",
      footer = "\n]", separator = ",\n", append = true)
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).head
    val content = java.nio.file.Files.readString(part.toPath)
    assert(content.startsWith("[\n") && content.trim.endsWith("]"))
    assert(Seq(""""id":1""", """"id":2""", """"id":3""")
      .forall(content.contains), content)
    assert(content.sliding(4).count(_ == "{\"id") == 3)
  }

  test("TopKPerKey operator == window row_number formulation; plans heap exec, no sort") {
    import org.apache.spark.sql.expressions.Window
    val orders = Tables.orders(spark, GraftTestSpark.Sf0001)
    val custom = graft.plans.TopKPerKey.perKey(orders, Seq("o_custkey"),
        Seq(("o_totalprice", false), ("o_orderkey", true)), 3)
      .select("o_custkey", "o_orderkey", "rn")
      .as[(Long, Long, Int)].collect().sorted.toSeq
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val windowed = orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).select("o_custkey", "o_orderkey", "rn")
      .as[(Long, Long, Int)].collect().sorted.toSeq
    assert(custom == windowed && custom.nonEmpty)
    val plan = graft.plans.TopKPerKey.perKey(orders, Seq("o_custkey"),
      Seq(("o_totalprice", false)), 3).queryExecution.executedPlan.toString
    // SparkPlan.nodeName strips the Exec suffix in plan strings
    assert(plan.contains("TopKPerKey"), plan)
    assert(!plan.contains("Window") && !plan.contains("+- Sort"), plan)
  }

  test("TopKPerKey partial eviction: tiny key cap still yields exact two-stage top-k") {
    // force constant eviction in the partial stage (keys interleave, cap 2):
    // evicted heaps stream out early as a SUPERSET and the final stage must
    // still reduce to the exact per-key top-2
    System.setProperty("graft.topk.partialMaxKeys", "2")
    try {
      val rows = (1 to 500).map(i => (i % 50, i))
      val df = rows.toDF("key", "v").repartition(4)
      val partial = graft.plans.TopKPerKey.perKeyPartial(
        df, Seq("key"), Seq(("v", true)), 2)
      val got = graft.plans.TopKPerKey.perKey(
          partial, Seq("key"), Seq(("v", true)), 2, "rn")
        .select("key", "v", "rn").as[(Int, Int, Int)].collect().sorted.toSeq
      val want = rows.groupBy(_._1).toSeq.flatMap { case (k, vs) =>
        vs.map(_._2).sorted.take(2).zipWithIndex.map { case (v, i) => (k, v, i + 1) }
      }.sorted
      assert(got == want)
    } finally System.clearProperty("graft.topk.partialMaxKeys")
  }

  test("TopKRewrite: user-written window top-k rewrites to the heap operator, results identical") {
    import org.apache.spark.sql.expressions.Window
    // isolated session: experimental rules/strategies are per-session
    // state, so the shared suite session's plans stay untouched
    val s2 = spark.newSession()
    GraftExtensions.enable(s2)
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    def topk(s: org.apache.spark.sql.SparkSession) =
      Tables.orders(s, GraftTestSpark.Sf0001)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    val rewritten = topk(s2)
    val opt = rewritten.queryExecution.optimizedPlan.toString
    // Spark's own InferWindowGroupLimit leaves a WindowGroupLimit below —
    // a bonus partial stage; "Window [" matches only the full window node
    assert(opt.contains("TopKPerKey") && !opt.contains("Window ["), opt)
    val phys = rewritten.queryExecution.executedPlan.toString
    assert(phys.contains("TopKPerKey") && !phys.contains("+- Sort") &&
      !phys.contains("Window ["), phys)
    val got = rewritten.as[(Long, Long, Int)].collect().sorted.toSeq
    val want = topk(spark).as[(Long, Long, Int)].collect().sorted.toSeq
    assert(got == want && got.nonEmpty)
  }

  test("TopKRewrite: residual predicates survive on top (pagination), rank refs resolve") {
    import org.apache.spark.sql.expressions.Window
    val s2 = spark.newSession()
    GraftExtensions.enable(s2)
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    def page(s: org.apache.spark.sql.SparkSession) =
      Tables.orders(s, GraftTestSpark.Sf0001)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 4 && col("rn") >= 2 &&
          col("o_orderstatus") =!= "Z")
        .select(col("o_custkey"), col("o_orderkey"), (col("rn") * 10).as("r10"))
    val rewritten = page(s2)
    val opt = rewritten.queryExecution.optimizedPlan.toString
    assert(opt.contains("TopKPerKey") && !opt.contains("Window ["), opt)
    val got = rewritten.as[(Long, Long, Int)].collect().sorted.toSeq
    val want = page(spark).as[(Long, Long, Int)].collect().sorted.toSeq
    assert(got == want && got.nonEmpty)
  }

  test("TopKRewrite guards: rank(), huge k, and global windows are left alone") {
    import org.apache.spark.sql.expressions.Window
    val s2 = spark.newSession()
    GraftExtensions.enable(s2)
    val orders = Tables.orders(s2, GraftTestSpark.Sf0001)
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    // rank() has different tie semantics — must not rewrite
    val r1 = orders.withColumn("rk", rank().over(w)).filter(col("rk") <= 3)
    assert(r1.queryExecution.optimizedPlan.toString.contains("Window ["))
    // k beyond the heap-memory guard — must not rewrite
    val r2 = orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10000000)
    assert(r2.queryExecution.optimizedPlan.toString.contains("Window ["))
    // always-false bound (rn <= 0) — left to Spark's own simplification
    val r3 = orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 0)
    assert(!r3.queryExecution.optimizedPlan.toString.contains("TopKPerKey"))
    // Int.MinValue literal: `rn < MinValue` is always false, but v - 1
    // WRAPS to Int.MaxValue — an unguarded bound extraction would treat
    // it as implied-by-the-heap and drop it, emitting rows the window
    // form never returns. The guarded case leaves it as a residual
    // predicate: zero rows, window-identical
    val r4 = orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3 && col("rn") < Int.MinValue)
    assert(r4.count() == 0L, "wrapped MinValue bound leaked rows")
  }

  test("rangeJoin == brute-force inequality join on randomized data") {
    import graft.operators.Joins
    val rnd = new scala.util.Random(7)
    // timestamps clustered AND spread so windows hit bin boundaries,
    // bin-interior matches, and empty bins
    val lefts = (1 to 300).map(i =>
      (rnd.nextInt(5).toLong, i.toLong, rnd.nextInt(10000).toLong))
    val rights = (1 to 300).map(i =>
      (rnd.nextInt(5).toLong, (1000 + i).toLong, rnd.nextInt(10000).toLong))
    val l = lefts.toDF("k", "lid", "lts")
    val r = rights.toDF("k", "rid", "rts")
    val window = 750L // deliberately not a divisor of the ts range
    val binned = Joins.rangeJoin(l, r, "k", "lts", "rts", window)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val brute = (for {
      (lk, lid, lts) <- lefts
      (rk, rid, rts) <- rights
      if lk == rk && rts >= lts && rts < lts + window
    } yield (lid, rid)).toSet
    assert(binned == brute)
    assert(brute.nonEmpty)
  }

  test("GraftExtensions: apply injects the function table, the top-k strategy and the rewrite rule") {
    import graft.plans.{TopKPerKey, TopKRewrite, TopKStrategy}
    import org.apache.spark.sql.{ExtensionsProbe, SparkSessionExtensions}
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.Literal
    val e = new SparkSessionExtensions
    new GraftExtensions()(e)
    val registry = ExtensionsProbe.functions(e)
    assert(registry.listFunction().map(_.funcName).toSet ==
      GraftExtensions.functions.map(_._1).toSet)
    assert(GraftExtensions.functions.size == 6)
    assert(registry.lookupFunction(FunctionIdentifier("rolling_hash"),
      Seq(Literal("abc"))).eval() == 96354L)
    assert(ExtensionsProbe.strategies(e, spark) == Seq(TopKStrategy))
    assert(ExtensionsProbe.optimizerRules(e, spark) == Seq(TopKRewrite))
    // on a running session: the top-k API installs the strategy alone,
    // enable adds the rule; both are idempotent
    val s2 = spark.newSession()
    val kv = s2.range(6).selectExpr("id % 2 AS k", "id AS v")
    TopKPerKey.perKey(kv, Seq("k"), Seq(("v", true)), 1).collect()
    TopKPerKey.perKeyPartial(kv, Seq("k"), Seq(("v", true)), 1).collect()
    assert(s2.experimental.extraStrategies == Seq(TopKStrategy))
    assert(s2.experimental.extraOptimizations.isEmpty)
    GraftExtensions.enable(s2)
    GraftExtensions.enable(s2)
    assert(s2.experimental.extraStrategies == Seq(TopKStrategy))
    assert(s2.experimental.extraOptimizations == Seq(TopKRewrite))
  }

  test("SQL function registration: all four native expressions usable from SQL") {
    GraftExtensions.register(spark)
    assert(spark.sql("SELECT rolling_hash('abc')").head.getLong(0) == 96354L)
    assert(spark.sql("SELECT size(word_shingles('a b c d', 3))").head.getInt(0) == 2)
    assert(spark.sql("SELECT rolling_hash('abc', 31, 97)").head.getLong(0) == 96354L % 97)
    assert(spark.sql("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))")
      .head.getDouble(0) == 11.0)
    // must equal the expression form used by the dedup operators
    val viaSql = spark.sql("SELECT simhash64('a b c')").head.getLong(0)
    val viaExpr = Seq("a b c").toDF("t")
      .select(graft.plans.SimHash64($"t")).head.getLong(0)
    assert(viaSql == viaExpr)
    // Aho-Corasick blocklist counter, pattern list as SQL literals
    assert(spark.sql("SELECT multi_substring_count('ushers', 'he', 'she', 'hers')")
      .head.getInt(0) == 3)
    // winnowing selection: [9,1,8,2] w=2 -> positions 2 and 4
    val wn = spark.sql(
      "SELECT winnow_select(array(9L, 1L, 8L, 2L), 2)")
      .head.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(wn == Seq((2, 1L), (4, 2L)))
  }

  test("TextAnalysis.chunk: windows cover every token at the right offsets") {
    import graft.functions.TextAnalysis
    val text = (1 to 100).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val chunks = TextAnalysis.chunk(df, "doc_id", "text", width = 32, stride = 24)
      .orderBy("chunk_idx")
      .select("chunk_idx", "chunk_text").as[(Int, String)].collect()
    val toks = text.split(" ")
    // ceil((100-32)/24)+1 = 4 windows
    assert(chunks.length == 4)
    chunks.foreach { case (i, c) =>
      assert(c == toks.slice(i * 24, i * 24 + 32).mkString(" "))
    }
    // stride < width: every token appears in at least one window
    assert(chunks.flatMap(_._2.split(" ")).toSet == toks.toSet)
    // short doc: single chunk, whole text
    val short = TextAnalysis.chunk(Seq((2L, "a b")).toDF("doc_id", "text"),
      "doc_id", "text", 32, 24).select("chunk_text").as[String].collect()
    assert(short.toSeq == Seq("a b"))
    // stride == width: chunks tile exactly, concatenation rebuilds the doc
    val tiled = TextAnalysis.chunk(df, "doc_id", "text", 25, 25)
      .orderBy("chunk_idx").select("chunk_text").as[String].collect()
    assert(tiled.mkString(" ") == text)
  }
}
