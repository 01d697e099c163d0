package graft

import graft.config.GraftConfig
import org.scalatest.funsuite.AnyFunSuite

class ConfigSpec extends AnyFunSuite {

  val props =
    """# global settings (post-shim flat form: section_option)
      |enable_kafka = true
      |cassandra_fetch_size = 5000
      |cassandra_filter = event_type:click
      |kafka_topics = t1,t2
      |kafka_topics_prefix = pfx-
      |s3_object_key = events/%(id)s.json
      |""".stripMargin

  test("properties parse: comments, no-value keys, later key wins") {
    val m = GraftConfig.parseProperties(
      "# c\n; c2\na = 1\nb\na = 2\n[DEFAULT]\nkafka_acks: -1")
    assert(m("a") == "2" && m("b") == "" && m("kafka_acks") == "-1")
  }

  test("resolution priority: cli > env > properties > default (app.py:151-198)") {
    val base = GraftConfig.loadGlobal(props)
    assert(base.fetchSize == 5000 && base.enableKafka &&
      base.filter.contains("event_type:click") &&
      base.sinks.kafkaTopics == Seq("t1", "t2"))
    val withEnv = GraftConfig.loadGlobal(props,
      env = Map("CASSANDRA_FETCH_SIZE" -> "7000", "ENABLE_KAFKA" -> "false"))
    assert(withEnv.fetchSize == 7000 && !withEnv.enableKafka)
    val withCli = GraftConfig.loadGlobal(props,
      env = Map("CASSANDRA_FETCH_SIZE" -> "7000"),
      cli = Map("CASSANDRA_FETCH_SIZE" -> "9000"))
    assert(withCli.fetchSize == 9000)
    // untouched options keep defaults
    assert(base.keyspace == "hub" && base.timestampFormat ==
      "%Y-%m-%d %H:%M:%S.%f%z")
  }

  test("per-table overlay: table props + <TABLE>_ env over global (app.py:365-540)") {
    val global = GraftConfig.loadGlobal(props)
    val table = GraftConfig.loadTable("events", global,
      propertiesText = "cassandra_pages = 3\ncassandra_sort_by = ts desc, event_id",
      env = Map("EVENTS_CASSANDRA_FETCH_SIZE" -> "1000",
        "OTHER_CASSANDRA_FETCH_SIZE" -> "999"),
      specJson = Some("""{"columns": [{"name": "secret", "remove": true}]}"""))
    assert(table.table == "events")
    assert(table.fetchSize == 1000)          // table env wins
    assert(table.pages.contains(3))          // table props
    assert(table.sortBy == Seq(("ts", false), ("event_id", true)))
    assert(table.enableKafka)                // inherited from global
    assert(table.spec.removals == Seq("secret"))
    assert(table.sinks.kafkaTopicPrefix == "pfx-")
  }

  test("toPipelineConfig bridges to the executable pipeline") {
    val cfg = GraftConfig.loadGlobal(props).copy(table = "events",
      modifiedTimestampFilter = Some(123L))
    val p = cfg.toPipelineConfig
    assert(p.table == "events" && p.fetchSize == 5000 &&
      p.solrFilter.contains("event_type:click") &&
      p.watermarkMillis.contains(123L))
  }
  test("global timestamp format fills a conversion that names none; the modified_timestamp filter applies after it") {
    val spark = GraftTestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cfg").toString
    Seq((1L, "19/12/2019 10:29"), (2L, "20/12/2019 10:29"),
        (3L, null), (4L, "21/12/2019 08:00"))
      .toDF("id", "modified_timestamp")
      .write.parquet(s"$dir/t.parquet")
    val global = GraftConfig.loadGlobal(
      "cassandra_timestamp_format = %d/%m/%Y %H:%M")
    val spec = Some(
      """{"columns": [{"name": "modified_timestamp", "convertTo": "timestamp"}]}""")
    val cfg = GraftConfig.loadTable("t", global, specJson = spec)
    assert(cfg.spec.columns.head.timestampFormat.contains("%d/%m/%Y %H:%M"))
    // a format the spec names wins
    assert(GraftConfig.loadTable("t", global, specJson = Some(
      """{"columns": [{"name": "x", "convertTo": "timestamp",
        | "timestamp_format": "%Y"}]}""".stripMargin))
      .spec.columns.head.timestampFormat.contains("%Y"))
    val dec19 = 1576751340000L // 2019-12-19T10:29:00Z
    val day = 86400000L
    def extract(c: GraftConfig) =
      Pipeline.extract(spark, dir, c.toPipelineConfig)
        .as[(Long, Option[Long])].collect().sortBy(_._1).toSeq
    assert(extract(cfg) == Seq((1L, Some(dec19)), (2L, Some(dec19 + day)),
      (3L, None), (4L, Some(dec19 + 2 * day - (2 * 60 + 29) * 60000L))))
    // a row AT the filter drops, as does every later one; NULL stays
    val filtered = GraftConfig.loadTable("t", global, specJson = spec,
      propertiesText = s"cassandra_modified_timestamp_filter = ${dec19 + day}")
    assert(extract(filtered) == Seq((1L, Some(dec19)), (3L, None)))
    // without the field (or before its conversion) the key is named
    val noField = intercept[IllegalArgumentException](Pipeline.extract(spark,
      GraftTestSpark.Sf0001, Pipeline.Config("region", watermarkMillis = Some(1L))))
    assert(noField.getMessage.contains("cassandra_modified_timestamp_filter"))
    val unconverted = intercept[IllegalArgumentException](
      Pipeline.extract(spark, dir, Pipeline.Config("t", watermarkMillis = Some(1L))))
    assert(unconverted.getMessage.contains("found string"))
  }

  test("CorpusSpec: parse round-trip and spec-run == hand-composed pipeline") {
    import graft.spec.CorpusSpec
    import graft.functions.{Dedup, Sampling, TextAnalysis}
    import org.apache.spark.sql.functions._
    val spec = CorpusSpec.parse("""{
      "filter": {"minTokens": 5, "langs": ["en", "es"]},
      "normalize": true,
      "dedup": {"method": "exact"},
      "sample": {"strataCol": "lang", "rates": {"en": 0.5}, "default": 0.25},
      "chunk": {"width": 32, "stride": 24}}""")
    assert(spec.minTokens.contains(5) && spec.langs == Seq("en", "es"))
    assert(spec.normalize && spec.dedupMethod.contains("exact"))
    assert(spec.sampleRates == Map("en" -> 0.5) && spec.sampleDefault == 0.25)
    assert(spec.chunkWidth.contains(32) && spec.chunkStride.contains(24))

    val spark = GraftTestSpark.spark
    val docs = graft.sources.Tables.documents(spark, GraftTestSpark.Sf0001)
    val viaSpec = CorpusSpec.run(docs, spec)
      .select("doc_id", "chunk_idx", "chunk_text")
      .collect().map(_.toSeq).toSet
    val filtered = docs.filter(col("lang").isin("en", "es"))
      .filter(TextAnalysis.tokenCountWs(col("text")) >= 5)
      .withColumn("text", TextAnalysis.normalize(col("text")))
    val hand = TextAnalysis.chunk(
      Sampling.stratifiedSample(
        Dedup.exactDedup(filtered, "text", "doc_id"),
        "doc_id", "lang", Map("en" -> 0.5), 0.25),
      "doc_id", "text", 32, 24)
      .select("doc_id", "chunk_idx", "chunk_text")
      .collect().map(_.toSeq).toSet
    assert(viaSpec.nonEmpty)
    assert(viaSpec == hand)
  }
  test("CorpusSpec temperature sample path == Sampling.temperatureSample") {
    import graft.spec.CorpusSpec
    val spark = GraftTestSpark.spark
    val docs = graft.sources.Tables.documents(spark, GraftTestSpark.Sf0001)
    val spec = CorpusSpec.parse(
      """{"sample": {"strataCol": "lang", "temperature": 0.5}}""")
    assert(spec.sampleTemperature.contains(0.5))
    val viaSpec = CorpusSpec.run(docs, spec)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val direct = graft.functions.Sampling
      .temperatureSample(docs, "doc_id", "lang", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaSpec == direct && viaSpec.nonEmpty)
  }
  test("CorpusSpec minhash dedup path == Dedup.minhashSurvivors") {
    import graft.spec.CorpusSpec
    import graft.functions.Dedup
    val spark = GraftTestSpark.spark
    val docs = graft.sources.Tables.documents(spark, GraftTestSpark.Sf0001)
    val viaSpec = CorpusSpec.run(docs,
      CorpusSpec.parse("""{"dedup": {"method": "minhash", "threshold": 0.8}}"""))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val direct = Dedup.minhashSurvivors(docs, "doc_id", "text", threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaSpec == direct && viaSpec.nonEmpty)
  }
}
