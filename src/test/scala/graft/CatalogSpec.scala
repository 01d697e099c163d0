package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Catalog-shape invariants: the count the docs cite, the queries/oracle
  * key containment the driver's gate relies on, and the bench headline
  * the catalog flags. */
class CatalogSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")

  private def source(rel: String): String =
    new String(Files.readAllBytes(mainRoot.resolve(rel)),
      java.nio.charset.StandardCharsets.UTF_8)

  /** (path under src/main/scala, text) of every library source file. */
  private lazy val mainSources: List[(String, String)] = {
    assert(Files.isDirectory(mainRoot),
      s"no source tree at ${mainRoot.toAbsolutePath}")
    val walk = Files.walk(mainRoot)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(mainRoot.relativize(_).toString).toList.map(f => f -> source(f))
    finally walk.close()
  }

  test("catalog size matches the declared CatalogCount the docs cite") {
    assert(SparkEntry.queries.size == SparkEntry.CatalogCount,
      s"SparkEntry.queries has ${SparkEntry.queries.size} entries but " +
        s"CatalogCount says ${SparkEntry.CatalogCount} — update the " +
        "constant AND the counts quoted in SURVEY.md/COVERAGE.md/SCALING.md")
  }

  test("every oracle key (static and dynamic) names a catalog query") {
    val qs = SparkEntry.queries.keySet
    val staticOrphans = SparkEntry.oracleSql.keySet.diff(qs)
    val dynamicOrphans = SparkEntry.dynamicOracleSql.keySet.diff(qs)
    assert(staticOrphans.isEmpty, s"oracleSql keys without a query: $staticOrphans")
    assert(dynamicOrphans.isEmpty,
      s"dynamicOracleSql keys without a query: $dynamicOrphans")
  }

  test("catalog names are unique (a repeated name would shadow an entry)") {
    val names = graft.queries.Catalog.all.map(_.name)
    val dups = names.diff(names.distinct)
    assert(dups.isEmpty, s"catalog names defined more than once: $dups")
  }

  test("Bench's default sweep is the catalog headline: distinct catalog entries") {
    val swept = Bench.queries(None)
    assert(swept == graft.queries.Catalog.headline)
    assert(swept.nonEmpty)
    val dups = swept.diff(swept.distinct)
    assert(dups.isEmpty, s"headline entries flagged more than once: $dups")
    val missing = swept.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"headline names without a catalog entry: $missing")
  }

  test("the library reads no spark.graft.* session conf key but the checkpoint dir") {
    // any string literal naming a key, interpolated or concatenated forms
    // included ("spark.graft." + k, s"spark.graft.$k")
    val literal = "\"spark\\.graft\\.[^\"]*\"".r
    val found = mainSources.flatMap { case (f, src) =>
      literal.findAllIn(src).map(f -> _) }
    val dirKey = "\"" + graft.functions.Checkpoints.DirKey + "\""
    assert(found.exists(_._2 == dirKey), s"scanner missed $dirKey: $found")
    val others = found.filterNot(_._2 == dirKey)
    assert(others.isEmpty, s"spark.graft.* keys besides the checkpoint dir: $others")
  }

  test("every persist and checkpoint in the library goes through Caches") {
    // the two files that own cache lifetimes; everywhere else a persist
    // is Caches.operatorPersist or a Caches.Scope's (named `scope`)
    val owners = Set("Caches.scala", "Checkpoints.scala")
    val raw = """(\w*)\.(persist|unpersist)\(|StorageLevel|localCheckpoint""".r
    val found = mainSources
      .filterNot { case (f, _) => owners(Paths.get(f).getFileName.toString) }
      .flatMap { case (f, src) =>
        raw.findAllMatchIn(src)
          .filterNot(m => m.group(1) == "scope" && m.group(2) == "persist")
          .map(f -> _.matched)
      }
    assert(found.isEmpty,
      s"raw cache calls outside Caches/Checkpoints: $found")
    // the scanner does see what it forbids
    assert(raw.findFirstIn(source("graft/functions/Caches.scala")).isDefined)
  }

  test("every listener the library registers is in graft/observability") {
    val register =
      """listenerManager\.register|addSparkListener|streams\.addListener""".r
    val found = mainSources
      .filterNot { case (f, _) => f.startsWith("graft/observability/") }
      .flatMap { case (f, src) => register.findAllIn(src).map(f -> _) }
    assert(found.isEmpty, s"listener registrations outside observability: $found")
    // the scanner does see what it forbids
    assert(register.findAllIn(
      source("graft/observability/QueryProfile.scala")).size == 3)
  }

  test("file-backed sinks write through the manifest protocol, not a DataFrameWriter format") {
    // .json( / .text( / .csv( on a DataFrameWriter is Hadoop's
    // FileFormatWriter and output committer; graft/sinks commits files
    // through sources.v2.ManifestSink (to_json( and friends do not match)
    val hadoopWrite = """\.(json|text|csv)\(""".r
    val sinks = mainSources.filter(_._1.startsWith("graft/sinks/"))
    assert(sinks.nonEmpty, "no sources under graft/sinks/")
    val found = sinks.flatMap { case (f, src) =>
      hadoopWrite.findAllIn(src).map(f -> _) }
    assert(found.isEmpty, s"DataFrameWriter file formats in graft/sinks: $found")
    // the scanner does see what it forbids
    assert(hadoopWrite.findAllIn(
      "df.write.mode(\"overwrite\").json(p); lines.write.text(p); d.write.csv(p)").size == 3)
    assert(hadoopWrite.findFirstIn("to_json(struct(col(\"*\")))").isEmpty)
  }

  test("every single-path parquet read goes through Tables.parquet") {
    // spark.read.parquet(path) runs a schema-inference job per read;
    // Tables.parquet reads the footer on the driver. A multi-path read
    // (`paths: _*`) has no one-path form.
    val inferring = """read\.parquet\((?!.*: _\*\))""".r
    val owners = Set("graft/sources/Tables.scala",
      "org/apache/spark/sql/execution/datasources/parquet/GraftParquet.scala")
    val found = mainSources.filterNot { case (f, _) => owners(f) }
      .flatMap { case (f, src) => inferring.findAllIn(src).map(_ => f) }
    assert(found.isEmpty, s"spark.read.parquet outside Tables.parquet: $found")
    // the scanner does see what it forbids, and lets the multi-path form by
    assert(inferring.findFirstIn(source("graft/sources/Tables.scala")).isDefined)
    assert(inferring.findFirstIn("spark.read.parquet(dirs: _*)").isEmpty)
  }

  test("graft's Catalyst extensions install through GraftExtensions only") {
    // the one seam: its function table serves apply and register, its
    // enable/enableStrategy are the only runtime installs (a definition
    // of registerFunction is not a call)
    val install = """experimental\.extra(Strategies|Optimizations)|(?<!def )registerFunction\(""".r
    val found = mainSources
      .filterNot(_._1 == "graft/plans/GraftExtensions.scala")
      .flatMap { case (f, src) => install.findAllIn(src).map(f -> _) }
    assert(found.isEmpty, s"extension installs outside GraftExtensions: $found")
    // the scanner does see what it forbids
    val seen = install.findAllIn(source("graft/plans/GraftExtensions.scala"))
      .map(_.takeWhile(_ != '(')).toSet
    assert(seen == Set("experimental.extraStrategies",
      "experimental.extraOptimizations", "registerFunction"), seen)
    assert(install.findFirstIn(
      source("org/apache/spark/sql/GraftSql.scala")).isEmpty)
  }

  test("every session the library builds is Bench.session's") {
    val builder = """SparkSession\.builder""".r
    def code(src: String): String = src.linesIterator.filterNot { l =>
      val t = l.trim
      t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
    }.mkString("\n")
    val found = mainSources.flatMap { case (f, src) =>
      builder.findAllIn(code(src)).map(_ => f) }
    assert(found == List("graft/Bench.scala"),
      s"SparkSession.builder outside Bench.session: $found")
    // the scanner does see what it forbids, and skips comments
    assert(builder.findAllIn(code(
      "  val s = SparkSession.builder()\n  * SparkSession.builder()\n" +
        "  // SparkSession.builder()")).size == 1)
  }

  test("the oracle text perfbench's corpus_dedup check slices keeps its shape") {
    // the check cuts the funnel at its last final-SELECT marker and reads
    // `<stages> SELECT doc_id FROM s4 WHERE surv_c`, keeps `id_b` of the
    // dedup_minhash rows, and wraps suffix_spans_remove cut at its last
    // ORDER BY
    val funnel = SparkEntry.oracleSql("recipe_pretrain_funnel")
    val cut = funnel.lastIndexOf("SELECT source, count(*) AS n_raw")
    assert(cut > 0, "the funnel's final SELECT marker is gone")
    val stages = funnel.take(cut)
    val s4 = stages.indexOf("\ns4 AS (")
    assert(stages.startsWith("WITH ") && s4 > 0 &&
      stages.indexOf("AS surv_c", s4) > s4, stages.takeRight(600))
    val minhash = SparkEntry.oracleSql("dedup_minhash")
    val last = minhash.lastIndexOf("\nSELECT ")
    assert(last > 0 && minhash.drop(last).matches(
      "(?s)\nSELECT id_a, id_b,\\s+[^\\n]* AS jaccard\\n.*"), minhash.drop(last))
    val spans = SparkEntry.oracleSql("suffix_spans_remove")
    val orderBy = spans.lastIndexOf("ORDER BY")
    val tail = spans.drop(orderBy)
    assert(orderBy > 0 && !tail.exists("()".contains(_)) &&
      !tail.contains("SELECT"), tail)
    assert(Seq("clean_text", "n_removed").forall(c =>
      spans.take(orderBy).contains(s"AS $c")))
  }

  test("each shared oracle fragment is written once under graft/queries") {
    // a line of each model's one fragment: a second copy of the model
    // would repeat it
    val markers = Seq(
      "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)",
      "reach(id, lbl) AS (",
      "trT AS (SELECT toks[i] AS prev, toks[i + 1] AS cur",
      "wh AS MATERIALIZED (",
      "len(list_distinct(string_split(text,' '))) AS n_uniq_tokens",
      "regexp_extract_all(substr(md5(",
      "tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]",
      "list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS ma",
      "x -> x IN ('the','be','to','of','and','that','have',",
      "reps AS (SELECT rk, nm, pref, slen FROM (",
      "a(rn, lang, n_tokens, b, rem, n) AS (",
      "* sqrt(${dotSql(",
      "concat(lit(\"MOVED-\")",
      "lit(0L).as(\"valid_from\")")
    val queries = mainSources.filter(_._1.startsWith("graft/queries/"))
    def count(m: String, texts: Seq[String]): Int =
      texts.map(java.util.regex.Pattern.quote(m).r.findAllIn(_).size).sum
    val wrong = markers.map(m => m -> count(m, queries.map(_._2)))
      .filter(_._2 != 1)
    assert(wrong.isEmpty, s"fragments not written exactly once: $wrong")
    // the scan does see a second copy
    assert(count(markers.head, Seq(markers.head + "\n" + markers.head)) == 2)
  }

  test("no query carries both a static and a dynamic oracle") {
    val both = SparkEntry.oracleSql.keySet
      .intersect(SparkEntry.dynamicOracleSql.keySet)
    assert(both.isEmpty, s"double-oracled queries: $both")
  }
}
