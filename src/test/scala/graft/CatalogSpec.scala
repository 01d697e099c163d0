package graft

import org.scalatest.funsuite.AnyFunSuite

/** Catalog-shape invariants: the count the docs cite, the queries/oracle
  * key containment the driver's gate relies on, and the bench headline
  * the catalog flags. */
class CatalogSpec extends AnyFunSuite {

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
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no source tree at ${root.toAbsolutePath}")
    // any string literal naming a key, interpolated or concatenated forms
    // included ("spark.graft." + k, s"spark.graft.$k")
    val literal = "\"spark\\.graft\\.[^\"]*\"".r
    val walk = Files.walk(root)
    val found =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap { f =>
          val src = new String(Files.readAllBytes(f),
            java.nio.charset.StandardCharsets.UTF_8)
          literal.findAllIn(src).map(root.relativize(f).toString -> _)
        }.toList
      finally walk.close()
    val dirKey = "\"" + graft.functions.Checkpoints.DirKey + "\""
    assert(found.exists(_._2 == dirKey), s"scanner missed $dirKey: $found")
    val others = found.filterNot(_._2 == dirKey)
    assert(others.isEmpty, s"spark.graft.* keys besides the checkpoint dir: $others")
  }

  test("every persist and checkpoint in the library goes through Caches") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no source tree at ${root.toAbsolutePath}")
    // the two files that own cache lifetimes; everywhere else a persist
    // is Caches.operatorPersist or a Caches.Scope's (named `scope`)
    val owners = Set("Caches.scala", "Checkpoints.scala")
    val raw = """(\w*)\.(persist|unpersist)\(|StorageLevel|localCheckpoint""".r
    val walk = Files.walk(root)
    val found =
      try walk.iterator().asScala
        .filter(f => f.toString.endsWith(".scala") &&
          !owners(f.getFileName.toString))
        .flatMap { f =>
          val src = new String(Files.readAllBytes(f),
            java.nio.charset.StandardCharsets.UTF_8)
          raw.findAllMatchIn(src)
            .filterNot(m => m.group(1) == "scope" && m.group(2) == "persist")
            .map(m => root.relativize(f).toString -> m.matched)
        }.toList
      finally walk.close()
    assert(found.isEmpty,
      s"raw cache calls outside Caches/Checkpoints: $found")
    // the scanner does see what it forbids
    val caches = new String(Files.readAllBytes(
      root.resolve("graft/functions/Caches.scala")),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(raw.findFirstIn(caches).isDefined)
  }

  test("no query carries both a static and a dynamic oracle") {
    val both = SparkEntry.oracleSql.keySet
      .intersect(SparkEntry.dynamicOracleSql.keySet)
    assert(both.isEmpty, s"double-oracled queries: $both")
  }
}
