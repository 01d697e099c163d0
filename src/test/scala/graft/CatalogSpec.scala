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

  test("no query carries both a static and a dynamic oracle") {
    val both = SparkEntry.oracleSql.keySet
      .intersect(SparkEntry.dynamicOracleSql.keySet)
    assert(both.isEmpty, s"double-oracled queries: $both")
  }
}
