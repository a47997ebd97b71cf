package graft

/** t1 smoke (SURVEY §5.2): every declared query runs on sf0.001 and
  * produces rows; the registry is complete (one builder and one
  * non-blank oracle per well-formed name) and holds every query the
  * benchmark's pool can draw.
  */
class QueriesSmokeSpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("registry: 244 entries, each with a builder and an oracle") {
    val onlyBuilt = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val onlyOracle = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(onlyBuilt.isEmpty, s"queries without an oracle: $onlyBuilt")
    assert(onlyOracle.isEmpty, s"oracle entries without a query: $onlyOracle")
    assert(SparkEntry.queries.size == 244)
  }

  test("registry: names are unique and well formed, oracles are not blank") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 244 && names.distinct.size == names.size,
      s"declared twice: ${names.diff(names.distinct)}")
    val malformed = names.filterNot(_.matches("""q\d+[a-z]?_\w+"""))
    assert(malformed.isEmpty, s"malformed names: $malformed")
    val blank = SparkEntry.registry.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"blank oracles: $blank")
  }

  test("registry: every query the benchmark's pool lists is declared") {
    val strata = scala.io.Source.fromFile("perfbench/query_strata.txt", "UTF-8")
    val pool = try strata.getLines().map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .flatMap(_.split("\\s+")).toList
    finally strata.close()
    assert(pool.nonEmpty, "perfbench/query_strata.txt lists no queries")
    val undeclared = pool.filterNot(SparkEntry.queries.contains)
    assert(undeclared.isEmpty, s"pool queries missing from the registry: $undeclared")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs on sf0.001 with rows > 0") {
      assert(fn(spark, sf0001).count() > 0, s"$name returned no rows")
    }
  }
}
