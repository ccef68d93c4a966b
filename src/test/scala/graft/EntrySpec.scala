package graft

/** The driver's flagship smoke check: SparkEntry.entry must return rows on
  * sf0.001, and every queries key must have matching oracle aliases when an
  * oracle exists (the driver hashes columns sorted by name). */
class EntrySpec extends SparkSpec {

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a queries entry") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"orphan oracles: ${os.diff(qs)}")
  }

  test("inventory size matches SURVEY accounting") {
    // every entry carries an oracle; a new entry moves both counts and its
    // SURVEY line together
    assert(SparkEntry.queries.size == 245, s"got ${SparkEntry.queries.size}")
    assert(SparkEntry.oracleSql.size == 245, s"got ${SparkEntry.oracleSql.size}")
  }

  test("SURVEY §2 census matches SparkEntry.queries (no name drift)") {
    // the same check Verify runs before the driver gate; failing here
    // means a checklist edit and a code edit went out of sync
    Verify.censusCheck()
  }
}
