package graft

/** Mirrors the driver's t1 smoke: entry() on sf0.001 returns rows. */
class EntrySmokeSpec extends SparkSpec {

  test("entry returns >0 rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query name has either an oracle or is explicitly rows-only") {
    val qnames = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qnames))
  }
}
