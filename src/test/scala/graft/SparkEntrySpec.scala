package graft

import org.scalatest.funsuite.AnyFunSuite

/** The by-name views of the query registry the mains read. */
class SparkEntrySpec extends AnyFunSuite {

  test("select restricts the registry to a name list and names every " +
    "unknown query instead of running a smaller set") {
    assert(SparkEntry.select(None).keySet == SparkEntry.queries.keySet)
    assert(SparkEntry.select(Some("q1_agg, dedup_exact")).keySet ==
      Set("q1_agg", "dedup_exact"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some("q1_agg,jdbc_migrate,no_such_query")))
    assert(e.getMessage == "unknown queries: jdbc_migrate, no_such_query")
  }
}
