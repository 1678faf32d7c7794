package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract: the correctness gate hash-compares every
  * registry entry against its DuckDB oracle, so an entry without one
  * would only be row-counted.
  */
class SparkEntrySpec extends AnyFunSuite {
  test("every registry entry carries oracle SQL: queries and oracleSql share one key set") {
    assert(SparkEntry.queries.nonEmpty)
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet,
      s"rows-only entries: ${(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet).toSeq.sorted.mkString(", ")}")
  }
}
