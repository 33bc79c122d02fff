package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract's inventory: 198 query keys, 190 of them
  * DuckDB-oracled. A duplicate key in a Scala `Map(...)` silently keeps
  * the last entry (a re-added key once shadowed another query), so the
  * two source maps must add up to the whole inventory. */
class InventorySpec extends AnyFunSuite {
  test("198 query keys, none shadowed across the parity and extension maps") {
    assert(SparkEntry.queries.size === 198)
    assert(ParityQueries.all.size + ExtensionQueries.all.size === 198)
  }

  test("190 oracled keys, every one a query key") {
    assert(SparkEntry.oracleSql.size === 190)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("checkKeys passes known keys and names every unknown one") {
    assert(SparkEntry.checkKeys(Seq("q_hilbert")) === Seq("q_hilbert"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.checkKeys(Seq("q_hilbert", "q_nope", "q_hilbret")))
    assert(e.getMessage.contains("q_nope, q_hilbret"))
  }
}
