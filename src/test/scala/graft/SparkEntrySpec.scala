package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate registry: both maps derive from one module list. */
class SparkEntrySpec extends AnyFunSuite {

  test("queries and oracleSql name the same 321 gates") {
    val names = SparkEntry.queries.keySet
    assert(names.size == 321)
    assert(SparkEntry.oracleSql.keySet == names)
  }
}
