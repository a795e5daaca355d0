package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate registry without a Spark session: `Verify` value-checks a
  * gate only through its `oracleSql` entry, so a gate whose oracle key
  * drifts from its query key would silently fall back to a rows-only
  * check. */
class SparkEntrySpec extends AnyFunSuite {

  test("every gate has exactly one oracle: 130 query keys, the same 130 " +
      "oracle keys") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q -- o == Set.empty, "gates without an oracle")
    assert(o -- q == Set.empty, "oracles without a gate")
    assert(q.size == 130)
  }
}
