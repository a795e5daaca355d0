package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Gate

/** The gate registry without a Spark session: `Verify` value-checks a
  * gate through its `oracleSql` entry, so every query key needs its
  * oracle key, and a name declared twice must fail the registry rather
  * than silently replace one gate with the other. */
class SparkEntrySpec extends AnyFunSuite {

  test("every gate has exactly one oracle: 130 query keys, the same 130 " +
      "oracle keys") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q -- o == Set.empty, "gates without an oracle")
    assert(o -- q == Set.empty, "oracles without a gate")
    assert(q.size == 130)
  }

  test("the registry constructor rejects a gate name declared twice") {
    val run: (SparkSession, String) => DataFrame = (_, _) => null
    val e = intercept[IllegalArgumentException](Gate.registry(Seq(
      Gate("p01_a", "SELECT 1")(run), Gate("p02_b", "SELECT 2")(run),
      Gate("p01_a", "SELECT 3")(run))))
    assert(e.getMessage.contains("p01_a") && !e.getMessage.contains("p02_b"))
    assert(Gate.registry(Seq(Gate("p01_a", "SELECT 1")(run),
      Gate("p02_b", "SELECT 2")(run))).keySet == Set("p01_a", "p02_b"))
  }
}
