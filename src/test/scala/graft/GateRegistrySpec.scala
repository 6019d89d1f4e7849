package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.gates.Gate

/** The gate list is the single declaration of every gate; `SparkEntry`'s
  * two maps are derived from it. A repeated name must be rejected (a map
  * literal would keep only the later gate), and reading a query must
  * never build its oracle text. */
class GateRegistrySpec extends AnyFunSuite {

  private def gate(name: String, oracle: => String): Gate =
    Gate(name)((s, _) => s.emptyDataFrame)(oracle)

  test("a duplicated gate name is rejected when the maps are derived") {
    val e = intercept[IllegalArgumentException] {
      Gate.byName(Seq(gate("a", "SELECT 1"), gate("b", "SELECT 2"),
        gate("a", "SELECT 3")))
    }
    assert(e.getMessage.contains("duplicate gate name(s): a"))
  }

  test("every gate is registered once, with its oracle") {
    assert(SparkEntry.queries.size == 330)
    assert(SparkEntry.oracleSql.size == 330)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("oracle text is built on first read, not when a gate is listed") {
    var built = 0
    val byName = Gate.byName(Seq(gate("a", { built += 1; "SELECT 1" })))
    assert(byName("a").query != null && built == 0)
    assert(byName("a").oracle == "SELECT 1" && byName("a").oracle == "SELECT 1")
    assert(built == 1)
  }
}
