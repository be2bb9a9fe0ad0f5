package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry (`SparkEntry`): every query name is defined once and has exactly
  * one oracle. */
class RegistrySpec extends AnyFunSuite {

  test("every query has an oracle and every oracle a query (360 = 360)") {
    assert(SparkEntry.queries.size == 360)
    assert(SparkEntry.oracleSql.size == 360)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("a name two modules both define fails the join, naming the key") {
    val e = intercept[IllegalStateException](
      SparkEntry.joined(Seq(Map("a" -> 1, "b" -> 2), Map("c" -> 3), Map("b" -> 4)), "query"))
    assert(e.getMessage == "duplicate query name: b")
    assert(SparkEntry.joined(Seq(Map("a" -> 1), Map("b" -> 2)), "query") == Map("a" -> 1, "b" -> 2))
  }
}
