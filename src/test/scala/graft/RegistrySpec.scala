package graft

import org.scalatest.funsuite.AnyFunSuite

class RegistrySpec extends AnyFunSuite {
  test("every registered query has an oracle and every oracle a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q == o, s"no oracle: ${(q -- o).toSeq.sorted}; " +
      s"no query: ${(o -- q).toSeq.sorted}")
  }
}
