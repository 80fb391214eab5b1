package graft

import org.scalatest.funsuite.AnyFunSuite

class RegistrySpec extends AnyFunSuite {
  test("every registered query has an oracle and every oracle a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q == o, s"no oracle: ${(q -- o).toSeq.sorted}; " +
      s"no query: ${(o -- q).toSeq.sorted}")
  }

  test("registration names are distinct") {
    // the maps are built with toMap, which silently keeps only the last
    // of two registrations with the same name
    val names = SparkEntry.registry.map(_.name)
    val dups = names.groupBy(identity).collect {
      case (n, ns) if ns.size > 1 => n
    }
    assert(dups.isEmpty, s"registered more than once: ${dups.toSeq.sorted}")
  }
}
