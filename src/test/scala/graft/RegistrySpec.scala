package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Pins the registry contract: every `SparkEntry.queries` entry carries a
 * DuckDB oracle twin in `SparkEntry.oracleSql` (and vice versa), so the
 * correctness dump `Verify` writes can always be checked query by query.
 */
class RegistrySpec extends AnyFunSuite {
  test("queries and oracleSql cover the same key set") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracleSql keys without a query: ${(o -- q).toSeq.sorted.mkString(", ")}")
    assert((q -- o).isEmpty, s"queries without an oracle: ${(q -- o).toSeq.sorted.mkString(", ")}")
  }

  test("query names are stable identifiers (lower_snake, nonempty)") {
    val bad = SparkEntry.queries.keySet.filterNot(_.matches("[a-z0-9_]+"))
    assert(bad.isEmpty, s"non-snake-case query names: ${bad.toSeq.sorted.mkString(", ")}")
  }
}
