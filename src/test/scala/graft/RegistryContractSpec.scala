package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registry contract, checked without a SparkSession: every registered
  * query has a DuckDB oracle, and every oracle names a registered query. */
class RegistryContractSpec extends AnyFunSuite {

  test("SparkEntry.queries and SparkEntry.oracleSql have the same keys") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q.nonEmpty)
    assert(q == o,
      s"queries without an oracle: ${(q diff o).toSeq.sorted.mkString(", ")}; " +
        s"oracles without a query: ${(o diff q).toSeq.sorted.mkString(", ")}")
  }
}
