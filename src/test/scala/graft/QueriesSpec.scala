package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke + shape checks for every gate query at sf0.001. Value-level
  * correctness is cross-checked against DuckDB by the driver (and
  * locally by tools/check.py).
  */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("every query has an oracle or documented exemption") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle == SparkEntry.rowsOnly,
      s"undocumented queries without oracleSql: ${noOracle -- SparkEntry.rowsOnly}")
    val noQuery = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(noQuery.isEmpty, s"oracleSql entries without a query: $noQuery")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs and returns rows") {
      val df = fn(spark, dir)
      assert(df.count() > 0)
      // no duplicate/auto-generated column names in the contract surface
      val cols = df.columns
      assert(cols.distinct.length == cols.length)
    }
  }
}
