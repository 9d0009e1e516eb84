package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver's first gate: the flagship query over the sf0.001 tables
  * returns rows, at most its top-k of 10.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("SparkEntry.entry returns between 1 and 10 rows over sf0.001") {
    val rows = SparkEntry.entry(SparkTestSession.spark).collect()
    assert(rows.length >= 1 && rows.length <= 10, s"got ${rows.length} rows")
  }
}
