package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The bench's battery loop records a thrown query as a failure with its
  * reason, never as a (fast) time.
  */
class BenchBatterySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(10).toDF()

  test("a query that throws is recorded as a failure and left out of the times") {
    val boom: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("boom")
    val queries = Map("q_ok" -> ok, "q_boom" -> boom)

    val (times, failures) = Bench.timeQueries(spark, "unused", queries)
    assert(times.keySet == Set("q_ok"))
    assert(failures.keySet == Set("q_boom"))
    assert(failures("q_boom").contains("boom"))

    val b = Bench.runBattery(spark, "unused", queries, warmReps = 2)
    assert(b.mins.keySet == Set("q_ok"))
    assert(b.failures.keySet == Set("q_boom"))
    assert(b.coldTotal > 0.0)
  }

  test("a query that throws in one warm pass only is left out of every timing") {
    var calls = 0
    val flaky: (SparkSession, String) => DataFrame = { (s, _) =>
      calls += 1
      if (calls == 2) throw new IllegalStateException(s"flaky call $calls")
      s.range(5).toDF()
    }
    val b = Bench.runBattery(spark, "unused", Map("q_ok" -> ok, "q_flaky" -> flaky),
      warmReps = 2)
    assert(calls == 3)
    assert(b.mins.keySet == Set("q_ok"))
    assert(b.failures == Map("q_flaky" -> "java.lang.IllegalStateException: flaky call 2"))
  }
}
