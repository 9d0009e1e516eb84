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

  test("bench.json's knobs field carries the effective cs_win and decimal38") {
    def knobs: com.fasterxml.jackson.databind.JsonNode =
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree("{" + Bench.knobsJson + "}").get("knobs")
    val csWin = graft.queries.CurationQueries.CsWin
    if (!sys.env.contains("SPARK_GRAFT_CS_WIN")) assert(csWin == 240)
    assert(knobs.get("cs_win").isInt && knobs.get("cs_win").asInt() == csWin)
    graft.queries.WideStats.withWide(true) {
      assert(knobs.get("decimal38").isBoolean && knobs.get("decimal38").asBoolean())
    }
    graft.queries.WideStats.withWide(false) {
      assert(knobs.get("decimal38").isBoolean && !knobs.get("decimal38").asBoolean())
    }
  }
}
