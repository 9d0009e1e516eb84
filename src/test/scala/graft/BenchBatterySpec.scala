package graft

import graft.JsonCodec.Fixed
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.immutable.SortedMap
import scala.jdk.CollectionConverters._

/** The bench's battery loop records a thrown query as a failure with its
  * reason, never as a (fast) time. bench.json keeps its keys, their
  * order and each number's decimals.
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

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def battery = Bench.Report(value = Fixed(0.0, 1),
    queries = Map("q_a" -> Fixed(0.12345, 3)), sf = "/data/sf0.001",
    battery_cal_before_gops = Fixed(1.234, 2), battery_cal_after_gops = Fixed(2.0, 2),
    query_warm_reps = 2, queries_total_sec = Fixed(0.12345, 2),
    query_failures = SortedMap("q_b" -> "java.lang.IllegalStateException: a\tb"),
    knobs = Bench.knobs, queries_cold_total_sec = Fixed(3.0, 2))

  private def keys(json: String): Seq[String] =
    mapper.readTree(json).fieldNames().asScala.toSeq

  test("bench.json's knobs field carries the effective cs_win and decimal38") {
    def knobs: com.fasterxml.jackson.databind.JsonNode =
      mapper.readTree(JsonCodec.write(battery)).get("knobs")
    val csWin = graft.queries.CurationQueries.CsWin
    if (!sys.env.contains("SPARK_GRAFT_CS_WIN")) assert(csWin == 240)
    assert(knobs.size == 2)
    assert(knobs.get("cs_win").isInt && knobs.get("cs_win").asInt() == csWin)
    graft.queries.WideStats.withWide(true) {
      assert(knobs.get("decimal38").isBoolean && knobs.get("decimal38").asBoolean())
    }
    graft.queries.WideStats.withWide(false) {
      assert(knobs.get("decimal38").isBoolean && !knobs.get("decimal38").asBoolean())
    }
  }

  /** A full-job ClusterProbe line as the probe prints it. */
  private def probeLine(mode: String, run: Int, tps: Double): String =
    JsonCodec.write(ClusterProbe.Run(mode, run, 1, 2, 240000L, 240000L / tps, tps))

  test("the cluster block reads ClusterProbe's full-run lines, not the log around them") {
    val low = Seq("26/10/20 12:00:00 WARN Utils: {not json", probeLine("full", 1, 1500.4),
      probeLine("compute", 1, 9e9), """{"tps":1}""", probeLine("full", 2, 1600.6),
      probeLine("full", 3, 1400.0).dropRight(1))
    val high = Seq(probeLine("full", 1, 5000.0), probeLine("full", 2, 6100.2))
    assert(Bench.fullRunTps(low) == Seq(1500.4, 1600.6))
    val pair = Bench.clusterPair(1, 4, 2, 240000L, 2, Bench.fullRunTps(low),
      Bench.fullRunTps(high))
    assert(JsonCodec.write(pair) == """{"workers_low":1,"workers_high":4,""" +
      """"cores_per_worker":2,"convs":240000,"runs_per_leg":2,""" +
      """"tps_low_runs":[1500,1601],"tps_high_runs":[5000,6100],""" +
      """"tps_low":1601,"tps_high":6100,"scaling_efficiency":0.953}""")
  }

  test("bench.json keeps its key order, with runs_per_leg beside the N->4N headline") {
    assert(keys(JsonCodec.write(battery.copy(partial = Some(true)))) == Seq(
      "metric", "value", "unit", "partial", "queries", "sf", "battery_cal_before_gops",
      "battery_cal_after_gops", "query_warm_reps", "queries_total_sec", "query_failures",
      "knobs", "queries_cold_total_sec"))
    val pair = Bench.clusterPair(1, 4, 2, 1000L, 3, Seq(10.0), Seq(36.0))
    val done = JsonCodec.write(battery.copy(cluster = Some(Bench.ClusterSkipped()))
      .withLinear(Some(pair)))
    assert(keys(done) == Seq("metric", "value", "unit",
      "scaling_efficiency_n_to_4n_executors", "scaling_n_to_4n_runs_per_leg",
      "scaling_n_to_4n_tps_low_runs", "scaling_n_to_4n_tps_high_runs", "scaling_note",
      "queries", "sf", "cluster", "cluster_linear", "battery_cal_before_gops",
      "battery_cal_after_gops", "query_warm_reps", "queries_total_sec", "query_failures",
      "knobs", "queries_cold_total_sec"))
    val tree = mapper.readTree(done)
    assert(tree.get("scaling_n_to_4n_runs_per_leg").asInt() == 3)
    assert(tree.get("cluster_linear").get("runs_per_leg").asInt() == 3)
    assert(tree.get("cluster").toString == """{"skipped":true}""")
    assert(JsonCodec.write(Bench.ClusterError("boom")) == """{"error":"boom"}""")
    assert(done.startsWith("""{"metric":"turns_per_sec_extraction","value":0.0,""" +
      """"unit":"turns/sec","scaling_efficiency_n_to_4n_executors":0.900,"""))
    assert(done.contains(""""queries":{"q_a":0.123},"sf":"/data/sf0.001","""))
    assert(done.contains(""""battery_cal_before_gops":1.23,"battery_cal_after_gops":2.00,"""))
    assert(done.contains(""""query_failures":{"q_b":"java.lang.IllegalStateException: a\tb"}"""))
  }
}
