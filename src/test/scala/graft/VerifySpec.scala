package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

/** Verify's per-query step: a query's output directory holds this run's
  * result or nothing, never an earlier run's. Its artifacts record the
  * oracle SQL and the knob values the outputs were computed under.
  */
class VerifySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def staleOutput(outDir: Path, name: String): Path = {
    val stale = outDir.resolve(name)
    Files.createDirectories(stale)
    Files.writeString(stale.resolve("part-00000.parquet"), "stale")
    stale
  }

  test("a query that throws while its plan is built leaves no earlier output behind") {
    val outDir = Files.createTempDirectory("verify-spec")
    val stale = staleOutput(outDir, "q_boom")
    val boom: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("no plan\nsecond line")
    val failure = Verify.runQuery(spark, "unused", outDir.toString, "q_boom", boom)
    assert(failure == Some("java.lang.IllegalStateException: no plan"))
    assert(!Files.exists(stale))
  }

  test("a query that runs replaces an earlier output with its own rows") {
    val outDir = Files.createTempDirectory("verify-spec")
    staleOutput(outDir, "q_ok")
    val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(3).toDF("n")
    assert(Verify.runQuery(spark, "unused", outDir.toString, "q_ok", ok).isEmpty)
    val back = spark.read.parquet(outDir.resolve("q_ok").toString)
    assert(back.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L))
  }

  test("knobs.json beside oracle_sql.json carries the effective cs_win and decimal38") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def written(wide: Boolean) = graft.queries.WideStats.withWide(wide) {
      val outDir = Files.createTempDirectory("verify-spec")
      Verify.writeArtifacts(outDir.toString)
      (mapper.readTree(Files.readString(outDir.resolve("knobs.json"))),
        mapper.readTree(Files.readString(outDir.resolve("oracle_sql.json"))))
    }
    for (wide <- Seq(true, false)) {
      val (knobs, oracles) = written(wide)
      assert(knobs.size == 2)
      assert(knobs.get("cs_win").isInt &&
        knobs.get("cs_win").asInt() == graft.queries.CurationQueries.CsWin)
      assert(knobs.get("decimal38").isBoolean && knobs.get("decimal38").asBoolean() == wide)
      assert(oracles.size == SparkEntry.oracleSql.size)
      SparkEntry.oracleSql.foreach { case (name, sql) =>
        assert(oracles.get(name).asText() == sql, name)
      }
    }
  }
}
