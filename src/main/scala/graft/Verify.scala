package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query-name filter]
    val (sfDir, outDir) = (args(0), args(1))
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).toSet else Set.empty
    // SPARK_GRAFT_NO_AQE=1: re-run the whole battery with adaptive
    // execution off — results must be byte-identical (any diff means a
    // query depends on runtime plan shape, i.e. hidden nondeterminism)
    val spark = Bench.localSession("graft-verify", Bench.configuredCpus,
      "spark.sql.adaptive.enabled" -> (!sys.env.contains("SPARK_GRAFT_NO_AQE")).toString)
    new java.io.File(outDir).mkdirs()
    // Share expensive deterministic intermediates (lshPairDists,
    // probeScores) across the battery's independent consumers — RDD-block
    // materializations that survive the per-query clearCache below.
    // Values are unchanged by construction (SharedIntermediatesSpec).
    if (!sys.env.contains("SPARK_GRAFT_NO_SHARE")) graft.queries.Shared.enable()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries persist() intermediates scoped to their own plan; drop
      // them once materialized so a long battery doesn't accumulate blocks
      spark.catalog.clearCache()
      // machine-check the persist-hygiene contract (Shared's scaladoc):
      // sweep query-scoped checkpoint blocks, fail the gate on any block
      // that would leak for a non-harness caller
      graft.queries.PersistGuard.assertClean(spark, s"query $name")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
