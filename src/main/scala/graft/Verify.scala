package graft
import graft.pipeline.TableIO
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.Paths
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the DuckDB compare and knobs.json. */
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
    val failures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, fn) =>
        val failure = runQuery(spark, sfDir, outDir, name, fn)
        // queries persist() intermediates scoped to their own plan; drop
        // them once materialized so a long battery doesn't accumulate blocks
        spark.catalog.clearCache()
        // machine-check the persist-hygiene contract (Shared's scaladoc):
        // sweep query-scoped checkpoint blocks, fail the gate on any block
        // that would leak for a non-harness caller
        graft.queries.PersistGuard.assertClean(spark, s"query $name")
        failure.map(name -> _)
      }
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} failed: " +
        failures.map { case (name, reason) => s"$name → $reason" }.mkString("; "))
    writeArtifacts(outDir)
    spark.stop()
  }

  /** The dump's two JSON files beside the query outputs: `oracle_sql.json`,
    * each battery query's DuckDB SQL, and `knobs.json`, the effective knob
    * values the outputs were computed under ([[Bench.knobs]], the same
    * object bench.json carries as `"knobs"`).
    */
  def writeArtifacts(outDir: String): Unit = {
    JsonCodec.writeFile(Paths.get(outDir, "oracle_sql.json"), SparkEntry.oracleSql)
    JsonCodec.writeFile(Paths.get(outDir, "knobs.json"), Bench.knobs)
  }

  /** Write one query's result to `$outDir/$name` as parquet, after
    * deleting whatever an earlier run left there: a query that throws,
    * even while its plan is built, leaves no output for the oracle check
    * to compare. Returns the failure's one-line reason, if any.
    */
  def runQuery(spark: SparkSession, sfDir: String, outDir: String, name: String,
      fn: (SparkSession, String) => DataFrame): Option[String] = {
    TableIO.deleteTree(Paths.get(outDir, name))
    try {
      fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      None
    } catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      Some(e.toString.linesIterator.nextOption().getOrElse("").take(200))
    }
  }
}
