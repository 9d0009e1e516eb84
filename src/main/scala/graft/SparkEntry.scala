package graft

import graft.queries._
import graft.retrieval.Retrieval
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the per-operator battery (one entry per implemented
  * operator from SURVEY.md §2 plus the training-data ops); `oracleSql`
  * carries the DuckDB-equivalent SQL for everything SQL-expressible.
  * Non-SQL-expressible operators (chunker, extractors, LSH) are covered
  * by golden-parity ScalaTest suites instead and get rows-only checks
  * here.
  */
object SparkEntry {

  /** Flagship: hybrid retrieval (vector-standin ∪ BM25 → weighted RRF
    * funnel) over the sf0.001 documents table; driver smoke-checks
    * rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = entry(spark, "/root/testdata/sf0.001")

  /** [[entry]] over the documents table under `dir`. */
  def entry(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.t(spark, dir, "documents")
    // deterministic stand-in for the external embedding scorer
    // (SURVEY.md §7.3: external-model scores are pluggable columns)
    val vectorScores = docs.select(col("doc_id"),
      (pmod(xxhash64(col("text")), lit(10000)) / 10000.0).as("score"))
    Retrieval.hybridSearch(vectorScores, docs, "doc_id", "text",
      RetrievalQueries.KeywordQuery, topK = 10)
  }

  /** The driver-facing battery. Several queries persist plan-scoped
    * intermediates (or `localCheckpoint` per iteration); the harness
    * sweeps them after each query (`clearCache` +
    * [[graft.queries.PersistGuard.assertClean]]). A NON-harness caller
    * should consume each query inside
    * [[graft.queries.PersistGuard.scoped]], which releases exactly the
    * blocks that query created — the caller's own caches and
    * [[graft.queries.Shared]] checkpoints survive
    * (`PersistLeakGuardSpec` pins both properties).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++ RetrievalQueries.queries ++
      TrainingDataQueries.queries ++ CurationQueries.queries ++
      ScaleQueries.queries

  def oracleSql: Map[String, String] =
    RelationalQueries.oracles ++ RetrievalQueries.oracles ++
      TrainingDataQueries.oracles ++ CurationQueries.oracles ++
      ScaleQueries.oracles
}
