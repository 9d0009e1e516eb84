package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The documents CATALOG table over the pipeline's own outputs — the
  * native analog of the reference's DocumentMetadata/DocumentInfo rows
  * (rafalpronko/pdf-parser `app/models/document.py`: file_size,
  * num_pages, num_chunks, created_at, tags) that back its
  * list-with-pagination endpoint (`document_service.py:486-521`, S11).
  *
  * One row per conversation (the pipeline's document unit):
  *  - `file_size`   = Σ bytes_parsed across the conv's turns
  *  - `num_pages`   = max(turn_idx) + 1 (turns are the page analog)
  *  - `num_chunks`  = rows in the chunks table for the conv
  *  - `created_at`  = min(ts) of the conv's turns (UTC, F16)
  *  - `tags`        = the sorted set of payload kinds seen (html/pdf/…)
  *
  * Built as two hash aggregations over the extracted/chunks tables plus
  * one join — partial-agg friendly at any corpus size; written once,
  * overwritten idempotently on re-run (S6 discipline).
  */
object Catalog {

  def catalogDir(outDir: String): String = s"$outDir/catalog"

  /** Aggregate the catalog from the pipeline outputs and write it. */
  def build(spark: SparkSession, outDir: String): Long = {
    val ex = spark.read.parquet(ExtractionPipeline.extractedDir(outDir))
    val chunkCounts = spark.read.parquet(ExtractionPipeline.chunksDir(outDir))
      .groupBy("conv_id").agg(count(lit(1)).as("num_chunks"))
    val cat = ex.groupBy("conv_id")
      .agg(
        count(lit(1)).as("num_turns"),
        sum("bytes_parsed").as("file_size"),
        (max("turn_idx") + 1).as("num_pages"),
        min("ts").as("created_at"),
        sort_array(collect_set("kind")).as("tags"))
      .join(chunkCounts, Seq("conv_id"), "left")
      .na.fill(0L, Seq("num_chunks"))
    cat.write.mode(SaveMode.Overwrite).parquet(catalogDir(outDir))
    spark.read.parquet(catalogDir(outDir)).count()
  }

  /** Hard page-size ceiling, the reference API's `limit <= 100`
    * (`tests/test_api_properties.py` P27: limit ∈ [1, 100]).
    */
  val MaxPageSize = 100

  /** S11: newest-first listing with skip/limit pagination
    * (`document_service.py:500-508`); deterministic tie-break on conv_id.
    * Invalid pagination is rejected eagerly with the reference's API
    * validation semantics (P27: negative skip / non-positive or
    * over-[[MaxPageSize]] limit → 400) instead of planning a bad query.
    */
  def list(spark: SparkSession, outDir: String, skip: Int, limit: Int): DataFrame = {
    require(skip >= 0, "skip must be non-negative")
    require(limit >= 1 && limit <= MaxPageSize,
      s"limit must be between 1 and $MaxPageSize")
    spark.read.parquet(catalogDir(outDir))
      .orderBy(desc("created_at"), col("conv_id"))
      .offset(skip).limit(limit)
  }

  /** S9: point lookup by document id. */
  def get(spark: SparkSession, outDir: String, convId: String): DataFrame =
    spark.read.parquet(catalogDir(outDir)).filter(col("conv_id") === convId)

  /** S10 companion: drop catalog rows for deleted documents (anti-join
    * rewrite, same shape as the chunk/index deletes).
    */
  def delete(spark: SparkSession, outDir: String, ids: DataFrame): Unit =
    TableIO.replace(spark.read.parquet(catalogDir(outDir))
      .join(broadcast(ids), Seq("conv_id"), "left_anti"), catalogDir(outDir))
}
