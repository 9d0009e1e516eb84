package graft.retrieval

import graft.pipeline.{ExtractionPipeline, Ingestion}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's query lifecycle (`app/services/query_service.py:
  * 149-358`, SURVEY.md §3.2) executed against the tables OUR ingestion
  * pipeline wrote — embed the question with the same pluggable embedder,
  * score both retrieval sources, fuse, dedup, and attach content:
  *
  *   question → embed (hashed-feature stand-in, same fn as ingestion)
  *     → vector top-2k over the `embeddings` table (cosine = dot on unit
  *       vectors; the query vector is a broadcast literal — one narrow
  *       scan, no shuffle on the big side)
  *     ∥ BM25 top-2k over the postings index table
  *     → weighted RRF (0.7/0.3, k = 60, `hybrid_search.py:198-202`)
  *     → deterministic tie-break (score desc, chunk_id asc — SURVEY §7.3)
  *     → top-k cut → broadcast join back to chunk content (J6/J3).
  *
  * Per question, on an unchanged store: the BM25 corpus scalars (N,
  * avgdl, mean idf) come from [[Bm25IndexTables.snapshot]]'s memo, the
  * postings scan pushes `term IN (question terms)` down to the files,
  * the doclens table is not read, and the postings, embeddings and chunks
  * tables are read with declared schemas (no schema-inference job). The
  * ≤ topK answer rows are ordered in one partition (no range-partition
  * sampling job). The first question after an index write pays for the
  * scalars' aggregation.
  */
object QueryPipeline {

  val PerSourceFetch = 40 // 2 × retrieval_k per source (hybrid_search.py:67-68)

  /** chunk_id used across the ingested tables. */
  private def chunkId = concat_ws(":",
    col("conv_id"), col("turn_idx"), col("chunk_index"))

  /** ADC candidates fetched before the exact rerank on the PQ path —
    * generous (4× the per-source cut) because PQ codes tie within tight
    * clusters (see [[PqIndex]]).
    */
  val PqFetch = 4 * PerSourceFetch

  /** The vector retrieval source for one query vector, by index
    * preference: an IVF probe (partition-pruned cells, exact scores)
    * when the store carries one; else an IVF-PQ probe + exact rerank
    * (partition-pruned AND byte-compressed); else a PQ ADC scan + exact
    * rerank; else the exact brute-force dot scan. Every path emits
    * scores from the same dotColumn fold, so ranks are comparable —
    * only the candidate set differs. One definition for both [[query]]
    * and [[queryExpanded]], so the paths cannot drift.
    */
  private def vecSource(spark: SparkSession, outDir: String,
      qv: Array[Float], nprobe: Int): DataFrame = {
    val emb = () => spark.read.schema(Ingestion.EmbeddingsReadSchema)
      .parquet(Ingestion.embeddingsDir(outDir))
      .select(chunkId.as("chunk_id"), col("embedding"))
    val base =
      if (VectorIndex.exists(VectorIndex.indexRoot(outDir)))
        VectorIndex.probe(spark, VectorIndex.indexRoot(outDir), qv, nprobe)
      else if (IvfPqIndex.exists(IvfPqIndex.indexRoot(outDir)))
        IvfPqIndex.rerank(spark, IvfPqIndex.indexRoot(outDir), qv, emb(),
          nprobe = nprobe, fetch = PqFetch, topK = PerSourceFetch)
      else if (PqIndex.exists(PqIndex.indexRoot(outDir)))
        PqIndex.rerank(spark, PqIndex.indexRoot(outDir), qv, emb(),
          fetch = PqFetch, topK = PerSourceFetch)
      else
        emb().select(col("chunk_id"),
          VectorIndex.dotColumn(qv, col("embedding")).as("score"))
    base.orderBy(desc("score"), col("chunk_id")).limit(PerSourceFetch)
  }

  /** The reference API's request-validation bounds
    * (`app/models/query.py:10` — `top_k` ∈ [1, 20], pinned by
    * `tests/test_api_properties.py` P27 "invalid query params return
    * 422"): rejected eagerly, before any plan is built.
    */
  val MaxTopK = 20

  private def validateTopK(topK: Int): Unit =
    require(topK >= 1 && topK <= MaxTopK,
      s"top_k must be in [1, $MaxTopK], got $topK")

  /** Attach content (J6) to the fused ≤ topK answer rows (broadcast side)
    * and order them in one partition: an `orderBy` would plan a range
    * exchange, whose bounds cost a sampling job. `coalesce(1)` is not an
    * option — it would run the chunks scan as one task.
    */
  private def withContent(spark: SparkSession, outDir: String,
      fused: DataFrame): DataFrame =
    spark.read.schema(ExtractionPipeline.ChunksReadSchema)
      .parquet(ExtractionPipeline.chunksDir(outDir))
      .select(chunkId.as("chunk_id"), col("conv_id"), col("turn_idx"),
        col("chunk_index"), col("content"))
      .join(broadcast(fused), "chunk_id")
      .repartition(1)
      .sortWithinPartitions(desc("rrf_score"), col("chunk_id"))

  def query(spark: SparkSession, outDir: String, question: String,
      topK: Int = 10, dim: Int = Ingestion.DefaultDim,
      nprobe: Int = VectorIndex.DefaultNprobe): DataFrame = {
    validateTopK(topK)
    val qv = Ingestion.hashedEmbedding(question, dim)

    // vector source: IVF probe when indexed (partition-pruned — the
    // 100 TB plan), exact brute-force scan otherwise ([[vecSource]])
    val vecScores = vecSource(spark, outDir, qv, nprobe)

    // keyword source: BM25 over the index tables
    val kwScores = Bm25IndexTables
      .score(spark, Ingestion.indexDir(outDir), question, "chunk_id")
      .filter(col("score") > 0) // bm25_index.py:200-204
      .orderBy(desc("score"), col("chunk_id"))
      .limit(PerSourceFetch)

    // weighted RRF fusion + deterministic tie-break + cut
    val fused = Retrieval.rrfFuse(
        Seq(vecScores -> Retrieval.VectorWeight, kwScores -> Retrieval.KeywordWeight),
        "chunk_id", "score")
      .orderBy(desc("rrf_score"), col("chunk_id"))
      .limit(topK)

    withContent(spark, outDir, fused)
  }

  val RerankFetch = 20 // rerank_k * 2 per variation (query_service.py:259)
  val FinalTopK = 10 // final_top_k (config.py:142-147)

  /** The reference's FULL multi-variation lifecycle (`query_service.py:
    * 149-358`, steps 1-7) against the ingested store: expansion
    * variations (caller-supplied — the LLM expander is a pluggable
    * external; tests pass fixed strings exactly like the reference's
    * mocked suite) → per-variation hybrid search → first-wins dedup
    * across variations in (variation, rank) arrival order → per-
    * variation rerank over the deduped candidate pool (deterministic
    * cross-encoder stand-in: query-embedding dot against the STORED
    * chunk vectors) → unweighted RRF re-fusion → top-k → content join.
    *
    * Scale shape: BM25 for ALL variations comes from one pass over the
    * postings rows of their terms ([[Bm25IndexTables.scoreMulti]] — one
    * scoring plan, not one per variation); the vector side is
    * per-variation [[vecSource]] calls (IVF probe, PQ scan+rerank, or
    * brute scan by index presence);
    * the rerank joins the big embeddings table once against the
    * broadcast ≤3·RerankFetch candidate pool.
    */
  def queryExpanded(spark: SparkSession, outDir: String, question: String,
      expansions: Seq[String] = Nil, topK: Int = FinalTopK,
      dim: Int = Ingestion.DefaultDim,
      nprobe: Int = VectorIndex.DefaultNprobe): DataFrame = {
    validateTopK(topK)
    val variations = (question +: expansions).distinct

    // keyword scores for every variation from ONE postings pass
    val kwAll = Bm25IndexTables.scoreMulti(spark, Ingestion.indexDir(outDir),
      variations.zipWithIndex.map(_.swap), "chunk_id")

    // per-variation hybrid ranking, tagged with arrival rank
    val perVariation = variations.zipWithIndex.map { case (q, v) =>
      val qv = Ingestion.hashedEmbedding(q, dim)
      val vec = vecSource(spark, outDir, qv, nprobe)
      val kw = kwAll.filter(col("v") === v).select("chunk_id", "score")
        .filter(col("score") > 0)
        .orderBy(desc("score"), col("chunk_id")).limit(PerSourceFetch)
      Retrieval.rrfFuse(
          Seq(vec -> Retrieval.VectorWeight, kw -> Retrieval.KeywordWeight),
          "chunk_id", "score")
        .orderBy(desc("rrf_score"), col("chunk_id")).limit(RerankFetch)
        .select(col("chunk_id"), lit(v).as("v"),
          (row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(lit(1))
            .orderBy(desc("rrf_score"), col("chunk_id")))).as("vrank"))
    }

    // first-wins dedup across variations (U2 arrival order), then ONE
    // scan of the embeddings table against the broadcast candidate pool
    val deduped = Retrieval.firstWinsDedup(
      perVariation.reduce(_ unionByName _), "chunk_id",
      col("v").asc, col("vrank").asc)
    val candVecs = spark.read.schema(Ingestion.EmbeddingsReadSchema)
      .parquet(Ingestion.embeddingsDir(outDir))
      .select(chunkId.as("chunk_id"), col("embedding"))
      .join(broadcast(deduped.select("chunk_id")), "chunk_id")
      .persist()

    try {
      val rankings = variations.map { q =>
        val qv = Ingestion.hashedEmbedding(q, dim)
        candVecs.select(col("chunk_id"),
          VectorIndex.dotColumn(qv, col("embedding")).as("score"))
          .orderBy(desc("score"), col("chunk_id")).limit(FinalTopK)
      }
      val fused = Retrieval.rrfFuse(rankings.map(_ -> 1.0), "chunk_id", "score")
        .orderBy(desc("rrf_score"), col("chunk_id")).limit(topK)
      // materialize before unpersisting the candidate pool the plan reads
      withContent(spark, outDir, fused).localCheckpoint(true)
    } finally candVecs.unpersist()
  }

  /** Step 5 of the lifecycle — `_build_context_string`
    * (`query_service.py:439-462`, pinned by
    * `tests/test_query_service_properties.py` Property 18): format the
    * retrieved chunks into the LLM prompt context, one
    * `[Source i] (Page p, Relevance: s.ss)\ncontent` block per hit in
    * fused order, blank-line-joined. Input is [[query]]/[[queryExpanded]]
    * output — ≤ topK rows by construction, so the unpartitioned rank
    * window is bounded (the [[Retrieval.withRank]] contract).
    */
  def contextString(results: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("rrf_score"), col("chunk_id"))
    results
      .withColumn("rn", row_number().over(w))
      .withColumn("line", format_string("[Source %d] (Page %d, Relevance: %.2f)\n%s",
        col("rn"), col("turn_idx"), col("rrf_score"), col("content")))
      .agg(expr("array_join(transform(array_sort(collect_list(struct(rn, line)))," +
        " x -> x.line), '\n\n')").as("context"))
  }

  /** Step 6 — `_build_source_references` (`query_service.py:464-507`)
    * with the P19 `include_sources` toggle: citations for every hit, or
    * an empty frame with the same schema when the caller opted out
    * (`query_service.py:328-330`). `filename` uses the reference's
    * documented fallback to the document id (`query_service.py:482` —
    * transcripts carry no upload filename; conv_id IS the identifier),
    * `modality` its `"text"` default (`query_service.py:500`).
    */
  def sources(results: DataFrame, includeSources: Boolean = true): DataFrame = {
    val refs = results.select(
      col("conv_id").as("doc_id"),
      col("conv_id").as("filename"),
      col("turn_idx").as("page"),
      col("content").as("chunk_content"),
      lit("text").as("modality"),
      col("rrf_score").as("relevance_score"))
    if (includeSources) refs.orderBy(desc("relevance_score"), col("doc_id"))
    else refs.limit(0)
  }
}
