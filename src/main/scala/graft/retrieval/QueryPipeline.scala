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
  *       vectors; `graft_dot` against the query vector, an array literal
  *       the generated code references rather than inlines — one narrow
  *       scan, no shuffle on the big side)
  *     ∥ BM25 top-2k over the postings index table
  *     → weighted RRF (0.7/0.3, k = 60, `hybrid_search.py:198-202`)
  *     → broadcast join back to chunk content (J6/J3)
  *     → deterministic tie-break (score desc, chunk_id asc — SURVEY §7.3)
  *       and top-k cut.
  *
  * Per question, on an unchanged store: the BM25 corpus scalars (N,
  * avgdl, mean idf) come from [[Bm25IndexTables.snapshot]]'s memo, the
  * postings scan pushes `term IN (question terms)` down to the files,
  * the doclens table is not read, and the postings, embeddings, chunks
  * and vector-index tables are read with declared schemas (no
  * schema-inference job). The ≤ topK answer rows are taken from the
  * content join's tasks (no range-partition sampling job, no exchange).
  * The first question after an index write pays for the scalars'
  * aggregation. No question-dependent value — query vector, BM25
  * scalars — is compiled into generated code, so a warm question with
  * as many distinct terms as an earlier one compiles no class (the
  * `term IN (…)` filter is generated per list length).
  */
object QueryPipeline {

  val PerSourceFetch = 40 // 2 × retrieval_k per source (hybrid_search.py:67-68)

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
    val base =
      if (VectorIndex.exists(VectorIndex.indexRoot(outDir)))
        VectorIndex.probe(spark, VectorIndex.indexRoot(outDir), qv, nprobe)
      else if (IvfPqIndex.exists(IvfPqIndex.indexRoot(outDir)))
        IvfPqIndex.rerank(spark, IvfPqIndex.indexRoot(outDir), qv, embeddings(spark, outDir),
          nprobe = nprobe, fetch = PqFetch, topK = PerSourceFetch)
      else if (PqIndex.exists(PqIndex.indexRoot(outDir)))
        PqIndex.rerank(spark, PqIndex.indexRoot(outDir), qv, embeddings(spark, outDir),
          fetch = PqFetch, topK = PerSourceFetch)
      else
        embeddings(spark, outDir).select(col("chunk_id"),
          VectorIndex.dotColumn(qv, col("embedding")).as("score"))
    base.orderBy(desc("score"), col("chunk_id")).limit(PerSourceFetch)
  }

  /** [[vecSource]] for several query vectors in one plan, by the same
    * index preference and with the same scores: `qvs` are `(v, query
    * vector)`, `weights` their [[VectorIndex.weightsTable]]. Returns the
    * [[PerSourceFetch]] best `(v, chunk_id, score, rn)` of each `v`.
    */
  private def vecSourceMulti(spark: SparkSession, outDir: String,
      qvs: Seq[(Int, Array[Float])], weights: DataFrame, nprobe: Int): DataFrame = {
    def top(scored: DataFrame) = Retrieval.topPer(scored, "v", "chunk_id", "score", PerSourceFetch)
    if (VectorIndex.exists(VectorIndex.indexRoot(outDir)))
      top(VectorIndex.probeMulti(spark, VectorIndex.indexRoot(outDir), qvs, nprobe))
    else if (IvfPqIndex.exists(IvfPqIndex.indexRoot(outDir)))
      IvfPqIndex.rerankMulti(spark, IvfPqIndex.indexRoot(outDir), qvs, weights,
        embeddings(spark, outDir), nprobe = nprobe, fetch = PqFetch, topK = PerSourceFetch)
    else if (PqIndex.exists(PqIndex.indexRoot(outDir)))
      PqIndex.rerankMulti(spark, PqIndex.indexRoot(outDir), qvs, weights,
        embeddings(spark, outDir), fetch = PqFetch, topK = PerSourceFetch)
    else
      top(embeddings(spark, outDir).crossJoin(broadcast(weights))
        .select(col("v"), col("chunk_id"), VectorIndex.dotWeights.as("score")))
  }

  /** `(chunk_id, embedding)` of the store's embeddings table. */
  private def embeddings(spark: SparkSession, outDir: String): DataFrame =
    spark.read.schema(Ingestion.EmbeddingsReadSchema)
      .parquet(Ingestion.embeddingsDir(outDir))
      .select(Ingestion.chunkId, col("embedding"))

  /** The reference API's request-validation bounds
    * (`app/models/query.py:10` — `top_k` ∈ [1, 20], pinned by
    * `tests/test_api_properties.py` P27 "invalid query params return
    * 422"): rejected eagerly, before any plan is built.
    */
  val MaxTopK = 20

  private def validateTopK(topK: Int): Unit =
    require(topK >= 1 && topK <= MaxTopK,
      s"top_k must be in [1, $MaxTopK], got $topK")

  /** Attach content (J6) to the fused candidates (a small broadcast
    * side) and keep the `topK` best, in order: `orderBy` + `limit` plans
    * one top-k that a `collect` takes straight from the join's tasks, so
    * the answer needs no exchange of its own and no range-sampling job.
    */
  private def withContent(spark: SparkSession, outDir: String,
      fused: DataFrame, topK: Int): DataFrame =
    spark.read.schema(ExtractionPipeline.ChunksReadSchema)
      .parquet(ExtractionPipeline.chunksDir(outDir))
      .select(Ingestion.chunkId, col("conv_id"), col("turn_idx"),
        col("chunk_index"), col("content"))
      .join(broadcast(fused), "chunk_id")
      .orderBy(desc("rrf_score"), col("chunk_id"))
      .limit(topK)

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

    // weighted RRF fusion, then content + deterministic tie-break + cut
    val fused = Retrieval.rrfFuse(
      Seq(vecScores -> Retrieval.VectorWeight, kwScores -> Retrieval.KeywordWeight),
      "chunk_id", "score")
    withContent(spark, outDir, fused, topK)
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
    * Scale shape: ONE plan keyed by the variation number `v`, whose
    * shape does not depend on how many variations there are, and whose
    * generated code holds no question-dependent value — so a warm
    * expanded question compiles nothing. The variations' query vectors
    * are a broadcast `(v, qv)` table scored against the embeddings in one
    * scan ([[vecSourceMulti]]); BM25 for all variations is one pass over
    * the postings rows of their terms ([[Bm25IndexTables.scoreMulti]]).
    * Each per-variation top list is a `row_number` window partitioned by
    * `v` ([[Retrieval.topPer]], a partial `WindowGroupLimit` below the
    * exchange); the weighted RRF and the final RRF are one `groupBy`
    * each ([[Retrieval.rrfFuseRanked]]). The dedup feeds only the chunk
    * set to the rerank, so it is a semi join of the embeddings (their
    * second and last scan) against the broadcast ≤ V·RerankFetch
    * candidate ids, crossed with the `(v, qv)` table; those ≤ V²·
    * RerankFetch rows are ranked and fused in one partition. Nothing is
    * persisted.
    */
  def queryExpanded(spark: SparkSession, outDir: String, question: String,
      expansions: Seq[String] = Nil, topK: Int = FinalTopK,
      dim: Int = Ingestion.DefaultDim,
      nprobe: Int = VectorIndex.DefaultNprobe): DataFrame = {
    validateTopK(topK)
    val variations = (question +: expansions).distinct.zipWithIndex.map(_.swap)
    val qvs = variations.map { case (v, q) => v -> Ingestion.hashedEmbedding(q, dim) }
    val weights = VectorIndex.weightsTable(spark, qvs)

    // per-variation hybrid ranking: weighted RRF of each variation's
    // vector and keyword top lists, cut to RerankFetch
    val vec = vecSourceMulti(spark, outDir, qvs, weights, nprobe)
    val kw = Retrieval.topPer(
      Bm25IndexTables.scoreMulti(spark, Ingestion.indexDir(outDir), variations, "chunk_id")
        .filter(col("score") > 0), // bm25_index.py:200-204
      "v", "chunk_id", "score", PerSourceFetch)
    val perVariation = Retrieval.topPer(
      Retrieval.rrfFuseRanked(
        Seq(vec -> Retrieval.VectorWeight, kw -> Retrieval.KeywordWeight),
        Seq("v", "chunk_id")),
      "v", "chunk_id", "rrf_score", RerankFetch)

    // first-wins dedup across variations (U2 arrival order) keeps one
    // row per chunk, and only that chunk set reaches the rerank: a semi
    // join of the embeddings against the broadcast candidate ids, every
    // variation scored by the same dot as the first pass. Those are at
    // most V · V·RerankFetch rows, ranked and fused in one partition.
    val rankings = Retrieval.topPer(
      embeddings(spark, outDir)
        .join(broadcast(perVariation.select("chunk_id")), Seq("chunk_id"), "left_semi")
        .crossJoin(broadcast(weights))
        .select(col("v"), col("chunk_id"), VectorIndex.dotWeights.as("score"))
        .repartition(1),
      "v", "chunk_id", "score", FinalTopK)
    withContent(spark, outDir,
      Retrieval.rrfFuseRanked(Seq(rankings -> 1.0), Seq("chunk_id")), topK)
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
