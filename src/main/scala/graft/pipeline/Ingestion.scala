package graft.pipeline

import graft.model.ChunkEmbedding
import graft.retrieval.Bm25IndexTables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, StringType, StructType}

/** Post-extraction ingestion stages completing the reference's upload
  * lifecycle (`app/services/document_service.py:173-355`: UPLOADED →
  * PARSING → CHUNKING → **EMBEDDING → STORING**) over the tables the
  * extraction pipeline wrote:
  *
  *  - EMBEDDING (`document_service.py:357-394`, batched in the reference
  *    at 100 texts/call): a narrow mapPartitions over the chunks table
  *    producing an L2-normalized hashed-feature embedding per chunk —
  *    the deterministic stand-in for the external model (SURVEY.md §7.3);
  *    swapping in real vectors changes one function, not the plan;
  *  - STORING (`vector_store.py:70-152` + BM25 `add_documents`): the
  *    embeddings table (vector sink analog, bucket-partitioned like the
  *    other tables) and the BM25 postings/doclens index tables
  *    ([[graft.retrieval.Bm25IndexTables]] — the reference rebuilds its
  *    whole in-memory index per add, `bm25_index.py:140-141`; ours is a
  *    corpus-wide hash aggregation).
  *
  * Both stages are idempotent re-runs over committed chunk buckets
  * (overwrite / atomic index replace), so a resume after a crash between
  * extraction and ingestion just runs them again.
  */
object Ingestion {

  val DefaultDim = 64

  def embeddingsDir(outDir: String): String = s"$outDir/embeddings"
  def indexDir(outDir: String): String = s"$outDir/index"

  /** The embeddings-table columns a vector scorer reads, typed as
    * [[embedChunks]] and [[add]] write them. A declared read schema spares
    * the per-read schema-inference job.
    */
  val EmbeddingsReadSchema: StructType = new StructType()
    .add("conv_id", StringType).add("turn_idx", IntegerType)
    .add("chunk_index", IntegerType)
    .add("embedding", ArrayType(FloatType))

  /** Deterministic hashed-feature embedding: each lowercase whitespace
    * token adds ±1 (hash-chosen sign) at a hash-chosen dimension;
    * L2-normalized. Pure function — identical on executor and in tests.
    */
  def hashedEmbedding(text: String, dim: Int = DefaultDim): Array[Float] = {
    val v = new Array[Float](dim)
    var i = 0
    val n = text.length
    while (i < n) {
      while (i < n && Character.isWhitespace(text.charAt(i))) i += 1
      val start = i
      while (i < n && !Character.isWhitespace(text.charAt(i))) i += 1
      if (i > start) {
        val tok = text.substring(start, i).toLowerCase
        val h = scala.util.hashing.MurmurHash3.stringHash(tok, 0x9747b28c)
        val d = math.floorMod(h, dim)
        v(d) += (if (((h >> 16) & 1) == 0) 1f else -1f)
      }
    }
    var norm = 0.0
    var j = 0
    while (j < dim) { norm += v(j).toDouble * v(j); j += 1 }
    if (norm > 0) {
      val inv = (1.0 / math.sqrt(norm)).toFloat
      j = 0
      while (j < dim) { v(j) *= inv; j += 1 }
    }
    v
  }

  /** Embeddings dataset over a pipeline output's chunks table (one narrow
    * pass, no shuffle; bucket carried through from the source).
    */
  private def embeddedChunks(
      spark: SparkSession, pipelineOut: String, dim: Int) = {
    import spark.implicits._
    spark.read.parquet(ExtractionPipeline.chunksDir(pipelineOut))
      .select(col("conv_id"), col("turn_idx"), col("chunk_index"),
        col("content"), col("bucket").cast("int").as("bucket"))
      .as[(String, Int, Int, String, Int)]
      .mapPartitions(_.map { case (cid, tidx, cidx, content, bucket) =>
        ChunkEmbedding(cid, tidx, cidx, "text", hashedEmbedding(content, dim), bucket)
      })
  }

  /** EMBEDDING stage: chunks table → embeddings table (one narrow pass,
    * no shuffle; bucket-partitioned like the source).
    */
  def embedChunks(spark: SparkSession, outDir: String, dim: Int = DefaultDim): Long = {
    embeddedChunks(spark, outDir, dim).write.mode("overwrite").partitionBy("bucket")
      .parquet(embeddingsDir(outDir))
    spark.read.parquet(embeddingsDir(outDir)).count()
  }

  /** STORING stage (keyword side): chunks table → BM25 postings/doclens
    * index tables with atomic replace.
    */
  def buildIndex(spark: SparkSession, outDir: String): Unit = {
    val chunks = spark.read.parquet(ExtractionPipeline.chunksDir(outDir))
      .select(
        concat_ws(":", col("conv_id"), col("turn_idx"), col("chunk_index"))
          .as("chunk_id"),
        col("content"))
    Bm25IndexTables.build(chunks, "chunk_id", "content", indexDir(outDir))
  }

  /** Full post-extraction ingestion: embed + index. */
  def run(spark: SparkSession, outDir: String, dim: Int = DefaultDim): Long = {
    val n = embedChunks(spark, outDir, dim)
    buildIndex(spark, outDir)
    n
  }

  /** Optional ANN acceleration: build the IVF vector index
    * ([[graft.retrieval.VectorIndex]]) over the store's embeddings table.
    * [[graft.retrieval.QueryPipeline.query]] auto-detects it and swaps
    * its vector source from a full-table brute-force scan to a
    * partition-pruned cell probe. Returns nlist.
    */
  def buildVectorIndex(spark: SparkSession, outDir: String,
      nlist: Option[Int] = None): Int = {
    val emb = spark.read.parquet(embeddingsDir(outDir))
      .select(
        concat_ws(":", col("conv_id"), col("turn_idx"), col("chunk_index"))
          .as("chunk_id"),
        col("embedding"))
    graft.retrieval.VectorIndex.build(
      emb, graft.retrieval.VectorIndex.indexRoot(outDir), nlist)
  }

  /** Optional ANN storage compression: build the product-quantization
    * index ([[graft.retrieval.PqIndex]]) over the store's embeddings
    * table — m bytes per vector instead of dim floats.
    * [[graft.retrieval.QueryPipeline.query]] auto-detects it (when no
    * IVF index is present) and swaps its vector source to an ADC scan +
    * exact rerank. Returns codewords per subspace.
    */
  def buildPqIndex(spark: SparkSession, outDir: String,
      m: Int = graft.retrieval.PqIndex.DefaultM,
      ks: Int = graft.retrieval.PqIndex.DefaultKs): Int = {
    val emb = spark.read.parquet(embeddingsDir(outDir))
      .select(
        concat_ws(":", col("conv_id"), col("turn_idx"), col("chunk_index"))
          .as("chunk_id"),
        col("embedding"))
    graft.retrieval.PqIndex.build(
      emb, graft.retrieval.PqIndex.indexRoot(outDir), m, ks)
  }

  /** Optional combined acceleration: build the IVF-PQ index
    * ([[graft.retrieval.IvfPqIndex]]) — partition-pruned cells AND
    * byte-compressed codes. Returns `(nlist, ks)`.
    */
  def buildIvfPqIndex(spark: SparkSession, outDir: String,
      nlist: Option[Int] = None,
      m: Int = graft.retrieval.PqIndex.DefaultM,
      ks: Int = graft.retrieval.PqIndex.DefaultKs): (Int, Int) = {
    val emb = spark.read.parquet(embeddingsDir(outDir))
      .select(
        concat_ws(":", col("conv_id"), col("turn_idx"), col("chunk_index"))
          .as("chunk_id"),
        col("embedding"))
    graft.retrieval.IvfPqIndex.build(
      emb, graft.retrieval.IvfPqIndex.indexRoot(outDir), nlist, m, ks)
  }

  /** Incremental document add — the reference's per-upload lifecycle
    * (`document_service.py:173-355` processes ONE new document at a time:
    * embed its chunks, `vector_store.add`, `bm25_index.add_documents`)
    * as a batch of NEW conversations extracted+chunked into their own
    * pipeline output at `stagingDir` (same `nBuckets` as the store so
    * bucket values line up): their embeddings rows are APPENDED to the
    * store's table and their postings/doclens extended with
    * [[Bm25IndexTables.add]] — no rebuild, no rewrite of existing rows.
    *
    * Caller guarantees the conv ids are new (the reference's upload mints
    * fresh ids); re-ingesting an EXISTING id is [[run]]'s overwrite path
    * or [[delete]]-then-add. Equivalence property (`IngestionAddSpec`):
    * a store built from corpus A then add-ed corpus B has the same
    * embeddings and index CONTENTS as one batch build over A ∪ B.
    */
  def add(spark: SparkSession, outDir: String, stagingDir: String,
      dim: Int = DefaultDim): Long = {
    // persisted: the parquet append plus up to three index adds each
    // consume this frame — without the cache every consumer re-reads the
    // staging parquet and recomputes the hashed embeddings from scratch
    val embedded = embeddedChunks(spark, stagingDir, dim).persist()
    try {
      embedded.write.mode("append").partitionBy("bucket")
        .parquet(embeddingsDir(outDir))
      val newChunks = spark.read.parquet(ExtractionPipeline.chunksDir(stagingDir))
        .select(
          concat_ws(":", col("conv_id"), col("turn_idx"), col("chunk_index"))
            .as("chunk_id"),
          col("content"))
      Bm25IndexTables.add(newChunks, "chunk_id", "content", indexDir(outDir))
      // extend whichever vector index families the store carries (frozen
      // centroids/codebooks, append — the standard incremental add)
      val embWithId = embedded.toDF()
        .select(concat_ws(":", col("conv_id"), col("turn_idx"),
          col("chunk_index")).as("chunk_id"), col("embedding"))
      val vecRoot = graft.retrieval.VectorIndex.indexRoot(outDir)
      if (graft.retrieval.VectorIndex.exists(vecRoot))
        graft.retrieval.VectorIndex.add(embWithId, vecRoot)
      val pqRoot = graft.retrieval.PqIndex.indexRoot(outDir)
      if (graft.retrieval.PqIndex.exists(pqRoot))
        graft.retrieval.PqIndex.add(embWithId, pqRoot)
      val ivfPqRoot = graft.retrieval.IvfPqIndex.indexRoot(outDir)
      if (graft.retrieval.IvfPqIndex.exists(ivfPqRoot))
        graft.retrieval.IvfPqIndex.add(embWithId, ivfPqRoot)
      newChunks.count()
    } finally embedded.unpersist()
  }

  /** Cascade delete of whole documents (conversations) from the STORING
    * tables — the reference's `vector_store.delete_document` +
    * `bm25_index.delete_documents` pair (`vector_store.py:154-191`,
    * `document_service.py:420-484`): embeddings rows are dropped by an
    * anti-join rewrite (same discipline as [[Catalog.delete]]), and the
    * BM25 postings/doclens tables by [[Bm25IndexTables.delete]]'s
    * versioned atomic swap. Deleting an unknown id is a no-op; rows of
    * every other document are byte-identical afterwards (reference
    * property P29, deletion isolation).
    */
  def delete(spark: SparkSession, outDir: String, convIds: Seq[String]): Unit = {
    import spark.implicits._
    val ids = convIds.toDF("conv_id")
    val kept = spark.read.parquet(embeddingsDir(outDir))
      .join(broadcast(ids), Seq("conv_id"), "left_anti")
    val tmp = s"${embeddingsDir(outDir)}.rewrite"
    kept.write.mode("overwrite").partitionBy("bucket").parquet(tmp)
    val src = java.nio.file.Paths.get(tmp)
    val dst = java.nio.file.Paths.get(embeddingsDir(outDir))
    TableIO.deleteTree(dst)
    java.nio.file.Files.move(src, dst)

    // chunk ids are conv_id:turn_idx:chunk_index — derive the doomed set
    // from the index's own doclens table (no chunks-table scan needed)
    val doomed = spark.read
      .parquet(Bm25IndexTables.doclensDir(indexDir(outDir)))
      .filter(split(col("chunk_id"), ":").getItem(0).isin(convIds: _*))
      .select("chunk_id")
    Bm25IndexTables.delete(spark, doomed, "chunk_id", indexDir(outDir))
    val vecRoot = graft.retrieval.VectorIndex.indexRoot(outDir)
    if (graft.retrieval.VectorIndex.exists(vecRoot))
      graft.retrieval.VectorIndex.delete(spark, doomed, "chunk_id", vecRoot)
    val pqRoot = graft.retrieval.PqIndex.indexRoot(outDir)
    if (graft.retrieval.PqIndex.exists(pqRoot))
      graft.retrieval.PqIndex.delete(spark, doomed, "chunk_id", pqRoot)
    val ivfPqRoot = graft.retrieval.IvfPqIndex.indexRoot(outDir)
    if (graft.retrieval.IvfPqIndex.exists(ivfPqRoot))
      graft.retrieval.IvfPqIndex.delete(spark, doomed, "chunk_id", ivfPqRoot)
  }
}
