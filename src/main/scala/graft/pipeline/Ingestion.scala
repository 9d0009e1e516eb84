package graft.pipeline

import graft.model.ChunkEmbedding
import graft.retrieval.{Bm25IndexTables, VectorFamily}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
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
  *    whole in-memory index per add, `bm25_index.py:140-141`; ours is one
  *    narrow tokenize-and-count pass per table, no shuffle).
  *
  * Both stages are idempotent re-runs over committed chunk buckets
  * (overwrite / atomic index replace), so a resume after a crash between
  * extraction and ingestion just runs them again. New chunks enter a
  * built store through one path, [[append]], shared by [[add]] and
  * [[graft.streaming.StreamingIngestion]]'s micro-batches.
  */
object Ingestion {

  val DefaultDim = 64

  def embeddingsDir(outDir: String): String = s"$outDir/embeddings"
  def indexDir(outDir: String): String = s"$outDir/index"

  /** The `chunk_id` every index table and query keys chunks by:
    * `conv_id:turn_idx:chunk_index`.
    */
  def chunkId: Column =
    concat_ws(":", col("conv_id"), col("turn_idx"), col("chunk_index")).as("chunk_id")

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

  /** EMBEDDING stage: chunks table → embeddings table (one narrow pass,
    * no shuffle; bucket-partitioned like the source). Returns the rows
    * written, counted by the write's own tasks (no read-back scan).
    */
  def embedChunks(spark: SparkSession, outDir: String, dim: Int = DefaultDim): Long = {
    import spark.implicits._
    // a result-stage accumulator: Spark applies each partition's update
    // once, however often its task is retried
    val written = spark.sparkContext.longAccumulator("embedded chunks")
    spark.read.schema(ExtractionPipeline.ChunksReadSchema.add("bucket", IntegerType))
      .parquet(ExtractionPipeline.chunksDir(outDir))
      .select(col("conv_id"), col("turn_idx"), col("chunk_index"),
        col("content"), col("bucket"))
      .as[(String, Int, Int, String, Int)]
      .mapPartitions(_.map { case (cid, tidx, cidx, content, bucket) =>
        written.add(1L)
        ChunkEmbedding(cid, tidx, cidx, "text", hashedEmbedding(content, dim), bucket)
      })
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(embeddingsDir(outDir))
    written.value
  }

  /** STORING stage (keyword side): chunks table → BM25 postings/doclens
    * index tables with atomic replace.
    */
  def buildIndex(spark: SparkSession, outDir: String): Unit = {
    val chunks = spark.read.schema(ExtractionPipeline.ChunksReadSchema)
      .parquet(ExtractionPipeline.chunksDir(outDir))
      .select(chunkId, col("content"))
    Bm25IndexTables.build(chunks, "chunk_id", "content", indexDir(outDir))
  }

  /** Full post-extraction ingestion: embed + index. */
  def run(spark: SparkSession, outDir: String, dim: Int = DefaultDim): Long = {
    val n = embedChunks(spark, outDir, dim)
    buildIndex(spark, outDir)
    n
  }

  /** `(chunk_id, embedding)` of the store's embeddings table. */
  private def vectors(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(embeddingsDir(outDir)).select(chunkId, col("embedding"))

  /** Optional ANN acceleration: build the IVF vector index
    * ([[graft.retrieval.VectorIndex]]) over the store's embeddings table.
    * [[graft.retrieval.QueryPipeline.query]] auto-detects it and swaps
    * its vector source from a full-table brute-force scan to a
    * partition-pruned cell probe. Returns nlist.
    */
  def buildVectorIndex(spark: SparkSession, outDir: String,
      nlist: Option[Int] = None): Int = {
    graft.retrieval.VectorIndex.build(
      vectors(spark, outDir), graft.retrieval.VectorIndex.indexRoot(outDir), nlist)
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
    graft.retrieval.PqIndex.build(
      vectors(spark, outDir), graft.retrieval.PqIndex.indexRoot(outDir), m, ks)
  }

  /** Optional combined acceleration: build the IVF-PQ index
    * ([[graft.retrieval.IvfPqIndex]]) — partition-pruned cells AND
    * byte-compressed codes. Returns `(nlist, ks)`.
    */
  def buildIvfPqIndex(spark: SparkSession, outDir: String,
      nlist: Option[Int] = None,
      m: Int = graft.retrieval.PqIndex.DefaultM,
      ks: Int = graft.retrieval.PqIndex.DefaultKs): (Int, Int) = {
    graft.retrieval.IvfPqIndex.build(
      vectors(spark, outDir), graft.retrieval.IvfPqIndex.indexRoot(outDir), nlist, m, ks)
  }

  /** Incremental document add — the reference's per-upload lifecycle
    * (`document_service.py:173-355` processes ONE new document at a time:
    * embed its chunks, `vector_store.add`, `bm25_index.add_documents`)
    * as a batch of NEW conversations extracted+chunked into their own
    * pipeline output at `stagingDir` (same `nBuckets` and chunking mode as
    * the store, so bucket values and chunk columns line up): their chunks
    * are embedded and [[append]]ed to the store's chunks, embeddings, BM25
    * and vector index tables — no rebuild, no rewrite of existing rows.
    * So the next [[graft.retrieval.QueryPipeline.query]] finds them with
    * their content (read-your-writes). Returns the number of chunks added.
    *
    * The appended chunk rows land in bucket directories the store's
    * extraction manifest already lists, but belong to no manifest
    * snapshot. Time travel over `chunks` ([[ExtractionPipeline.tableAt]],
    * [[ExtractionPipeline.tableChanges]]) selects by bucket, so it
    * returns them at every snapshot that lists their bucket, including
    * snapshots older than the add — just as the `embeddings` table, which
    * has no snapshots, shows every added row.
    *
    * Caller guarantees the conv ids are new (the reference's upload mints
    * fresh ids); re-ingesting an EXISTING id is [[run]]'s overwrite path
    * or [[delete]]-then-add ([[delete]] drops the id's chunks rows too,
    * so each re-added chunk is stored once). Equivalence property
    * (`IngestionAddSpec`):
    * a store built from corpus A then add-ed corpus B has the same
    * chunks, embeddings and index contents as one batch build over A ∪ B.
    */
  def add(spark: SparkSession, outDir: String, stagingDir: String,
      dim: Int = DefaultDim): Long = {
    val embed = udf((content: String) => hashedEmbedding(content, dim))
    val rows = spark.read.parquet(ExtractionPipeline.chunksDir(stagingDir))
      .withColumn("embedding", embed(col("content")))
      .persist()
    try append(rows, outDir, Seq("bucket")) finally rows.unpersist()
  }

  /** The one path that appends a batch of new chunks to a store, shared
    * by [[add]] and [[graft.streaming.StreamingIngestion.processBatch]]:
    * `rows` are chunks-table rows plus their `embedding`, carrying the
    * store's partition columns `partitions` (`bucket` for a batch-built
    * store, `ingest_batch, bucket` for a streamed one). Appends the
    * chunks and embeddings tables, extends the BM25 index
    * ([[Bm25IndexTables.build]] when the store has none yet) and every
    * vector index family the store carries. Every write reads `rows`, so
    * callers persist it. Returns the number of rows.
    */
  private[graft] def append(rows: DataFrame, storeDir: String, partitions: Seq[String]): Long = {
    rows.drop("embedding")
      .write.mode(SaveMode.Append).partitionBy(partitions: _*)
      .parquet(ExtractionPipeline.chunksDir(storeDir))
    rows.select(Seq(col("conv_id"), col("turn_idx"), col("chunk_index"),
        lit("text").as("modality"), col("embedding")) ++ partitions.map(col): _*)
      .write.mode(SaveMode.Append).partitionBy(partitions: _*)
      .parquet(embeddingsDir(storeDir))
    val docs = rows.select(chunkId, col("content"))
    if (VersionedDir.exists(indexDir(storeDir)))
      Bm25IndexTables.add(docs, "chunk_id", "content", indexDir(storeDir))
    else Bm25IndexTables.build(docs, "chunk_id", "content", indexDir(storeDir))
    VectorFamily.present(storeDir).foreach { case (family, root) =>
      family.add(rows.select(chunkId, col("embedding")), root)
    }
    rows.count()
  }

  /** Cascade delete of whole documents (conversations) from the store —
    * the reference's `vector_store.delete_document` +
    * `bm25_index.delete_documents` pair (`vector_store.py:154-191`,
    * `document_service.py:420-484`): chunks and embeddings rows are
    * dropped by an anti-join rewrite ([[TableIO.replace]]) that keeps each table's partition columns
    * (`bucket`, and `ingest_batch` on a streamed store), and the index
    * families' rows by [[deleteChunks]]. So a later [[add]] of the same
    * ids, or [[run]], sees no trace of them. Deleting an unknown id is a
    * no-op; rows of every other document are byte-identical afterwards
    * (reference property P29, deletion isolation).
    */
  def delete(spark: SparkSession, outDir: String, convIds: Seq[String]): Unit = {
    import spark.implicits._
    val ids = broadcast(convIds.toDF("conv_id"))
    Seq(ExtractionPipeline.chunksDir(outDir), embeddingsDir(outDir)).foreach { dir =>
      val rows = spark.read.parquet(dir)
      TableIO.replace(rows.join(ids, Seq("conv_id"), "left_anti"), dir,
        Seq("ingest_batch", "bucket").filter(rows.columns.contains): _*)
    }

    // chunk ids are conv_id:turn_idx:chunk_index — derive the doomed set
    // from the index's own doclens table (no chunks-table scan needed)
    deleteChunks(spark, outDir, spark.read
      .parquet(Bm25IndexTables.doclensDir(indexDir(outDir)))
      .filter(split(col("chunk_id"), ":").getItem(0).isin(convIds: _*))
      .select("chunk_id"))
  }

  /** Drop the `chunk_id`s in `chunkIds` from the store's BM25 index (if
    * built) and from every vector index family it carries, each by its
    * versioned anti-join rewrite.
    */
  private[graft] def deleteChunks(spark: SparkSession, storeDir: String,
      chunkIds: DataFrame): Unit = {
    if (VersionedDir.exists(indexDir(storeDir)))
      Bm25IndexTables.delete(spark, chunkIds, "chunk_id", indexDir(storeDir))
    VectorFamily.present(storeDir).foreach { case (family, root) =>
      family.delete(spark, chunkIds, "chunk_id", root)
    }
  }
}
