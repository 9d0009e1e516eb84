package graft.streaming

import graft.model.Turn
import graft.pipeline.{ExtractionPipeline, Ingestion, TableIO}
import graft.pipeline.TableIO.deleteTree
import graft.retrieval.{Bm25IndexTables, VectorFamily}
import graft.text.Chunker
import org.apache.spark.sql.{Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Continuous END-TO-END ingestion: a stream of raw turns → extract →
  * chunk → embed → vector + BM25 store, incrementally per micro-batch —
  * the streaming composition of [[StreamingExtraction]] (stateless
  * extract) and the store append [[graft.pipeline.Ingestion.add]] also
  * uses ([[graft.pipeline.Ingestion.append]]: the reference's upload
  * lifecycle `document_service.py:173-355` UPLOADED → PARSING → CHUNKING
  * → EMBEDDING → STORING).
  *
  * The store it maintains is QUERY-COMPATIBLE with a batch-built one:
  * `chunks/`, `embeddings/`, `index/` and any vector index under
  * `storeDir`, so [[graft.retrieval.QueryPipeline.query]] runs unchanged
  * against it. The only layout difference is an extra leading partition
  * column `ingest_batch` on chunks/embeddings — the unit of crash
  * scrubbing. A store is either streamed or batch-built: `Ingestion.add`
  * appends `bucket`-only partitions, which a streamed table cannot mix.
  *
  * == Exactly-once protocol ==
  *
  * Structured Streaming's `foreachBatch` is at-least-once: after a crash
  * the SAME batch (same `batchId`, same rows) is replayed. Appends into a
  * shared table are not naturally idempotent, so each batch commits with
  * a two-phase marker protocol under `storeDir/_ingest/`:
  *
  *  1. replay with a `<id>.commit` marker present → no-op (done before);
  *  2. replay with an `<id>.intent` marker but no commit → a crash
  *     happened mid-append: SCRUB the partial state — drop the batch's
  *     `ingest_batch=<id>` partitions (chunks + embeddings) and
  *     anti-join the batch's chunk ids out of the BM25 tables and every
  *     vector index ([[graft.pipeline.Ingestion.deleteChunks]], versioned
  *     swaps, each crash-safe) — then re-ingest from scratch;
  *  3. fresh batch: write intent, append chunks/embeddings/postings/
  *     doclens/vector indexes, then atomically move the intent to commit.
  *
  * Scale notes: extraction/chunking/embedding are one narrow
  * `mapPartitions` pass over the micro-batch (no shuffle), and so is each
  * BM25 index table's write (per-chunk term counts): sized by the BATCH,
  * not the store. Nothing is collected per batch: a scrub's doomed chunk
  * ids stay a DataFrame, broadcast into the index rewrites. Store growth is
  * append-only; postings never rewrite on add, so ingesting N batches is
  * O(their own data), not O(corpus) per batch (the reference rebuilds
  * its whole in-memory index per add, `bm25_index.py:140-141`).
  */
object StreamingIngestion {

  def chunksDir(storeDir: String): String = ExtractionPipeline.chunksDir(storeDir)
  def embeddingsDir(storeDir: String): String = Ingestion.embeddingsDir(storeDir)
  def indexDir(storeDir: String): String = Ingestion.indexDir(storeDir)
  private def markerDir(storeDir: String) = Paths.get(storeDir, "_ingest")
  private def intentMarker(storeDir: String, id: Long) =
    markerDir(storeDir).resolve(s"$id.intent")
  private def commitMarker(storeDir: String, id: Long) =
    markerDir(storeDir).resolve(s"$id.commit")

  /** Batches recorded as fully ingested (for tests/ops introspection). */
  def committedBatches(storeDir: String): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    val d = markerDir(storeDir)
    if (!Files.isDirectory(d)) Nil
    else scala.util.Using.resource(Files.list(d))(_.iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.endsWith(".commit"))
      .flatMap(_.stripSuffix(".commit").toLongOption)
      .toVector.sorted)
  }

  /** One embedded chunk row of a micro-batch (content kept alongside the
    * vector so every table of the append shares one computation).
    * Not `private`: Spark's generated (de)serializer code must reach it.
    */
  final case class BatchChunk(
      conv_id: String, turn_idx: Int, chunk_index: Int, content: String,
      start: Int, end: Int, embedding: Array[Float], bucket: Int)

  /** Crash-safe marker write ([[TableIO.writeAtomically]]), so a reader
    * (or [[recover]]) never parses a torn/truncated marker as a valid one.
    */
  private def writeMarker(p: java.nio.file.Path, content: String): Unit =
    TableIO.writeAtomically(p, content.getBytes(StandardCharsets.UTF_8))

  /** Delete batch `id`'s partitions of the chunks and embeddings tables. */
  private def dropBatch(storeDir: String, id: Long): Unit =
    Seq(chunksDir(storeDir), embeddingsDir(storeDir))
      .foreach(dir => deleteTree(Paths.get(dir, s"ingest_batch=$id")))

  /** Remove every trace of a half-ingested batch: the batch's partition
    * directories and ITS EXACT chunk ids in the index families. Keyed by
    * the replayed batch's own chunk ids (recomputed deterministically) —
    * NOT by conv_id: a conversation may span batches, and a prefix-keyed
    * scrub would delete earlier committed batches' rows of the same
    * conversation. Safe when some — or none — of the appends happened
    * (`Bm25IndexTables.delete` anti-joins BOTH tables, so a
    * doclens-appended/postings-missing crash still scrubs clean).
    */
  private def scrub(spark: SparkSession, storeDir: String, batchId: Long,
      chunkIds: org.apache.spark.sql.DataFrame): Unit = {
    dropBatch(storeDir, batchId)
    Ingestion.deleteChunks(spark, storeDir, chunkIds)
  }

  /** Ingest one micro-batch under the two-phase marker protocol, through
    * the store append [[graft.pipeline.Ingestion.add]] also uses.
    * Idempotent under replay with the same (batchId, rows). Returns the
    * number of chunks ingested (0 for an already-committed replay).
    */
  def processBatch(batch: Dataset[Turn], storeDir: String, batchId: Long,
      nBuckets: Int = 64,
      chunkSize: Int = Chunker.DefaultChunkSize,
      overlap: Int = Chunker.DefaultOverlap,
      dim: Int = Ingestion.DefaultDim): Long = {
    val spark = batch.sparkSession
    import spark.implicits._

    if (Files.exists(commitMarker(storeDir, batchId))) return 0L

    // extract → chunk → embed in ONE narrow pass over the batch
    val derived = StreamingExtraction.extracted(batch, nBuckets)
      .filter(col("skip_reason") === "")
      .as[graft.model.ExtractedTurn]
      .mapPartitions(_.flatMap { e =>
        Chunker.splitTextWithOverlap(e.text, chunkSize, overlap).zipWithIndex
          .map { case (c, i) =>
            BatchChunk(e.conv_id, e.turn_idx, i, c.content, c.start, c.end,
              Ingestion.hashedEmbedding(c.content, dim), e.bucket)
          }
      })
      .withColumn("ingest_batch", lit(batchId))
      .persist(StorageLevel.MEMORY_AND_DISK) // consumed by the writes below
    try {
      // crash replay: the recomputed chunk ids ARE the scrub keys — the
      // replayed batch carries the same rows, so this names exactly what
      // the crashed attempt could have appended (computed only on the
      // rare replay path; a fresh batch pays no extra job)
      if (Files.exists(intentMarker(storeDir, batchId)))
        scrub(spark, storeDir, batchId, derived.select(Ingestion.chunkId))

      writeMarker(intentMarker(storeDir, batchId), "")
      val n = Ingestion.append(derived, storeDir, Seq("ingest_batch", "bucket"))
      // atomic intent → commit flip seals the batch
      Files.move(intentMarker(storeDir, batchId), commitMarker(storeDir, batchId),
        StandardCopyOption.ATOMIC_MOVE)
      n
    } finally derived.unpersist()
  }

  private def compactIntent(storeDir: String) =
    markerDir(storeDir).resolve("compact.intent")

  /** Repair a compaction that crashed mid-flight. Before the generation's
    * commit marker exists, the fold generation's partition dirs are the
    * only new state — delete them (roll BACK to pre-compaction). After
    * the commit marker exists, the fold is authoritative and the marker
    * lists the folded ids — finish deleting their dirs/markers (roll
    * FORWARD). Both are idempotent. Called by [[compact]] and [[start]].
    */
  def recover(storeDir: String): Unit = {
    val intent = compactIntent(storeDir)
    if (Files.exists(intent)) {
      val lines = new String(Files.readAllBytes(intent), StandardCharsets.UTF_8)
        .linesIterator.toVector
      lines.headOption.flatMap(_.toLongOption).foreach { gen =>
        if (Files.exists(commitMarker(storeDir, gen))) rollForward(storeDir, gen)
        else dropBatch(storeDir, gen)
      }
      Files.delete(intent)
    }
    // a committed fold whose source batches were not fully cleaned up
    committedBatches(storeDir).filter(_ < 0).foreach(rollForward(storeDir, _))
  }

  /** Finish a committed fold: drop the folded batches' dirs and markers
    * (listed inside the generation's commit marker). Idempotent.
    */
  private def rollForward(storeDir: String, gen: Long): Unit = {
    new String(Files.readAllBytes(commitMarker(storeDir, gen)), StandardCharsets.UTF_8)
      .linesIterator.flatMap(_.toLongOption).foreach { id =>
        dropBatch(storeDir, id)
        Files.deleteIfExists(commitMarker(storeDir, id))
      }
  }

  /** Fold every committed batch's `ingest_batch` partitions into ONE
    * compacted generation and rewrite the index tables at bounded file
    * counts — the maintenance op that keeps a long-running store's
    * file/partition count flat instead of growing by a few files per
    * micro-batch (at 100 TB the per-file open/listing overhead of
    * thousands of tiny batches would dominate scan time).
    *
    * Generations use NEGATIVE ids (−1, −2, …) so they can never collide
    * with the stream's monotonically increasing batch ids; a compacted
    * generation is itself just a committed batch and folds into the next
    * compaction. Run it while the store is QUIESCED — stream paused
    * (between `AvailableNow` drains) and no concurrent queries: between
    * the fold move and the folded-partition cleanup a reader would see
    * folded rows twice (the partitioned tables have no version pointer;
    * upgrading them to the index families' [[graft.pipeline.VersionedDir]]
    * discipline is the known path to concurrent-reader compaction).
    * Crash-safety: the fold is written under a `compact.intent` marker
    * (atomic writes — a torn marker can never parse as valid) and
    * committed by swapping the folded batches' commit markers for the
    * generation's — a crash before the commit marker is undone by
    * [[recover]], after it rolled forward; the index rewrites are
    * version-pointer atomic on their own.
    */
  def compact(spark: SparkSession, storeDir: String): Unit = {
    recover(storeDir)
    val folded = committedBatches(storeDir)
    if (folded.size < 2) return
    val gen = math.min(folded.min, 0L) - 1L

    writeMarker(compactIntent(storeDir),
      gen.toString + "\n" + folded.mkString("\n"))

    // rewrite both partitioned tables' committed batches into the fold
    // generation (reads prune to exactly the folded batch partitions);
    // one task per bucket → one file per bucket
    Seq(chunksDir(storeDir), embeddingsDir(storeDir)).foreach { dir =>
      val stage = s"$dir.compactstage"
      deleteTree(Paths.get(stage))
      spark.read.parquet(dir)
        .filter(col("ingest_batch").isin(folded.map(java.lang.Long.valueOf): _*))
        .drop("ingest_batch")
        .repartition(col("bucket"))
        .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(stage)
      // drop Spark's _SUCCESS so the moved tree holds only bucket dirs
      Files.deleteIfExists(Paths.get(stage, "_SUCCESS"))
      Files.move(Paths.get(stage), Paths.get(dir, s"ingest_batch=$gen"))
    }

    // commit: swap the folded commit markers for the generation's, then
    // drop the folded partitions and the intent
    writeMarker(commitMarker(storeDir, gen), folded.mkString("\n"))
    rollForward(storeDir, gen)
    Files.delete(compactIntent(storeDir))

    // index families compact independently (atomic version swaps)
    Bm25IndexTables.compact(spark, indexDir(storeDir))
    VectorFamily.present(storeDir).foreach { case (family, root) => family.compact(spark, root) }
  }

  /** Wire a landing directory of turn parquet files into a continuously
    * ingested store. `AvailableNow` drains what exists and stops (swap
    * the trigger for `ProcessingTime` in an always-on deployment); the
    * checkpoint + marker protocol make restarts exactly-once.
    */
  def start(spark: SparkSession, landingDir: String, storeDir: String,
      checkpointDir: String, nBuckets: Int = 64,
      chunkSize: Int = Chunker.DefaultChunkSize,
      overlap: Int = Chunker.DefaultOverlap,
      dim: Int = Ingestion.DefaultDim,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    import spark.implicits._
    recover(storeDir) // repair any crashed compaction before serving
    val reader = spark.readStream.schema(Encoders.product[Turn].schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(landingDir).as[Turn]
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: Dataset[Turn], id: Long) =>
        processBatch(b, storeDir, id, nBuckets, chunkSize, overlap, dim)
        ()
      }
      .start()
  }
}
