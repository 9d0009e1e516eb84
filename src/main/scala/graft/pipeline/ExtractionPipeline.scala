package graft.pipeline

import graft.extract.Extractor
import graft.model._
import graft.text.Chunker
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}
import org.apache.spark.util.CollectionAccumulator

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The north-rule job: `Dataset[Turn]` → salted hash partitioning on
  * conv_id (explicit skew handling for mega-conversations) → stable
  * `(conv_id, turn_idx)` ordering within partitions → `mapPartitions`
  * batched extraction (HTML boilerplate strip | PDF content-stream parse |
  * passthrough) → extracted text + span offsets + chunks written back
  * bucket-partitioned ("Iceberg-emulated", see [[TableIO]]) with
  * per-partition lineage rows and metrics, resumable from the manifest
  * checkpoint without reprocessing completed buckets.
  *
  * Scale design (for the 10^12-turn target, tested at local[32]):
  *  - the only wide shuffle is the one salted `repartition` — extraction,
  *    chunking and writes are narrow from there on;
  *  - skew pre-pass finds mega-conversations (reference analog: none —
  *    the reference is single-process; this is the Spark-native part) and
  *    spreads them over `ceil(count / SaltTargetRows)` salt cells, so no
  *    single task owns a whole mega-conversation;
  *  - buckets are committed in `waves` groups; a crash mid-wave loses only
  *    that wave's work — restart deletes orphan bucket dirs the manifest
  *    never committed and appends them fresh (Iceberg-style snapshot
  *    discipline; no partition-overwrite staging, whose commit serializes
  *    on the driver);
  *  - extraction runs in `mapPartitions` with per-partition wall-clock
  *    lineage accumulated executor-side (CollectionAccumulator) — no
  *    `collect()` of data rows anywhere.
  */
object ExtractionPipeline {

  /** Above this many turns a conversation is treated as skewed and salted
    * across multiple cells of ~this size.
    */
  val SaltTargetRows = 128

  /** Which of the reference's chunking algorithms the pipeline runs:
    *  - [[ChunkFlat]]: F4 sentence-packing with exact source spans
    *    (`chunker.py:223-270`);
    *  - [[ChunkStructured]]: F6 heading-delimited sections, the
    *    reference's ingestion default (`chunker.py:106-221`);
    *  - [[ChunkCharSlice]]: F7 char-slice with sentence back-off, the
    *    reference's MULTIMODAL pipeline chunker
    *    (`multimodal_chunker.py:57-143`).
    */
  sealed trait ChunkMode
  case object ChunkFlat extends ChunkMode
  case object ChunkStructured extends ChunkMode
  case object ChunkCharSlice extends ChunkMode

  /** Job configuration. Invalid settings fail HERE, at construction —
    * the reference's fail-at-startup contract (`app/config.py:238-246`
    * validators, pinned by `tests/test_config_properties.py` Property
    * 23): a bad chunk geometry must never reach a 1000-executor job
    * that would chunk 100 TB wrongly (or, for `overlap >= chunkSize`,
    * never terminate) before anyone notices.
    */
  final case class Config(
      outDir: String,
      nBuckets: Int = 64,
      waves: Int = 4,
      chunkSize: Int = Chunker.DefaultChunkSize,
      overlap: Int = Chunker.DefaultOverlap,
      resume: Boolean = true,
      mode: ChunkMode = ChunkFlat,
      maxPayloadChars: Int = Extractor.DefaultMaxPayloadChars) {
    require(outDir.nonEmpty, "outDir must be non-empty")
    require(nBuckets >= 1, s"nBuckets must be positive, got $nBuckets")
    require(waves >= 1, s"waves must be positive, got $waves")
    require(chunkSize >= 1, s"chunk_size must be positive, got $chunkSize")
    require(overlap >= 0, s"chunk_overlap must be non-negative, got $overlap")
    require(overlap < chunkSize,
      s"chunk_overlap must be less than chunk_size, got overlap=$overlap size=$chunkSize")
    require(maxPayloadChars >= 1,
      s"maxPayloadChars must be positive, got $maxPayloadChars")
  }

  final case class RunStats(
      buckets: Int, skippedBuckets: Int, turns: Long, bytes: Long, wallMs: Long)

  def extractedDir(outDir: String): String = s"$outDir/extracted"
  def chunksDir(outDir: String): String = s"$outDir/chunks"
  def lineageDir(outDir: String): String = s"$outDir/lineage"
  def metricsDir(outDir: String): String = s"$outDir/metrics"

  /** The chunks-table columns a reader of content reads, typed as [[run]]
    * writes them in every chunking mode. A declared read schema spares the
    * per-read schema-inference job.
    */
  val ChunksReadSchema: StructType = new StructType()
    .add("conv_id", StringType).add("turn_idx", IntegerType)
    .add("chunk_index", IntegerType).add("content", StringType)

  /** Time-travel read of an output table as of manifest snapshot `id`:
    * [[run]] writes each bucket once and commits append-only, so
    * filtering the bucket-partitioned parquet to the snapshot's committed
    * bucket set reproduces what [[run]] had written by then — and the
    * filter is a partition-pruned scan (only those buckets' files open).
    * Two later writes to `chunks` are not snapshotted: rows that
    * [[Ingestion.add]] appends show up at every snapshot listing their
    * bucket, and rows that [[Ingestion.delete]] drops are gone from
    * every snapshot. Current snapshot ids: [[TableIO.snapshots]].
    */
  private def bucketTableDir(outDir: String, table: String): String =
    table match {
      case "extracted" => extractedDir(outDir)
      case "chunks" => chunksDir(outDir)
      case other =>
        throw new IllegalArgumentException(s"no bucket table named '$other'")
    }

  /** Partition-pruned read of a bucket table restricted to `buckets`. */
  private def bucketsOf(spark: SparkSession, outDir: String, table: String,
      buckets: Iterable[Int]): DataFrame = {
    val base = spark.read.parquet(bucketTableDir(outDir, table))
    if (buckets.isEmpty) base.limit(0)
    else base.filter(col("bucket").isin(buckets.toSeq.map(Integer.valueOf): _*))
  }

  def tableAt(spark: SparkSession, outDir: String, table: String,
      snapshotId: Long): DataFrame =
    bucketsOf(spark, outDir, table,
      TableIO.readAt(outDir, snapshotId).completed.keys)

  /** Incremental read (Iceberg's append-scan emulation): the rows added
    * between two committed snapshots. Buckets are write-once and commits
    * are append-only, so the delta is EXACTLY the buckets in `toId`'s
    * manifest that `fromId`'s lacks — a partition-pruned scan of only
    * the new buckets' files, letting a downstream consumer re-process
    * an increment without ever re-reading (or diffing) the 100 TB of
    * already-consumed history. `fromId = 0` means "from the beginning"
    * (every bucket of `toId` is new). Chunk rows that [[Ingestion.add]]
    * appends are no change of their own: a delta returns them only when
    * it newly lists their bucket.
    */
  def tableChanges(spark: SparkSession, outDir: String, table: String,
      fromId: Long, toId: Long): DataFrame = {
    // STRICT manifest reads: a torn snapshot file (TableIO.commit's
    // documented crash window) degrading to Empty would silently turn
    // "delta since fromId" into "everything" — fail loudly instead
    def strict(id: Long): Set[Int] = TableIO.readAtStrict(outDir, id)
      .getOrElse(throw new IllegalArgumentException(
        s"snapshot $id is missing or unreadable — cannot compute a delta"))
      .completed.keySet
    val before = if (fromId == 0L) Set.empty[Int] else strict(fromId)
    val after = strict(toId)
    require(before.subsetOf(after),
      s"snapshot $fromId is not an ancestor of $toId (commits are append-only)")
    bucketsOf(spark, outDir, table, after -- before)
  }

  /** Row-level twin of the SQL bucket expression below — same xxhash64
    * chain (seed 42 → conv_id → salt), same pmod. Used by the streaming
    * path so streamed and batch outputs land in the SAME partition
    * layout; equality with the SQL expression is asserted in
    * `ExtractionPipelineSpec`.
    */
  def bucketOf(convId: String, salt: Int, nBuckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.{IntegerType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val h1 = XxHash64Function.hash(UTF8String.fromString(convId), StringType, 42L)
    val h2 = XxHash64Function.hash(salt, IntegerType, h1)
    math.floorMod(h2, nBuckets.toLong).toInt
  }

  /** Salted bucket assignment: `bucket = xxhash64(conv_id, salt) % nBuckets`
    * where `salt = turn_idx % saltFactor(conv)` and `saltFactor` > 1 only
    * for mega-conversations (skew pre-pass, broadcast-joined — the skew
    * table holds only outliers and stays tiny at any scale).
    */
  def withBucket(turns: Dataset[Turn], nBuckets: Int): DataFrame = {
    val spark = turns.sparkSession
    import spark.implicits._
    // the skew table holds only outlier conversations (tiny at any scale)
    // — materialize it ONCE on the driver so multi-wave runs don't re-run
    // the counting scan on every wave's action
    val counts = turns.groupBy("conv_id").count()
    val skewedRows = counts.filter(col("count") > SaltTargetRows * 2)
      .select(col("conv_id"),
        ceil(col("count") / SaltTargetRows).cast("int").as("salt_factor"))
      .as[(String, Int)].collect().toSeq
    val skewed = skewedRows.toDF("conv_id", "salt_factor")
    turns.toDF()
      .join(broadcast(skewed), Seq("conv_id"), "left")
      .withColumn("salt",
        pmod(col("turn_idx"), coalesce(col("salt_factor"), lit(1))))
      .withColumn("bucket",
        pmod(xxhash64(col("conv_id"), col("salt")), lit(nBuckets)).cast("int"))
      .drop("salt_factor", "salt")
  }

  /** Rebuild the extracted block stream from the stored columns: blocks
    * are joined with "\n" in `text` and `lens` carries each block's
    * length (block texts can contain newlines, so lengths — not
    * separators — are authoritative). Page comes from the pdf span label
    * (`pdf_line_pN`); html/plain blocks are page 0.
    */
  def rebuildBlocks(
      text: String, lens: Array[Int], labels: Array[String]): Vector[Chunker.Block] = {
    val out = Vector.newBuilder[Chunker.Block]
    var off = 0
    var i = 0
    while (i < lens.length && off <= text.length) {
      val end = math.min(off + lens(i), text.length)
      // both pdf span label families carry the page: pdf_line_pN[:kind]
      // (inline content-stream turns) and pdf_file_pN[:kind] (whole-file
      // turns); digits are followed by an optional S4 layout-kind suffix
      val page =
        if (i < labels.length && labels(i).startsWith("pdf_line_p"))
          labels(i).drop("pdf_line_p".length).takeWhile(_.isDigit).toIntOption.getOrElse(0)
        else if (i < labels.length && labels(i).startsWith("pdf_file_p"))
          labels(i).drop("pdf_file_p".length).takeWhile(_.isDigit).toIntOption.getOrElse(0)
        else 0
      out += Chunker.Block(text.substring(off, end), page)
      off = end + 1 // skip the '\n' separator
      i += 1
    }
    out.result()
  }

  /** Extraction of one ordered partition iterator; emits rows and records
    * per-(partition, bucket) lineage into `acc`.
    */
  private def extractPartition(
      rows: Iterator[TurnWithBucket],
      acc: CollectionAccumulator[PartitionLineage],
      maxPayloadChars: Int): Iterator[ExtractedTurn] = {
    val pid = TaskContext.getPartitionId()
    val t0 = System.nanoTime()
    val perBucket = mutable.Map.empty[Int, (Long, Long, Long, Long, Long)]
    val out = rows.map { t =>
      val ex = Extractor.extract(t.text, maxPayloadChars)
      val (in, outc, bytes, se, sb) =
        perBucket.getOrElse(t.bucket, (0L, 0L, 0L, 0L, 0L))
      perBucket(t.bucket) = (
        in + 1,
        outc + (if (ex.skipReason.isEmpty) 1L else 0L),
        bytes + ex.bytesParsed,
        se + (if (ex.skipReason == "empty") 1L else 0L),
        sb + (if (ex.skipReason == "blank") 1L else 0L))
      ExtractedTurn(t.conv_id, t.turn_idx, t.role, t.tool, t.ts, ex.kind, ex.text,
        ex.spans.map(_.start).toArray, ex.spans.map(_.end).toArray,
        ex.spans.map(_.label).toArray, ex.blockLens.toArray,
        ex.bytesParsed, ex.skipReason, t.bucket)
    }
    // lineage rows flush after the data iterator is fully consumed
    new Iterator[ExtractedTurn] {
      def hasNext: Boolean = {
        val h = out.hasNext
        if (!h && perBucket.nonEmpty) {
          val wallMs = (System.nanoTime() - t0) / 1000000L
          perBucket.foreach { case (b, (in, outc, bytes, se, sbk)) =>
            acc.add(PartitionLineage(b, pid, in, outc, bytes, se, sbk, wallMs,
              if (wallMs > 0) in * 1000.0 / wallMs else 0.0))
          }
          perBucket.clear()
        }
        h
      }
      def next(): ExtractedTurn = out.next()
    }
  }

  /** Per-turn chunkers, one per chunk-mode family, run on each extracted
    * turn inside the post-sort mapPartitions.
    */
  private def flatChunks(e: ExtractedTurn, size: Int, ov: Int): Array[ChunkLite] =
    Chunker.splitTextWithOverlap(e.text, size, ov).zipWithIndex
      .map { case (c, i) => ChunkLite(i, c.content, c.start, c.end) }.toArray

  private def structChunks(e: ExtractedTurn, size: Int, ov: Int,
      charSlice: Boolean): Array[StructChunkLite] = {
    val blocks = rebuildBlocks(e.text, e.block_lens, e.span_labels)
    val cs = if (charSlice) Chunker.chunkCharSlices(blocks, size, ov)
      else Chunker.chunkWithStructure(blocks, size, ov)
    cs.map(sc => StructChunkLite(sc.chunkIndex, sc.content, sc.page,
      sc.sectionBoundary, sc.sectionHeading.getOrElse(""))).toArray
  }

  /** Delete bucket directories NOT referenced by the manifest — the
    * Iceberg discipline: data files exist only once the snapshot commits;
    * anything else is an orphan from a crashed wave. Lets every write be
    * a plain APPEND (no partition-overwrite staging/rename machinery,
    * which serializes on the driver).
    */
  private def cleanupOrphans(outDir: String, manifest: TableIO.Manifest): Unit = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    Seq(extractedDir(outDir), chunksDir(outDir)).foreach { dir =>
      val p = Paths.get(dir)
      if (Files.exists(p)) {
        val orphans = scala.util.Using.resource(Files.list(p))(_.iterator().asScala
          .filter(_.getFileName.toString.startsWith("bucket="))
          .filter { d =>
            val b = d.getFileName.toString.stripPrefix("bucket=").toIntOption
            !b.exists(manifest.isDone)
          }
          .toVector)
        orphans.foreach(TableIO.deleteTree)
      }
    }
  }

  /** Run (or resume) the full job. Returns aggregate stats. */
  def run(spark: SparkSession, turns: Dataset[Turn], cfg: Config): RunStats = {
    import spark.implicits._

    val manifest0 = if (cfg.resume) TableIO.read(cfg.outDir) else {
      TableIO.clear(cfg.outDir)
      Seq(extractedDir(cfg.outDir), chunksDir(cfg.outDir),
        lineageDir(cfg.outDir), metricsDir(cfg.outDir))
        .foreach(d => TableIO.deleteTree(java.nio.file.Paths.get(d)))
      TableIO.Empty
    }
    cleanupOrphans(cfg.outDir, manifest0)
    val doneAtStart = manifest0.completed.keySet
    // the skew pre-pass scans the input: a resume with every bucket
    // committed has no wave to feed, so it never runs
    lazy val bucketed = withBucket(turns, cfg.nBuckets)

    var manifest = manifest0
    var totTurns = 0L
    var totBytes = 0L
    val t0 = System.nanoTime()

    val shufflePartitions =
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt

    for (wave <- 0 until cfg.waves) {
      val waveBuckets = (0 until cfg.nBuckets)
        .filter(b => b % cfg.waves == wave && !manifest.isDone(b))
      if (waveBuckets.nonEmpty) {
        val acc = new CollectionAccumulator[PartitionLineage]
        spark.sparkContext.register(acc, s"lineage-wave-$wave")

        val waveRaw = bucketed
          .filter(col("bucket").isin(waveBuckets.map(Integer.valueOf): _*))
        // ONE wide shuffle: co-locate each salted bucket, then order
        // turns within partitions — deterministic write order at any
        // parallelism. Partition count is at LEAST the wave's bucket
        // count: tasks ≫ cores lets dynamic scheduling absorb the
        // balls-into-bins skew of hashing buckets into partitions (with
        // count == cores, one partition drawing 2-3 buckets becomes a
        // 2-3× straggler that caps the whole stage)
        val nPart = math.max(shufflePartitions, waveBuckets.size).max(1)

        // SINGLE-PASS extract+chunk: raw turns ride the exchange, then
        // extraction and chunking run fused in ONE post-sort mapPartitions
        // (lineage pid = the reduce partition that did the work). The
        // chunker's output rides along as an array column WRITTEN WITH
        // the extracted table; the chunks table is then exploded out of a
        // column-pruned read-back of just that array column. Compared to
        // the alternatives measured on this box: (a) re-chunking from a
        // full read-back re-decodes the text column and re-runs the
        // chunker per wave; (b) persist() between the writes pushes ~2×
        // the wave's bytes through the in-memory columnar cache — memory
        // bandwidth is the binding resource at high core counts, and (b)
        // measurably collapses the N→4N scaling of the whole stage;
        // (c) extracting BEFORE the exchange ships more compressed
        // shuffle bytes, not fewer — the extracted rows' span/label/block
        // arrays outweigh the stripped boilerplate (BASELINE.md). Carrying
        // chunks as a column costs ~1.1× extracted-table storage and
        // nothing else; the explode pass decodes ONLY (keys, chunks,
        // bucket). Crash-safety is unchanged: neither table's buckets
        // enter the manifest until the commit below, and the chunks
        // column also gives resumed/structured runs their chunk
        // provenance for free.
        val chunkSize = cfg.chunkSize
        val overlap = cfg.overlap
        val maxPayload = cfg.maxPayloadChars
        val chunkCols = cfg.mode match {
          case ChunkFlat =>
            Seq(col("c.chunk_index"), col("c.content"), col("c.start"), col("c.end"))
          case _ =>
            Seq(col("c.chunk_index"), col("c.content"), col("c.page"),
              col("c.section_boundary"), col("c.section_heading"))
        }

        val waveDf = waveRaw
          .repartition(nPart, col("bucket"))
          .sortWithinPartitions("conv_id", "turn_idx")
          .as[TurnWithBucket]
        val withChunks = cfg.mode match {
          case ChunkFlat =>
            waveDf.mapPartitions { it =>
              extractPartition(it, acc, maxPayload)
                .map(e => (e, flatChunks(e, chunkSize, overlap)))
            }.toDF("e", "chunks")
          case m =>
            waveDf.mapPartitions { it =>
              extractPartition(it, acc, maxPayload)
                .map(e => (e, structChunks(e, chunkSize, overlap, m == ChunkCharSlice)))
            }.toDF("e", "chunks")
        }

        val written = withChunks.select(col("e.*"), col("chunks"))
        written.write
          .mode(SaveMode.Append)
          .partitionBy("bucket")
          .parquet(extractedDir(cfg.outDir))

        spark.read.schema(written.schema).parquet(extractedDir(cfg.outDir))
          .filter(col("bucket").isin(waveBuckets.map(Integer.valueOf): _*))
          .select(col("conv_id"), col("turn_idx"), col("bucket"),
            explode(col("chunks")).as("c"))
          .select(col("conv_id") +: col("turn_idx") +: chunkCols :+ col("bucket"): _*)
          .write
          .mode(SaveMode.Append)
          .partitionBy("bucket")
          .parquet(chunksDir(cfg.outDir))

        // lineage rows for this wave (executor-measured wall clock);
        // dedupe by (bucket, partition) — task retries/speculation could
        // add a row twice, keep the max-wall observation
        val lineageRows = acc.value.asScala.toSeq
          .groupBy(l => (l.bucket, l.partition_id))
          .map { case (_, ls) => ls.maxBy(_.wall_ms) }.toSeq
        if (lineageRows.nonEmpty)
          spark.createDataset(lineageRows)
            .withColumn("wave", lit(wave))
            .coalesce(1)
            .write.mode(SaveMode.Append).parquet(lineageDir(cfg.outDir))

        val byBucket = lineageRows.groupBy(_.bucket)
        val entries = waveBuckets.map { b =>
          val ls = byBucket.getOrElse(b, Nil)
          totTurns += ls.map(_.input_rows).sum
          totBytes += ls.map(_.bytes_parsed).sum
          TableIO.BucketEntry(b, ls.map(_.input_rows).sum,
            ls.map(_.bytes_parsed).sum, ls.map(_.wall_ms).sum)
        }
        manifest = TableIO.commit(cfg.outDir, manifest, entries)
      }
    }

    val wallMs = (System.nanoTime() - t0) / 1000000L
    // metrics table: one snapshot row per run + per-bucket rollup
    val metrics = spark.createDataset(Seq(
      (manifest.snapshotId, totTurns, totBytes, wallMs,
        if (wallMs > 0) totTurns * 1000.0 / wallMs else 0.0,
        doneAtStart.size, cfg.nBuckets)))
      .toDF("snapshot_id", "turns", "bytes_parsed", "wall_ms",
        "turns_per_sec", "buckets_skipped", "n_buckets")
    metrics.coalesce(1).write.mode(SaveMode.Append).parquet(metricsDir(cfg.outDir))

    RunStats(cfg.nBuckets, doneAtStart.size, totTurns, totBytes, wallMs)
  }
}

/** Turn + its salted bucket (the mapPartitions input row). */
final case class TurnWithBucket(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: java.sql.Timestamp,
    bucket: Int)
