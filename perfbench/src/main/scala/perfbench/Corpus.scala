package perfbench

import graft.extract.Extractor
import graft.fixtures.TranscriptGen
import graft.model.Turn
import graft.pipeline.{ExtractionPipeline, TableIO}
import graft.text.Chunker
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Inputs made from the seed, and the checks and kernel timings that every
  * workload over transcripts shares.
  */
object Corpus {

  def deleteDir(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p))(
        _.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala.toVector)
        .foreach(Files.delete)
  }

  def fileCount(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p))(
      _.iterator().asScala.count(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet")).toLong)
  }

  def bytesUnder(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p))(
      _.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum)
  }

  /** The conversations the first `turns` turns of a seed's corpus come from. */
  def convsFor(seed: Long, turns: Int): Int = {
    var n = 0
    var total = 0L
    while (total < turns) {
      total += TranscriptGen.turnCount(seed, n.toLong)
      n += 1
    }
    n
  }

  /** Keeps the first `turns` turns of the seed's conversations: whole
    * conversations, the last one cut short. The seed then changes a
    * corpus's content but not its size, which the 1% of mega-conversations
    * (400-600 turns) would otherwise move by a quarter in a small corpus.
    */
  def keep(seed: Long, turns: Int): Turn => Boolean = {
    val n = convsFor(seed, turns)
    val lastId = TranscriptGen.conversation(seed, n - 1L).head.conv_id
    val lastTurns = turns - (0 until n - 1).map(i => TranscriptGen.turnCount(seed, i.toLong)).sum
    t => t.conv_id != lastId || t.turn_idx < lastTurns
  }

  /** Writes the first `turns` TranscriptGen turns (60/25/15 plain/html/pdf,
    * 1% mega-conversations) for `seed` to parquet at `dir`.
    */
  def write(spark: SparkSession, turns: Int, seed: Long, dir: String): Long = {
    TranscriptGen.transcripts(spark, convsFor(seed, turns), seed).filter(keep(seed, turns))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).count()
  }

  def turns(spark: SparkSession, dir: String) = {
    import spark.implicits._
    spark.read.parquet(dir).as[Turn]
  }

  /** Turns of a seeded sample of the conversations of the corpus `write`
    * makes, generated on the driver.
    */
  def sampleTurns(turns: Int, seed: Long, maxTurns: Int): Vector[Turn] = {
    val r = new scala.util.Random(seed ^ 0x6b8b4567L)
    r.shuffle((0 until convsFor(seed, turns)).toVector).iterator
      .flatMap(i => TranscriptGen.conversation(seed, i.toLong)).filter(keep(seed, turns))
      .take(maxTurns).toVector
  }

  private def kindOf(sniffed: String): String =
    if (sniffed.startsWith("pdf")) "pdf" else sniffed

  /** Single-thread timings of the extract and text kernels over `sample`:
    * median of three passes after one warm-up pass.
    */
  def kernelTimings(c: Ctx, sample: Vector[Turn]): Unit = {
    val texts = sample.map(_.text)
    val byKind = texts.groupBy(t => kindOf(Extractor.sniff(t)))
    val extracted = texts.map(t => Extractor.extract(t))
    def timed(f: => Unit): Double = {
      f
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble
      }.sorted
      ts(1)
    }
    for (k <- Seq("plain", "html", "pdf"))
      c.layer(s"extract.turns_$k") = byKind.getOrElse(k, Vector.empty).size.toDouble
    var sink = 0L
    val sniffNs = timed(texts.foreach(t => sink += Extractor.sniff(t).length))
    c.layer("extract.sniff_ns_per_turn") = sniffNs / texts.size
    for (k <- Seq("plain", "html", "pdf")) {
      val ts = byKind.getOrElse(k, Vector.empty)
      c.layer(s"extract.${k}_ns_per_turn") =
        if (ts.isEmpty) 0.0
        else timed(ts.foreach(t => sink += Extractor.extract(t).text.length)) / ts.size
    }
    val kept = extracted.filter(_.skipReason.isEmpty)
    c.layer("extract.kept_ratio") = kept.size.toDouble / extracted.size
    c.layer("extract.chars_per_turn") = extracted.map(_.text.length.toLong).sum.toDouble / extracted.size
    c.layer("text.chunk_ns_per_turn") =
      timed(extracted.foreach(e => sink += Chunker.splitTextWithOverlap(e.text).size)) /
        extracted.size
    c.layer("text.chunks_per_turn") =
      extracted.map(e => Chunker.splitTextWithOverlap(e.text).size.toLong).sum.toDouble /
        extracted.size
    if (sink == 42L) System.err.println("kernel sink")
  }

  /** Order-insensitive content hash and row count of the extracted and
    * chunks tables of one pipeline output.
    */
  def contentHash(spark: SparkSession, out: String): Seq[Long] =
    Seq(ExtractionPipeline.extractedDir(out), ExtractionPipeline.chunksDir(out)).flatMap { d =>
      val df = spark.read.parquet(d)
      val r = df.agg(bit_xor(xxhash64(df.columns.sorted.map(col): _*)), count(lit(1))).first()
      Seq(r.getLong(0), r.getLong(1))
    }

  /** The output of one `ExtractionPipeline.run` is complete and equals a
    * fresh `Extractor.extract` + `Chunker` of a seeded sample of its input.
    */
  def checkExtraction(c: Ctx, spark: SparkSession, corpus: String, out: String,
      nTurns: Long, nBuckets: Int, label: String): Unit = {
    val extracted = spark.read.parquet(ExtractionPipeline.extractedDir(out))
    val rows = extracted.count()
    c.check(s"$label.row_count", rows == nTurns, s"$rows output rows for $nTurns turns")
    val done = TableIO.read(out).completed.keySet
    c.check(s"$label.manifest", done == (0 until nBuckets).toSet,
      s"${done.size} of $nBuckets buckets committed")

    val keys = spark.read.parquet(corpus)
      .filter(pmod(xxhash64(col("conv_id"), col("turn_idx"), lit(c.seed)), lit(200)) === 0)
    val input = keys.collect().map(r =>
      (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) -> r.getAs[String]("text")).toMap
    val stored = extracted.join(keys.select("conv_id", "turn_idx"), Seq("conv_id", "turn_idx"))
      .collect()
    val chunkRows = spark.read.parquet(ExtractionPipeline.chunksDir(out))
      .join(keys.select("conv_id", "turn_idx"), Seq("conv_id", "turn_idx"))
      .collect().groupBy(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")))
    c.check(s"$label.sample_present", stored.length == input.size && input.nonEmpty,
      s"${stored.length} stored rows for ${input.size} sampled turns")
    val bad = stored.flatMap { r =>
      val key = (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"))
      val ex = Extractor.extract(input(key))
      val want = Chunker.splitTextWithOverlap(ex.text).zipWithIndex
        .map { case (ch, i) => (i, ch.content, ch.start, ch.end) }
      def ints(n: String) = r.getAs[scala.collection.Seq[Int]](n).toVector
      val inRow = r.getAs[scala.collection.Seq[Row]]("chunks")
        .map(x => (x.getInt(0), x.getString(1), x.getInt(2), x.getInt(3))).toVector
      val inTable = chunkRows.getOrElse(key, Array.empty[Row])
        .map(x => (x.getAs[Int]("chunk_index"), x.getAs[String]("content"),
          x.getAs[Int]("start"), x.getAs[Int]("end"))).sortBy(_._1).toVector
      val same = r.getAs[String]("text") == ex.text &&
        r.getAs[String]("kind") == ex.kind &&
        r.getAs[String]("skip_reason") == ex.skipReason &&
        ints("span_starts") == ex.spans.map(_.start) &&
        ints("span_ends") == ex.spans.map(_.end) &&
        r.getAs[scala.collection.Seq[String]]("span_labels").toVector == ex.spans.map(_.label) &&
        ints("block_lens") == ex.blockLens &&
        inRow == want && inTable == want
      if (same) None else Some(key)
    }
    c.check(s"$label.sample_equals_fresh_extract", bad.isEmpty,
      s"${bad.length} sampled turns differ, first ${bad.headOption}")
  }
}
