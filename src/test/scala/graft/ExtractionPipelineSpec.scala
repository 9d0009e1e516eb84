package graft

import graft.fixtures.TranscriptGen
import graft.pipeline.{ExtractionPipeline, TableIO}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** End-to-end checks of the north-rule job: per-turn equality independent
  * of parallelism and input order, checkpoint resume with zero
  * reprocessing, mega-conversation salting, lineage/metrics emission.
  */
class ExtractionPipelineSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark

  private def tmp(): String =
    Files.createTempDirectory("graft-pipe").toString

  test("per-turn extraction equality across parallelism and input order") {
    import spark.implicits._
    val turns = TranscriptGen.transcripts(spark, nConvs = 30, numPartitions = 4)

    val out1 = tmp()
    val out2 = tmp()
    ExtractionPipeline.run(spark, turns,
      ExtractionPipeline.Config(out1, nBuckets = 8, waves = 2, resume = false))
    // second run: different partitioning AND a different (reversed) row
    // order — the salted shuffle + sortWithinPartitions must normalize both
    val shuffled = turns.orderBy(desc("ts"), desc("conv_id")).repartition(13)
    ExtractionPipeline.run(spark, shuffled.as[graft.model.Turn],
      ExtractionPipeline.Config(out2, nBuckets = 8, waves = 2, resume = false))

    val a = spark.read.parquet(ExtractionPipeline.extractedDir(out1))
      .select("conv_id", "turn_idx", "kind", "text", "skip_reason")
    val b = spark.read.parquet(ExtractionPipeline.extractedDir(out2))
      .select("conv_id", "turn_idx", "kind", "text", "skip_reason")
    assert(a.count() == b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)

    val ca = spark.read.parquet(ExtractionPipeline.chunksDir(out1))
      .select("conv_id", "turn_idx", "chunk_index", "content", "start", "end")
    val cb = spark.read.parquet(ExtractionPipeline.chunksDir(out2))
      .select("conv_id", "turn_idx", "chunk_index", "content", "start", "end")
    assert(ca.exceptAll(cb).isEmpty && cb.exceptAll(ca).isEmpty)
  }

  test("every input turn appears exactly once in the output") {
    import spark.implicits._
    val turns = TranscriptGen.transcripts(spark, nConvs = 20, numPartitions = 3)
    val out = tmp()
    ExtractionPipeline.run(spark, turns,
      ExtractionPipeline.Config(out, nBuckets = 8, waves = 2, resume = false))
    val got = spark.read.parquet(ExtractionPipeline.extractedDir(out))
      .select("conv_id", "turn_idx")
    assert(got.count() == turns.count())
    assert(got.distinct().count() == got.count())
  }

  test("resume skips completed buckets (zero reprocessing)") {
    import spark.implicits._
    val turns = TranscriptGen.transcripts(spark, nConvs = 15, numPartitions = 3)
    val out = tmp()
    val cfg = ExtractionPipeline.Config(out, nBuckets = 8, waves = 2)

    val full = ExtractionPipeline.run(spark, turns, cfg.copy(resume = false))
    assert(full.turns > 0)

    // simulate a crash that lost the second wave's manifest entries:
    // rewind the manifest to only wave-0 buckets (bucket % 2 == 0)
    val m = TableIO.read(out)
    val wave0 = m.completed.filter { case (b, _) => b % 2 == 0 }
    TableIO.clear(out)
    TableIO.commit(out, TableIO.Empty, wave0.values.toSeq)

    val resumed = ExtractionPipeline.run(spark, turns, cfg)
    // only the wave-1 buckets were reprocessed
    assert(resumed.skippedBuckets == wave0.size)
    val wave1Rows = m.completed.collect { case (b, e) if b % 2 == 1 => e.rows }.sum
    assert(resumed.turns == wave1Rows)

    // outputs still complete and unique per turn
    val got = spark.read.parquet(ExtractionPipeline.extractedDir(out))
      .select("conv_id", "turn_idx")
    assert(got.count() == turns.count())
    assert(got.distinct().count() == got.count())
  }

  test("a no-op resume runs no job that scans the input") {
    import spark.implicits._
    val input = tmp() + "/turns"
    TranscriptGen.transcripts(spark, nConvs = 10, numPartitions = 2).write.parquet(input)
    val turns = spark.read.parquet(input).as[graft.model.Turn]
    val out = tmp()
    val cfg = ExtractionPipeline.Config(out, nBuckets = 4, waves = 2)
    ExtractionPipeline.run(spark, turns, cfg.copy(resume = false))

    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe)
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val resumed = try {
      val r = ExtractionPipeline.run(spark, turns, cfg)
      ListenerBusDrain.drain(spark.sparkContext)
      r
    } finally spark.listenerManager.unregister(listener)
    assert(resumed.skippedBuckets == cfg.nBuckets && resumed.turns == 0)
    val inputScans = plans.asScala.toSeq.flatMap(qe => collect(qe.executedPlan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.endsWith("/turns")) => s
    })
    assert(inputScans.isEmpty, s"a no-op resume scanned the input ${inputScans.length} times")
  }

  test("structured mode: pipeline chunks equal direct chunk_with_structure") {
    import spark.implicits._
    import graft.extract.Extractor
    import graft.text.Chunker
    // include a crafted HTML turn whose heading text trips the text-level
    // heading detector (ALL-CAPS) and whose section exceeds chunk_size —
    // pins both the section-boundary and the [Context:] re-prefix paths
    val body = (1 to 30).map(i => s"Sentence number $i about the topic.").mkString(" ")
    val crafted = graft.model.Turn("conv-crafted", 0, "user",
      s"<html><body><h2>INTRODUCTION AND SCOPE</h2><p>$body</p>" +
        s"<h2>SECOND SECTION HEADING</h2><p>Short body.</p></body></html>",
      "", new java.sql.Timestamp(0L))
    val turns = TranscriptGen.transcripts(spark, nConvs = 25, numPartitions = 3)
      .union(spark.createDataset(Seq(crafted)))
    val out = tmp()
    ExtractionPipeline.run(spark, turns,
      ExtractionPipeline.Config(out, nBuckets = 8, waves = 1, resume = false,
        mode = ExtractionPipeline.ChunkStructured))

    val got = spark.read.parquet(ExtractionPipeline.chunksDir(out))
      .select("conv_id", "turn_idx", "chunk_index", "content", "page",
        "section_boundary", "section_heading")
    // oracle: run the extractor + F6 directly on the same turns
    val want = turns.collect().toSeq.flatMap { t =>
      val ex = Extractor.extract(t.text)
      val blocks = ExtractionPipeline.rebuildBlocks(
        ex.text, ex.blockLens.toArray, ex.spans.map(_.label).toArray)
      Chunker.chunkWithStructure(blocks).map(sc =>
        (t.conv_id, t.turn_idx, sc.chunkIndex, sc.content, sc.page,
          sc.sectionBoundary, sc.sectionHeading.getOrElse("")))
    }.toDF("conv_id", "turn_idx", "chunk_index", "content", "page",
      "section_boundary", "section_heading")
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // the fixture corpus contains headings → some section boundaries with
    // non-empty headings must exist
    assert(got.filter(col("section_boundary") && col("section_heading") =!= "")
      .count() > 0)
  }

  test("astral-plane turns ride the full pipeline with exact chunk parity") {
    import spark.implicits._
    import graft.extract.Extractor
    import graft.text.Chunker
    // emoji-dense and math-alphanumeric text (every char a surrogate
    // pair): the chunker's code-point arithmetic (round 4) end-to-end —
    // through extraction, the salted exchange, and the chunk explode —
    // not just the unit-level goldens. Sentences sized so UTF-16 length
    // crosses chunk_size while code-point length does not.
    val emoji = (1 to 40).map(i => "A🚀🌍🔥🎉🧠💡🐍📦🎯🌊 sentence " + i + ".")
      .mkString(" ")
    val math = "B" + "𝕊𝕡𝕒𝕣𝕜𝔾𝕣𝕒𝕗𝕥 " * 120 + "end."
    val crafted = Seq(
      graft.model.Turn("conv-astral", 0, "user", emoji, "",
        new java.sql.Timestamp(0L)),
      graft.model.Turn("conv-astral", 1, "assistant",
        s"<html><body><h2>🚀 MISSION LOG</h2><p>$emoji</p></body></html>", "",
        new java.sql.Timestamp(1L)),
      graft.model.Turn("conv-astral", 2, "user", math, "",
        new java.sql.Timestamp(2L)))
    val turns = TranscriptGen.transcripts(spark, nConvs = 10, numPartitions = 3)
      .union(spark.createDataset(crafted))
    val out = tmp()
    ExtractionPipeline.run(spark, turns,
      ExtractionPipeline.Config(out, nBuckets = 8, waves = 1, resume = false))

    val got = spark.read.parquet(ExtractionPipeline.chunksDir(out))
      .select("conv_id", "turn_idx", "chunk_index", "content", "start", "end")
    val want = turns.collect().toSeq.flatMap { t =>
      val ex = Extractor.extract(t.text)
      Chunker.splitTextWithOverlap(ex.text).zipWithIndex.map { case (c, i) =>
        (t.conv_id, t.turn_idx, i, c.content, c.start, c.end)
      }
    }.toDF("conv_id", "turn_idx", "chunk_index", "content", "start", "end")
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // the astral turns actually produced multi-chunk output (i.e. the
    // length arithmetic ran, not a fits-in-one-chunk bypass)
    assert(got.filter(col("conv_id") === "conv-astral").count() > 3)
    // and no chunk boundary ever split a surrogate pair
    got.filter(col("conv_id") === "conv-astral").collect().foreach { r =>
      val content = r.getString(3)
      assert(!Character.isHighSurrogate(content.last),
        s"chunk ends on a lone high surrogate: ...${content.takeRight(8)}")
      assert(!Character.isLowSurrogate(content.head),
        s"chunk starts on a lone low surrogate")
    }
  }

  test("charslice mode: pipeline chunks equal direct chunkCharSlices") {
    import spark.implicits._
    import graft.extract.Extractor
    import graft.text.Chunker
    // a block long enough to force the char-slice split path
    val body = (1 to 60).map(i => s"Sentence number $i about the topic.").mkString(" ")
    val crafted = graft.model.Turn("conv-charslice", 0, "user",
      s"<html><body><article><p>$body</p></article></body></html>",
      "", new java.sql.Timestamp(0L))
    val turns = TranscriptGen.transcripts(spark, nConvs = 20, numPartitions = 3)
      .union(spark.createDataset(Seq(crafted)))
    val out = tmp()
    ExtractionPipeline.run(spark, turns,
      ExtractionPipeline.Config(out, nBuckets = 8, waves = 1, resume = false,
        mode = ExtractionPipeline.ChunkCharSlice))

    val got = spark.read.parquet(ExtractionPipeline.chunksDir(out))
      .select("conv_id", "turn_idx", "chunk_index", "content", "page")
    val want = turns.collect().toSeq.flatMap { t =>
      val ex = Extractor.extract(t.text)
      val blocks = ExtractionPipeline.rebuildBlocks(
        ex.text, ex.blockLens.toArray, ex.spans.map(_.label).toArray)
      Chunker.chunkCharSlices(blocks).map(sc =>
        (t.conv_id, t.turn_idx, sc.chunkIndex, sc.content, sc.page))
    }.toDF("conv_id", "turn_idx", "chunk_index", "content", "page")
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // the crafted long block must actually have been sliced
    assert(got.filter(col("conv_id") === "conv-charslice").count() > 1)
  }

  test("orphan bucket dirs from a crashed wave are cleaned before re-run") {
    import spark.implicits._
    val turns = TranscriptGen.transcripts(spark, nConvs = 15, numPartitions = 3)
    val out = tmp()
    val cfg = ExtractionPipeline.Config(out, nBuckets = 8, waves = 2)
    ExtractionPipeline.run(spark, turns, cfg.copy(resume = false))

    // simulate a crash AFTER wave-1's data files hit disk but BEFORE its
    // manifest commit: rewind the manifest to wave-0 only, keep all files
    val m = TableIO.read(out)
    val wave0 = m.completed.filter { case (b, _) => b % 2 == 0 }
    TableIO.clear(out)
    TableIO.commit(out, TableIO.Empty, wave0.values.toSeq)

    // resume must delete the uncommitted (orphan) wave-1 bucket dirs and
    // re-extract them — zero duplicate rows despite the leftover files
    ExtractionPipeline.run(spark, turns, cfg)
    val got = spark.read.parquet(ExtractionPipeline.extractedDir(out))
      .select("conv_id", "turn_idx")
    assert(got.count() == turns.count(), "no duplicates from orphan files")
    assert(got.distinct().count() == got.count())
    val chunks = spark.read.parquet(ExtractionPipeline.chunksDir(out))
      .select("conv_id", "turn_idx", "chunk_index")
    assert(chunks.distinct().count() == chunks.count(), "chunk table deduped too")
  }

  test("mega-conversations are salted across multiple buckets") {
    import spark.implicits._
    // conv index 52 under the default seed draws the 1%-skew branch (~400+
    // turns); verify deterministically then check bucket spread
    val skewedIdx = (0L until 120L)
      .find(i => TranscriptGen.turnCount(TranscriptGen.DefaultSeed, i) > 300)
    assert(skewedIdx.nonEmpty, "fixture must contain a mega-conversation")

    val turns = TranscriptGen.transcripts(spark, nConvs = 120, numPartitions = 4)
    val bucketed = ExtractionPipeline.withBucket(turns, nBuckets = 16)
    val megaConv = f"conv-${skewedIdx.get}%06d"
    val spread = bucketed.filter(col("conv_id") === megaConv)
      .select("bucket").distinct().count()
    assert(spread > 1, s"mega conversation $megaConv must span > 1 bucket, got $spread")

    // non-skewed conversations stay in exactly one bucket
    val normal = bucketed.groupBy("conv_id")
      .agg(count(lit(1)).as("n"), countDistinct("bucket").as("nb"))
      .filter(col("n") <= ExtractionPipeline.SaltTargetRows * 2)
    assert(normal.filter(col("nb") > 1).count() == 0)
  }

  test("lineage and metrics tables are written with real counters") {
    import spark.implicits._
    val turns = TranscriptGen.transcripts(spark, nConvs = 12, numPartitions = 2)
    val out = tmp()
    val stats = ExtractionPipeline.run(spark, turns,
      ExtractionPipeline.Config(out, nBuckets = 4, waves = 1, resume = false))

    val lineage = spark.read.parquet(ExtractionPipeline.lineageDir(out))
    assert(lineage.agg(sum("input_rows")).as[Long].head() == turns.count())
    assert(lineage.agg(sum("bytes_parsed")).as[Long].head() > 0)
    assert(lineage.select("bucket").distinct().count() > 1)

    val metrics = spark.read.parquet(ExtractionPipeline.metricsDir(out))
    assert(metrics.agg(sum("turns")).as[Long].head() == turns.count())
    assert(stats.turns == turns.count())
  }

  test("extraction output is non-trivial for each payload kind") {
    import spark.implicits._
    val turns = TranscriptGen.transcripts(spark, nConvs = 40, numPartitions = 4)
    val out = tmp()
    ExtractionPipeline.run(spark, turns,
      ExtractionPipeline.Config(out, nBuckets = 8, waves = 1, resume = false))
    val kinds = spark.read.parquet(ExtractionPipeline.extractedDir(out))
      .groupBy("kind").count().as[(String, Long)].collect().toMap
    assert(kinds.keySet == Set("plain", "html", "pdf"))
    // html extraction must strip boilerplate: extracted text shorter than raw
    val htmlRows = spark.read.parquet(ExtractionPipeline.extractedDir(out))
      .filter(col("kind") === "html" && col("skip_reason") === "")
    assert(htmlRows.count() > 0)
    assert(htmlRows.filter(length(col("text")) >= col("bytes_parsed")).count() == 0,
      "html main text must be shorter than the raw payload")
    // the generator's fixed footer/nav chrome must be stripped everywhere
    assert(htmlRows.filter(col("text").contains("example corp") ||
      col("text").contains("privacy")).count() == 0,
      "footer/nav boilerplate must not survive extraction")
    // pdf: headers/footers suppressed → no 'Page N of M' lines survive
    val pdfRows = spark.read.parquet(ExtractionPipeline.extractedDir(out))
      .filter(col("kind") === "pdf")
    assert(pdfRows.filter(col("text").rlike("Page \\d+ of \\d+")).count() == 0)
  }
}
