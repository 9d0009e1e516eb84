package graft

import graft.fixtures.TranscriptGen
import graft.pipeline.{ExtractionPipeline, Ingestion}
import graft.retrieval.Bm25IndexTables
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** End-to-end ingestion lifecycle over the pipeline's own outputs:
  * extract → chunk → EMBED → STORE (vector table + BM25 index), the
  * reference's full upload path (`document_service.py:173-355`).
  */
class IngestionSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark

  private def extractTo(out: String): Unit = {
    import spark.implicits._
    val turns = spark.createDataset(
      (0 until 30).flatMap(i => TranscriptGen.conversation(42L, i.toLong)))
    ExtractionPipeline.run(spark, turns,
      ExtractionPipeline.Config(out, nBuckets = 4, waves = 1, resume = false))
  }

  test("hashed embedding is deterministic, L2-normalized, token-order independent") {
    val a = Ingestion.hashedEmbedding("spark shuffles the big table")
    val b = Ingestion.hashedEmbedding("spark shuffles the big table")
    assert(a.toSeq == b.toSeq)
    val norm = math.sqrt(a.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
    val c = Ingestion.hashedEmbedding("table big the shuffles spark")
    assert(a.toSeq == c.toSeq, "bag-of-words embedding ignores order")
    assert(Ingestion.hashedEmbedding("").forall(_ == 0f))
  }

  test("embed + index stages populate real tables over the chunk output") {
    val out = Files.createTempDirectory("ingest").toString
    extractTo(out)
    val nEmb = Ingestion.run(spark, out)

    val chunks = spark.read.parquet(ExtractionPipeline.chunksDir(out))
    val emb = spark.read.parquet(Ingestion.embeddingsDir(out))
    assert(nEmb == chunks.count(), "one embedding per chunk")
    assert(nEmb == emb.count(), "the returned count is the embeddings table's")
    assert(emb.select("conv_id", "turn_idx", "chunk_index").distinct().count() == nEmb)
    // all non-empty chunks produce unit vectors
    val norms = emb.select(expr(
      "abs(aggregate(embedding, 0D, (acc, x) -> acc + x * x) - 1.0) < 1e-5 AS unit"))
    assert(norms.filter(!col("unit")).count() == 0)

    val (ok, msg) = Bm25IndexTables.validate(spark, Ingestion.indexDir(out), "chunk_id")
    assert(ok, msg)
    // a token known to exist in the corpus scores hits against the index
    val someTok = spark.read.parquet(Bm25IndexTables.postingsDir(Ingestion.indexDir(out)))
      .groupBy("term").count().orderBy(desc("count"))
      .select("term").first().getString(0)
    val hits = Bm25IndexTables.score(spark, Ingestion.indexDir(out), someTok, "chunk_id")
    assert(hits.count() > 0)
  }

  /** Spark jobs of one `Ingestion.run`: the embeddings write, which
    * counts its own rows, and the doclens and postings writes, each one
    * narrow pass over declared-schema reads (9 while every read inferred
    * its schema and the postings were a grouped count behind an
    * exchange; 5 while the embeddings were read back to be counted).
    */
  private val RunJobs = 4

  test("Ingestion.run runs in pinned jobs and writes postings without an exchange") {
    val out = Files.createTempDirectory("ingest-jobs").toString
    extractTo(out)
    val sc = spark.sparkContext
    val group = s"ingest-jobs-${System.nanoTime()}"
    val jobs = new AtomicInteger()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val planListener = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit = writes.add(qe)
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try {
      sc.setJobGroup(group, "ingestion guard")
      try Ingestion.run(spark, out) finally sc.clearJobGroup()
      ListenerBusDrain.drain(sc)
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
    assert(jobs.get() <= RunJobs, s"Ingestion.run ran ${jobs.get()} Spark jobs")

    val postingsWrites = writes.asScala.toSeq.filter(qe => qe.analyzed.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand if c.outputPath.getName == "postings" => c
    }.nonEmpty)
    assert(postingsWrites.length == 1, s"${postingsWrites.length} postings writes")
    val exchanges = collect(postingsWrites.head.executedPlan) { case e: ShuffleExchangeLike => e }
    assert(exchanges.isEmpty,
      s"postings write has an exchange:\n${postingsWrites.head.executedPlan.treeString}")
  }
}
