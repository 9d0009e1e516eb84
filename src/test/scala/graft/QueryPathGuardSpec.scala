package graft

import graft.fixtures.TranscriptGen
import graft.pipeline.{ExtractionPipeline, Ingestion}
import graft.retrieval.{Bm25IndexTables, QueryPipeline}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** Guards on the per-question plan of [[QueryPipeline.query]] over an
  * unchanged store: the BM25 corpus scalars come from the snapshot memo,
  * so a warm question scans postings once (query terms pushed down),
  * never scans doclens, and runs a pinned number of Spark jobs; and every
  * query-path read uses a declared schema that matches what the writers
  * produce.
  */
class QueryPathGuardSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark

  /** Spark jobs of a warm hybrid question on this store, as counted once
    * the corpus scalars were memoized (it was 19 before, with a schema
    * inference per table read and the scalars aggregated per question).
    */
  private val WarmQueryJobs = 6

  /** Spark jobs of the first hybrid question after an `Ingestion.add`:
    * the warm plan plus the new snapshot's scalar aggregation (19 on this
    * store before the memo, as for every question then).
    */
  private val FirstQueryAfterAddJobs = 12

  private def extract(convs: Range): String = {
    import spark.implicits._
    val out = Files.createTempDirectory("qpguard").toString
    val turns = spark.createDataset(
      convs.flatMap(i => TranscriptGen.conversation(11L, i.toLong)))
    ExtractionPipeline.run(spark, turns,
      ExtractionPipeline.Config(out, nBuckets = 4, waves = 1, resume = false))
    out
  }

  private lazy val outDir: String = {
    val out = extract(0 until 20)
    Ingestion.run(spark, out)
    out
  }

  private lazy val question: String =
    spark.read.parquet(Bm25IndexTables.postingsDir(Ingestion.indexDir(outDir)))
      .groupBy("term").count().orderBy(desc("count"), col("term"))
      .select("term").limit(3).collect().map(_.getString(0)).mkString(" ")

  /** Runs `f` under its own job group; returns its result and job count. */
  private def countJobs[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"qpguard-${System.nanoTime()}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "query-path guard")
      val r = try f finally sc.clearJobGroup()
      ListenerBusDrain.drain(sc)
      (r, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  private def scans(df: DataFrame, table: String): Seq[FileSourceScanExec] =
    collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.endsWith(s"/$table")) => s
    }

  test("a warm question scans postings once by its terms, never doclens, in pinned jobs") {
    assert(question.split(" ").distinct.length == 3, s"fixture: three terms, got '$question'")
    QueryPipeline.query(spark, outDir, question).collect() // fills the snapshot memo

    val (answer, jobs) = countJobs {
      val df = QueryPipeline.query(spark, outDir, question)
      df.collect()
      df
    }
    val post = scans(answer, "postings")
    assert(post.length == 1, s"postings scanned ${post.length} times")
    val pushed = post.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("In(term,"), s"query terms not pushed down: $pushed")
    assert(scans(answer, "doclens").isEmpty, "a warm question must not read doclens")
    assert(jobs <= WarmQueryJobs, s"warm question ran $jobs Spark jobs")
  }

  test("the first question after an add re-aggregates the scalars in pinned jobs") {
    val store = extract(0 until 20)
    Ingestion.run(spark, store)
    QueryPipeline.query(spark, store, question).collect()
    Ingestion.add(spark, store, extract(20 until 24))

    val (_, firstJobs) = countJobs(QueryPipeline.query(spark, store, question).collect())
    val (_, warmJobs) = countJobs(QueryPipeline.query(spark, store, question).collect())
    assert(firstJobs <= FirstQueryAfterAddJobs, s"first question after add ran $firstJobs Spark jobs")
    assert(warmJobs <= WarmQueryJobs, s"second question after add ran $warmJobs Spark jobs")
  }

  test("query answers keep their order through the one-partition final sort") {
    val rows = QueryPipeline.query(spark, outDir, question).collect()
    val keys = rows.map(r => (-r.getAs[Double]("rrf_score"), r.getAs[String]("chunk_id"))).toSeq
    assert(rows.nonEmpty && keys == keys.sorted)
    val expanded = QueryPipeline.queryExpanded(spark, outDir, question,
      Seq("table output", "assistant code")).collect()
    val eKeys = expanded.map(r =>
      (-r.getAs[Double]("rrf_score"), r.getAs[String]("chunk_id"))).toSeq
    assert(expanded.nonEmpty && eKeys == eKeys.sorted)
  }

  test("declared read schemas are a subset of what the writers produce") {
    def assertSubset(declared: StructType, dir: String): Unit = {
      val written = spark.read.parquet(dir).schema
      declared.fields.foreach { f =>
        assert(written.fieldNames.contains(f.name), s"$dir has no column ${f.name}")
        assert(written(f.name).dataType == f.dataType,
          s"$dir: ${f.name} is ${written(f.name).dataType}, declared ${f.dataType}")
      }
    }
    assertSubset(ExtractionPipeline.ChunksReadSchema, ExtractionPipeline.chunksDir(outDir))
    assertSubset(Ingestion.EmbeddingsReadSchema, Ingestion.embeddingsDir(outDir))
    assertSubset(Bm25IndexTables.postingsReadSchema("chunk_id", StringType),
      Bm25IndexTables.postingsDir(Ingestion.indexDir(outDir)))
  }
}
