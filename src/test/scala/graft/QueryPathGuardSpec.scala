package graft

import graft.fixtures.TranscriptGen
import graft.pipeline.{ExtractionPipeline, Ingestion}
import graft.retrieval.{Bm25IndexTables, IvfPqIndex, PqIndex, QueryPipeline, VectorIndex}
import org.apache.spark.{CodegenCount, ListenerBusDrain}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Guards on the per-question plans of [[QueryPipeline.query]] and
  * [[QueryPipeline.queryExpanded]] over an unchanged store: the BM25
  * corpus scalars come from the snapshot memo, so a warm question scans
  * postings once (query terms pushed down), never scans doclens, and runs
  * a pinned number of Spark jobs; no question-dependent value is compiled
  * into generated code, so a warm question of the same shape compiles no
  * class; the expanded question is one variation-keyed plan whose shape
  * does not depend on the number of variations; and every query-path read
  * uses a declared schema that matches what the writers produce.
  */
class QueryPathGuardSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark

  /** Spark jobs of a warm hybrid question on this store, as counted once
    * the corpus scalars were memoized (it was 19 before, with a schema
    * inference per table read and the scalars aggregated per question,
    * and 6 while the answer took its own exchange after the content join).
    */
  private val WarmQueryJobs = 5

  /** Spark jobs of the first hybrid question after an `Ingestion.add`:
    * the warm plan plus the new snapshot's scalar aggregation (19 on this
    * store before the memo, as for every question then).
    */
  private val FirstQueryAfterAddJobs = 12

  /** Spark jobs of a warm expanded question (two expansions) on this
    * store. The per-variation plan it replaced ran 15.
    */
  private val WarmExpandedJobs = 10

  /** Spark jobs of a warm hybrid question on a store with an IVF index:
    * the centroids collect plus the exact store's plan. Inferring the two
    * index tables' schemas on every question cost two more.
    */
  private val WarmIvfQueryJobs = 7

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

  /** The store's 27 most frequent terms, most frequent first. */
  private lazy val terms: Seq[String] =
    spark.read.parquet(Bm25IndexTables.postingsDir(Ingestion.indexDir(outDir)))
      .groupBy("term").count().orderBy(desc("count"), col("term"))
      .select("term").limit(27).collect().map(_.getString(0)).toSeq

  /** Question `i`: three distinct corpus terms, different for each `i`.
    * The `term IN (…)` pushdown filter is generated per list length, so
    * questions of one term count share their classes.
    */
  private def q(i: Int): String = terms.slice(3 * i, 3 * i + 3).mkString(" ")

  private lazy val question: String = q(0)

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
    val store = extract(0 until 12)
    Ingestion.run(spark, store)
    Ingestion.buildVectorIndex(spark, store)
    Ingestion.buildPqIndex(spark, store, ks = 16)
    Ingestion.buildIvfPqIndex(spark, store, ks = 16)
    def assertStored(root: String, table: String): Unit = {
      val dir = graft.pipeline.VersionedDir.tableDir(root, table)
      assert(VectorIndex.storedSchema(spark, root, table) == spark.read.parquet(dir).schema, dir)
    }
    val ivf = VectorIndex.indexRoot(store)
    assertSubset(VectorIndex.CentroidsSchema, VectorIndex.centroidsDir(ivf))
    assertStored(ivf, "assignments")
    val pq = PqIndex.indexRoot(store)
    assertSubset(PqIndex.BooksSchema, PqIndex.codebooksDir(pq))
    assertStored(pq, "codes")
    val ivfPq = IvfPqIndex.indexRoot(store)
    assertSubset(VectorIndex.CentroidsSchema, IvfPqIndex.centroidsDir(ivfPq))
    assertSubset(PqIndex.BooksSchema, IvfPqIndex.codebooksDir(ivfPq))
    assertStored(ivfPq, "codes")
  }

  test("a warm question on an IVF store reads the index without schema inference, in pinned jobs") {
    val store = extract(0 until 20)
    Ingestion.run(spark, store)
    Ingestion.buildVectorIndex(spark, store)
    QueryPipeline.query(spark, store, question).collect()
    val (_, jobs) = countJobs(QueryPipeline.query(spark, store, q(1)).collect())
    assert(jobs <= WarmIvfQueryJobs, s"warm IVF question ran $jobs Spark jobs")
  }

  private def expanded(i: Int, nExpansions: Int = 2): DataFrame =
    QueryPipeline.queryExpanded(spark, outDir, q(i), (1 to nExpansions).map(j => q(i + j)))

  test("a warm question with different text compiles no class") {
    QueryPipeline.query(spark, outDir, q(0)).collect()
    QueryPipeline.query(spark, outDir, q(1)).collect()
    val (_, compiled) = CodegenCount.during(QueryPipeline.query(spark, outDir, q(2)).collect())
    assert(compiled == 0, s"a warm question compiled $compiled classes")
  }

  test("a warm expanded question with different texts compiles no class, in pinned jobs") {
    expanded(0).collect()
    val ((_, jobs), compiled) = CodegenCount.during(countJobs(expanded(3).collect()))
    assert(compiled == 0, s"a warm expanded question compiled $compiled classes")
    assert(jobs <= WarmExpandedJobs, s"warm expanded question ran $jobs Spark jobs")
  }

  test("a warm question on another index snapshot compiles no class") {
    val small = extract(0 until 8)
    Ingestion.run(spark, small)
    Seq(small, outDir).foreach(s => Bm25IndexTables.snapshot(spark, Ingestion.indexDir(s)))
    QueryPipeline.query(spark, outDir, question).collect()
    QueryPipeline.query(spark, outDir, question).collect()
    val (_, compiled) = CodegenCount.during(QueryPipeline.query(spark, small, question).collect())
    assert(compiled == 0, s"a question on the other snapshot compiled $compiled classes")
  }

  /** Runs `f`; returns the nodes of every plan it executed — AQE stages,
    * subqueries and cached relations included — so a plan split over a
    * persist or a checkpoint counts whole.
    */
  private def executedNodes(f: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { f; ListenerBusDrain.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    def all(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) {
      case m: InMemoryTableScanExec => m +: all(m.relation.cachedPlan)
      case n => Seq(n)
    }.flatten
    plans.asScala.toSeq.flatMap(all)
  }

  test("the expanded plan's shape does not depend on the number of variations") {
    def shape(nExpansions: Int) = {
      val ns = executedNodes(expanded(6, nExpansions).collect())
      val embeddingScans = ns.count {
        case s: FileSourceScanExec =>
          s.relation.location.rootPaths.exists(_.toString.endsWith("/embeddings"))
        case _ => false
      }
      (ns.count(_.isInstanceOf[FileSourceScanExec]),
        ns.count(_.isInstanceOf[ShuffleExchangeLike]),
        ns.count(_.isInstanceOf[BroadcastExchangeLike]),
        embeddingScans)
    }
    val (two, three) = (shape(1), shape(2))
    assert(two == three, s"(scans, shuffles, broadcasts, embeddings scans): V=2 $two, V=3 $three")
    assert(three._4 <= 2, s"the embeddings table is scanned ${three._4} times")
  }

  test("a partial WindowGroupLimit sits below each per-variation exchange") {
    val byV = executedNodes(expanded(6).collect()).collect {
      case e: ShuffleExchangeLike if (e.outputPartitioning match {
        case HashPartitioning(Seq(a: Attribute), _) => a.name == "v"
        case _ => false
      }) => e
    }
    // the vector and the keyword top lists; the weighted RRF and the
    // vrank cut reuse their partitioning, the rerank is one partition
    assert(byV.length == 2, s"expected two per-variation exchanges, found ${byV.length}")
    byV.foreach { e =>
      assert(e.child match {
        case w: WindowGroupLimitExec => w.mode == Partial
        case _ => false
      }, s"no partial WindowGroupLimit below:\n${e.treeString.take(1500)}")
    }
  }
}
