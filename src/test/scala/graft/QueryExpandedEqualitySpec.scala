package graft

import graft.fixtures.TranscriptGen
import graft.pipeline.{ExtractionPipeline, Ingestion}
import graft.retrieval.{Bm25IndexTables, IvfPqIndex, PqIndex, QueryPipeline, Retrieval, VectorIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}

/** [[QueryPipeline.queryExpanded]] is one plan keyed by the variation
  * number; [[PerVariationOracle]] is the per-variation form it replaced —
  * one vector source, one top list and one rerank ranking per variation,
  * unioned. Both must give the same answer on every store kind: the same
  * ids in the same order, the same content, and `rrf_score` within 1e-12
  * (the final RRF sums up to V contributions in another order).
  */
class QueryExpandedEqualitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val base: String = {
    import spark.implicits._
    val out = Files.createTempDirectory("qxeq").toString
    val turns = spark.createDataset(
      (0 until 30).flatMap(i => TranscriptGen.conversation(23L, i.toLong)))
    ExtractionPipeline.run(spark, turns,
      ExtractionPipeline.Config(out, nBuckets = 4, waves = 1, resume = false))
    Ingestion.run(spark, out)
    out
  }

  /** A copy of the ingested base store, so each index kind gets its own. */
  private def copyOf(src: String): String = {
    val dst = Files.createTempDirectory("qxeq-store")
    val from = Paths.get(src)
    val walk = Files.walk(from)
    try walk.forEach { p: Path =>
      val to = dst.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    } finally walk.close()
    dst.toString
  }

  private lazy val terms: Seq[String] =
    spark.read.parquet(Bm25IndexTables.postingsDir(Ingestion.indexDir(base)))
      .groupBy("term").count().orderBy(desc("count"), col("term"))
      .select("term").limit(9).collect().map(_.getString(0)).toSeq

  private def q(i: Int): String = terms.slice(3 * i, 3 * i + 3).mkString(" ")

  /** (label, question, expansions) */
  private def cases: Seq[(String, String, Seq[String])] = Seq(
    ("V = 1", q(0), Nil),
    ("V = 2", q(0), Seq(q(1))),
    ("V = 3", q(0), Seq(q(1), q(2))),
    ("duplicate expansions", q(0), Seq(q(0), q(1), q(1))),
    ("an expansion with no corpus term", q(0), Seq("zzxqv qqwzk vbnmx", q(2))))

  private def assertSameAnswers(store: String): Unit = {
    cases.foreach { case (label, question, expansions) =>
      val got = QueryPipeline.queryExpanded(spark, store, question, expansions).collect()
      val want = PerVariationOracle.queryExpanded(spark, store, question, expansions).collect()
      assert(got.nonEmpty, s"$label: empty answer")
      def ids(rs: Array[org.apache.spark.sql.Row]) = rs.map(_.getAs[String]("chunk_id")).toSeq
      assert(ids(got) == ids(want), s"$label: ids differ")
      got.zip(want).foreach { case (g, w) =>
        assert(math.abs(g.getAs[Double]("rrf_score") - w.getAs[Double]("rrf_score")) <= 1e-12,
          s"$label: ${g.getAs[String]("chunk_id")} ${g.getAs[Double]("rrf_score")} vs " +
            s"${w.getAs[Double]("rrf_score")}")
        assert(g.getAs[String]("content") == w.getAs[String]("content"), s"$label: content")
      }
    }
  }

  test("exact store: the keyed plan answers as the per-variation plan") {
    assertSameAnswers(base)
  }

  test("IVF store: the keyed plan answers as the per-variation plan") {
    val store = copyOf(base)
    Ingestion.buildVectorIndex(spark, store)
    assertSameAnswers(store)
  }

  test("PQ store: the keyed plan answers as the per-variation plan") {
    val store = copyOf(base)
    Ingestion.buildPqIndex(spark, store, ks = 16)
    assertSameAnswers(store)
  }

  test("IVF-PQ store: the keyed plan answers as the per-variation plan") {
    val store = copyOf(base)
    Ingestion.buildIvfPqIndex(spark, store, ks = 16)
    assertSameAnswers(store)
  }
}

/** `QueryPipeline.queryExpanded` as it was before the variation-keyed
  * plan, kept as the equality oracle: a vector source, a keyword top list
  * and a weighted RRF per variation, first-wins dedup over their union, a
  * persisted candidate pool, one rerank ranking per variation and an
  * unweighted RRF, materialized before the pool is released.
  */
object PerVariationOracle {
  private def chunkId = concat_ws(":",
    col("conv_id"), col("turn_idx"), col("chunk_index"))

  private def vecSource(spark: SparkSession, outDir: String,
      qv: Array[Float], nprobe: Int): DataFrame = {
    val emb = () => spark.read.schema(Ingestion.EmbeddingsReadSchema)
      .parquet(Ingestion.embeddingsDir(outDir))
      .select(chunkId.as("chunk_id"), col("embedding"))
    val base =
      if (VectorIndex.exists(VectorIndex.indexRoot(outDir)))
        VectorIndex.probe(spark, VectorIndex.indexRoot(outDir), qv, nprobe)
      else if (IvfPqIndex.exists(IvfPqIndex.indexRoot(outDir)))
        IvfPqIndex.rerank(spark, IvfPqIndex.indexRoot(outDir), qv, emb(),
          nprobe = nprobe, fetch = QueryPipeline.PqFetch, topK = QueryPipeline.PerSourceFetch)
      else if (PqIndex.exists(PqIndex.indexRoot(outDir)))
        PqIndex.rerank(spark, PqIndex.indexRoot(outDir), qv, emb(),
          fetch = QueryPipeline.PqFetch, topK = QueryPipeline.PerSourceFetch)
      else
        emb().select(col("chunk_id"),
          VectorIndex.dotColumn(qv, col("embedding")).as("score"))
    base.orderBy(desc("score"), col("chunk_id")).limit(QueryPipeline.PerSourceFetch)
  }

  def queryExpanded(spark: SparkSession, outDir: String, question: String,
      expansions: Seq[String], topK: Int = QueryPipeline.FinalTopK,
      dim: Int = Ingestion.DefaultDim,
      nprobe: Int = VectorIndex.DefaultNprobe): DataFrame = {
    val variations = (question +: expansions).distinct
    val kwAll = Bm25IndexTables.scoreMulti(spark, Ingestion.indexDir(outDir),
      variations.zipWithIndex.map(_.swap), "chunk_id")
    val perVariation = variations.zipWithIndex.map { case (q, v) =>
      val qv = Ingestion.hashedEmbedding(q, dim)
      val vec = vecSource(spark, outDir, qv, nprobe)
      val kw = kwAll.filter(col("v") === v).select("chunk_id", "score")
        .filter(col("score") > 0)
        .orderBy(desc("score"), col("chunk_id")).limit(QueryPipeline.PerSourceFetch)
      Retrieval.rrfFuse(
          Seq(vec -> Retrieval.VectorWeight, kw -> Retrieval.KeywordWeight),
          "chunk_id", "score")
        .orderBy(desc("rrf_score"), col("chunk_id")).limit(QueryPipeline.RerankFetch)
        .select(col("chunk_id"), lit(v).as("v"),
          (row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(lit(1))
            .orderBy(desc("rrf_score"), col("chunk_id")))).as("vrank"))
    }
    val deduped = Retrieval.firstWinsDedup(
      perVariation.reduce(_ unionByName _), "chunk_id",
      col("v").asc, col("vrank").asc)
    val candVecs = spark.read.schema(Ingestion.EmbeddingsReadSchema)
      .parquet(Ingestion.embeddingsDir(outDir))
      .select(chunkId.as("chunk_id"), col("embedding"))
      .join(broadcast(deduped.select("chunk_id")), "chunk_id")
      .persist()
    try {
      val rankings = variations.map { q =>
        val qv = Ingestion.hashedEmbedding(q, dim)
        candVecs.select(col("chunk_id"),
          VectorIndex.dotColumn(qv, col("embedding")).as("score"))
          .orderBy(desc("score"), col("chunk_id")).limit(QueryPipeline.FinalTopK)
      }
      val fused = Retrieval.rrfFuse(rankings.map(_ -> 1.0), "chunk_id", "score")
        .orderBy(desc("rrf_score"), col("chunk_id")).limit(topK)
      spark.read.schema(ExtractionPipeline.ChunksReadSchema)
        .parquet(ExtractionPipeline.chunksDir(outDir))
        .select(chunkId.as("chunk_id"), col("conv_id"), col("turn_idx"),
          col("chunk_index"), col("content"))
        .join(broadcast(fused), "chunk_id")
        .repartition(1)
        .sortWithinPartitions(desc("rrf_score"), col("chunk_id"))
        .localCheckpoint(true)
    } finally candVecs.unpersist()
  }
}
