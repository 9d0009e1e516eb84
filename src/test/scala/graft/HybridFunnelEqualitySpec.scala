package graft

import graft.queries.{RetrievalQueries, Rounding}
import graft.queries.Tables.t
import graft.retrieval.Retrieval
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** `q_hybrid_funnel` is one plan keyed by the variation number `v`;
  * [[PerVariationFunnel]] is the per-variation form it replaced — one
  * vector list, one keyword list and one weighted RRF per variation,
  * first-wins dedup over their union, and one rerank ranking per
  * variation. Both must return the same rows. The TESTDATA corpora's
  * vocabulary is so small that every BM25 score is negative, so their
  * keyword lists are empty; a corpus whose variation terms are rare
  * gives each variation a keyword list.
  */
class HybridFunnelEqualitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def rows(rs: Seq[Row]): Seq[(Long, Double)] =
    rs.map(r => (r.getAs[Number]("doc_id").longValue, r.getAs[Double]("fused")))

  private def assertSameRows(dir: String): Unit = {
    val got = rows(RetrievalQueries.queries("q_hybrid_funnel")(spark, dir).collect().toSeq)
    val want = rows(PerVariationFunnel(spark, dir))
    assert(want.size == 10)
    assert(got == want)
  }

  Seq("sf0.001", "sf0.01").foreach { sf =>
    test(s"$sf: the keyed funnel returns the per-variation funnel's rows") {
      assertSameRows(s"/root/testdata/$sf")
    }
  }

  test("rare variation terms: the keyed funnel returns the per-variation funnel's rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("hybrid-funnel").toString
    val terms = PerVariationFunnel.Variations.flatMap(_.split(" "))
    val docs = (0L until 240L).map { i =>
      val filler = (0 until 6).map(j => s"w${(i * 7 + j * 13) % 61}")
      val rare = terms.zipWithIndex.collect {
        case (term, k) if i % (5 + k) == 0 => Seq.fill(1 + (i % 3).toInt)(term).mkString(" ")
      }
      (i, (filler ++ rare).mkString(" "))
    }.toDF("doc_id", "text")
    docs.write.parquet(s"$dir/documents.parquet")
    val positive = Retrieval.bm25ScoresFromIndex(
        Retrieval.postings(docs, "doc_id", "text"), Retrieval.corpusStats(docs, "doc_id", "text"),
        "doc_id", PerVariationFunnel.Variations.zipWithIndex.map(_.swap))
      .filter(col("score") > 0).select("v").distinct().count()
    assert(positive == 3, "every variation has a keyword list")
    assertSameRows(dir)
  }
}

/** `q_hybrid_funnel` as it was before the variation-keyed plan, kept as
  * the equality oracle; its collected rows, with its persisted frames
  * released.
  */
object PerVariationFunnel {
  val Variations = Seq(RetrievalQueries.KeywordQuery,
    "partition shuffle stream batch", "filter index merge sort")
  private val PerSourceFetch = 40
  private val PerVariationCut = 20
  private val FinalTopK = 10

  private def vecScore(v: Int) =
    pmod(col("doc_id") * (97 + v), lit(1009)) / 1009.0

  def apply(s: SparkSession, dir: String): Seq[Row] = {
    val docs = t(s, dir, "documents")
    val kwAll = Retrieval.bm25ScoresFromIndex(
      Retrieval.postings(docs, "doc_id", "text"), Retrieval.corpusStats(docs, "doc_id", "text"),
      "doc_id", Variations.zipWithIndex.map(_.swap)).persist()
    val hybrids = Variations.indices.map { v =>
      val vec = docs.select(col("doc_id"), vecScore(v).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc).limit(PerSourceFetch)
      val kw = kwAll.filter(col("v") === v).select("doc_id", "score")
        .filter(col("score") > 0)
        .orderBy(col("score").desc, col("doc_id").asc).limit(PerSourceFetch)
      Retrieval.rrfFuse(Seq(vec -> Retrieval.VectorWeight, kw -> Retrieval.KeywordWeight),
          "doc_id", "score")
        .orderBy(col("rrf_score").desc, col("doc_id").asc).limit(PerVariationCut)
        .withColumn("v", lit(v))
        .withColumn("vrank",
          row_number().over(Window.partitionBy(lit(1))
            .orderBy(col("rrf_score").desc, col("doc_id").asc)))
    }
    val deduped = Retrieval.firstWinsDedup(
      hybrids.reduce(_ unionByName _).select("doc_id", "v", "vrank"),
      "doc_id", col("v").asc, col("vrank").asc).persist()
    val ceAll = kwAll.select(col("v"), col("doc_id"), col("tf_sum").as("ce"))
    val rankings = Variations.indices.map { v =>
      deduped.select("doc_id")
        .join(ceAll.filter(col("v") === v).select("doc_id", "ce"), Seq("doc_id"), "left")
        .na.fill(0, Seq("ce"))
        .select(col("doc_id"), col("ce").cast("double").as("score"))
        .orderBy(col("score").desc, col("doc_id").asc).limit(FinalTopK)
    }
    try Retrieval.rrfFuse(rankings.map(_ -> 1.0), "doc_id", "score")
      .select(col("doc_id"), Rounding.r(col("rrf_score"), 6).as("fused"))
      .orderBy(col("fused").desc, col("doc_id").asc)
      .limit(FinalTopK)
      .collect().toSeq
    finally { deduped.unpersist(); kwAll.unpersist() }
  }
}
