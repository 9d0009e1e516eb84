package graft

import graft.queries.RetrievalQueries
import graft.queries.Tables.t
import graft.retrieval.Retrieval
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The driver's first gate: the flagship query over the sf0.001 tables
  * returns rows, at most its top-k of 10. On a corpus where the keyword
  * query scores positive, its answer is the weighted RRF of both lists.
  */
class SparkEntrySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("SparkEntry.entry returns between 1 and 10 rows over sf0.001") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length >= 1 && rows.length <= 10, s"got ${rows.length} rows")
  }

  test("SparkEntry.entry fuses the positive keyword list with the vector list") {
    import spark.implicits._
    val dir = Files.createTempDirectory("spark-entry").toString
    RareTermsCorpus.write(spark, dir, RetrievalQueries.KeywordQuery.split(" ").toSeq)
    val docs = t(spark, dir, "documents")
    val vector = docs.select(col("doc_id"),
        (pmod(xxhash64(col("text")), lit(10000)) / 10000.0).as("score"))
      .as[(Long, Double)].collect().toSeq
    val keyword = Retrieval.bm25Scores(docs, "doc_id", "text", RetrievalQueries.KeywordQuery)
      .select(col("doc_id"), col("score")).as[(Long, Double)].collect().toSeq
      .filter(_._2 > 0)

    // the fetch is 2 * topK per list; RRF adds w / (60 + 1-based rank)
    def top(xs: Seq[(Long, Double)]) = xs.sortBy { case (id, s) => (-s, id) }.take(20)
    def contributions(xs: Seq[(Long, Double)], w: Double) =
      top(xs).zipWithIndex.map { case ((id, _), r) => id -> w / (Retrieval.RrfK + r + 1) }
    val fused = (contributions(vector, Retrieval.VectorWeight) ++
      contributions(keyword, Retrieval.KeywordWeight)).groupMapReduce(_._1)(_._2)(_ + _)
    val want = fused.toSeq.sortBy { case (id, s) => (-s, id) }.take(10)
    assert(want.exists { case (id, _) => top(keyword).exists(_._1 == id) },
      "the keyword list reaches the top 10")

    val got = SparkEntry.entry(spark, dir).collect().toSeq
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("rrf_score")))
    assert(got.map(_._1) == want.map(_._1))
    got.zip(want).foreach { case ((id, g), (_, w)) => assert(math.abs(g - w) < 1e-12, s"doc $id") }
  }
}
