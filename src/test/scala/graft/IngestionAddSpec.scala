package graft

import graft.fixtures.TranscriptGen
import graft.model.Turn
import graft.pipeline.{ExtractionPipeline, Ingestion}
import graft.retrieval.{Bm25IndexTables, QueryPipeline}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Incremental ingestion — the reference's per-upload lifecycle
  * (`document_service.py:173-355`) — must be CONTENT-equivalent to a
  * batch rebuild: a store built from corpus A then `Ingestion.add`-ed
  * corpus B carries exactly the chunks, embeddings and BM25 index rows of
  * one build over A ∪ B, the extended index still validates and scores,
  * and the next question reads the added chunks (read-your-writes).
  */
class IngestionAddSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val NBuckets = 4

  private def extract(turns: Seq[Turn]): String = {
    import spark.implicits._
    val out = Files.createTempDirectory("ingadd").toString
    ExtractionPipeline.run(spark, spark.createDataset(turns),
      ExtractionPipeline.Config(out, nBuckets = NBuckets, waves = 1, resume = false))
    out
  }

  private def convs(range: Range): Seq[Turn] =
    range.flatMap(i => TranscriptGen.conversation(7L, i.toLong))

  private def extractConvs(range: Range): String = extract(convs(range))

  /** A token no generated conversation holds, and a turn of only it. */
  private val Token = "zqxreadback"
  private val tokenTurn =
    convs(9 until 10).last.copy(turn_idx = 10000, role = "user", text = s"$Token $Token $Token", tool = "")

  /** Store over A (convs 0-5) with B (convs 6-9 plus [[tokenTurn]])
    * added, and the batch store over A ∪ B.
    */
  private lazy val (added, batch) = {
    val store = extractConvs(0 until 6)
    Ingestion.run(spark, store)
    Ingestion.add(spark, store, extract(convs(6 until 10) :+ tokenTurn))
    val all = extract(convs(0 until 10) :+ tokenTurn)
    Ingestion.run(spark, all)
    (store, all)
  }

  private def tableRows(dir: String): Seq[String] = sortedRows(spark.read.parquet(dir))

  /** [[tableRows]] with the columns in name order, so a table whose files
    * were rewritten in a different column order still compares equal.
    */
  private def namedRows(dir: String): Seq[String] = {
    val df = spark.read.parquet(dir)
    sortedRows(df.select(df.columns.sorted.map(df.col): _*))
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("add-ing new conversations equals a batch build over the union") {
    import spark.implicits._

    // store over A (convs 0-5), staging pipeline output for B (convs 6-9)
    val storeA = extractConvs(0 until 6)
    Ingestion.run(spark, storeA)
    val stagingB = extractConvs(6 until 10)
    val added = Ingestion.add(spark, storeA, stagingB)
    assert(added > 0, "staging corpus produced chunks")

    // reference batch store over A ∪ B
    val storeAll = extractConvs(0 until 10)
    Ingestion.run(spark, storeAll)

    // embeddings content identical (vectors compared through their values)
    def embRows(out: String): Seq[(String, Int, Int, Seq[Float])] =
      spark.read.parquet(Ingestion.embeddingsDir(out))
        .select("conv_id", "turn_idx", "chunk_index", "embedding")
        .as[(String, Int, Int, Seq[Float])].collect().sortBy(r => (r._1, r._2, r._3)).toSeq
    assert(embRows(storeA) == embRows(storeAll),
      "incremental embeddings == batch embeddings")

    // index contents identical
    assert(
      sortedRows(spark.read.parquet(Bm25IndexTables.doclensDir(Ingestion.indexDir(storeA)))) ==
      sortedRows(spark.read.parquet(Bm25IndexTables.doclensDir(Ingestion.indexDir(storeAll)))))
    assert(
      sortedRows(spark.read.parquet(Bm25IndexTables.postingsDir(Ingestion.indexDir(storeA)))) ==
      sortedRows(spark.read.parquet(Bm25IndexTables.postingsDir(Ingestion.indexDir(storeAll)))))

    // the extended index still validates, and scoring reaches B's chunks
    val (ok, msg) = Bm25IndexTables.validate(spark, Ingestion.indexDir(storeA), "chunk_id")
    assert(ok, msg)
    val bChunk = spark.read
      .parquet(Bm25IndexTables.doclensDir(Ingestion.indexDir(storeA)))
      .filter(org.apache.spark.sql.functions.col("chunk_id").startsWith("conv-000006:"))
    assert(bChunk.count() > 0, "added conversations are in the index")
  }

  test("add is additive only — pre-existing rows are untouched") {
    import org.apache.spark.sql.functions._
    val store = extractConvs(0 until 5)
    Ingestion.run(spark, store)
    val before = sortedRows(
      spark.read.parquet(Ingestion.embeddingsDir(store))).toSet
    val staging = extractConvs(5 until 8)
    Ingestion.add(spark, store, staging)
    val after = sortedRows(spark.read.parquet(Ingestion.embeddingsDir(store))).toSet
    assert(before.subsetOf(after), "existing embeddings survive the add byte-identically")
    val newConvs = spark.read.parquet(Ingestion.embeddingsDir(store))
      .select("conv_id").distinct()
      .filter(col("conv_id") >= "conv-000005").count()
    assert(newConvs == 3)
  }

  test("add appends the chunks: the store's chunks rows equal the batch build's") {
    assert(tableRows(ExtractionPipeline.chunksDir(added)) ==
      tableRows(ExtractionPipeline.chunksDir(batch)))
  }

  test("a question right after add finds the added chunk first, with its content") {
    val top = QueryPipeline.query(spark, added, Token, topK = 3).collect()
    assert(top.nonEmpty, "the question found nothing")
    assert(top.head.getAs[String]("content").contains(Token),
      s"added chunk not first: ${top.map(_.getAs[String]("chunk_id")).mkString(", ")}")
    assert(top.head.getAs[String]("conv_id") == tokenTurn.conv_id)
  }

  test("re-running Ingestion.run after add rebuilds the batch store's tables") {
    val store = extractConvs(0 until 6)
    Ingestion.run(spark, store)
    Ingestion.add(spark, store, extract(convs(6 until 10) :+ tokenTurn))
    Ingestion.run(spark, store)
    Seq(Ingestion.embeddingsDir(_: String),
      (d: String) => Bm25IndexTables.doclensDir(Ingestion.indexDir(d)),
      (d: String) => Bm25IndexTables.postingsDir(Ingestion.indexDir(d))).foreach { dir =>
      assert(tableRows(dir(store)) == tableRows(dir(batch)), dir(store))
    }
  }

  test("delete then add of a conversation returns its chunks once and rebuilds to the batch store") {
    val store = extractConvs(0 until 6)
    Ingestion.run(spark, store)
    Ingestion.add(spark, store, extract(convs(6 until 10) :+ tokenTurn))
    Ingestion.delete(spark, store, Seq(tokenTurn.conv_id))
    Ingestion.add(spark, store, extract(convs(9 until 10) :+ tokenTurn))

    val top = QueryPipeline.query(spark, store, Token, topK = 5).collect()
      .map(r => (r.getAs[String]("chunk_id"), r.getAs[String]("content")))
    assert(top.headOption.exists(_._2.contains(Token)), top.map(_._1).mkString(", "))
    assert(top.count(_._2.contains(Token)) == 1 && top.map(_._1).distinct.length == top.length,
      s"a re-added chunk came back more than once: ${top.map(_._1).mkString(", ")}")

    Ingestion.run(spark, store)
    Seq(ExtractionPipeline.chunksDir(_: String), Ingestion.embeddingsDir(_: String),
      (d: String) => Bm25IndexTables.doclensDir(Ingestion.indexDir(d)),
      (d: String) => Bm25IndexTables.postingsDir(Ingestion.indexDir(d))).foreach { dir =>
      assert(namedRows(dir(store)) == namedRows(dir(batch)), dir(store))
    }
  }
}
