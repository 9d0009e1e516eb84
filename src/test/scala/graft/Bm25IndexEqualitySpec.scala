package graft

import graft.retrieval.Bm25IndexTables
import graft.text.Tokenizer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.util.Random

/** The BM25 index tables that [[Bm25IndexTables.build]] writes — one
  * narrow pass per table: `graft_tokenize`, then each document's
  * `graft_term_counts` inlined — equal, row for row, the tables of the
  * plan they replaced, kept here as the oracle: a built-in-function
  * tokenizer (`regexp_replace`/`split` with `(?U)` classes, two `filter`
  * lambdas, a stop-word `array_contains`) and postings grouped by
  * `(id, dl, term)` behind an exchange.
  */
class Bm25IndexEqualitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val stopArray = typedLit(Tokenizer.StopWords.toSeq.sorted)

  private def oracleTokens(c: Column): Column = {
    val cleaned = regexp_replace(lower(c), "(?U)[^\\w\\s]", " ")
    val all = filter(split(cleaned, "(?U)\\s+"), t => t =!= "")
    val kept = filter(all, t =>
      length(t) >= Tokenizer.MinTokenLength && !array_contains(stopArray, t))
    when(size(kept) === 0, all).otherwise(kept)
  }

  /** The oracle's `(doclens, postings)` of `docs(id, text)`. */
  private def oracleTables(docs: DataFrame): (DataFrame, DataFrame) = {
    val toks = docs.select(col("id"), oracleTokens(col("text")).as("tokens"))
      .withColumn("dl", size(col("tokens")))
    (toks.select(col("id"), col("dl")),
      toks.select(col("id"), col("dl"), explode(col("tokens")).as("term"))
        .groupBy(col("id"), col("dl"), col("term"))
        .agg(count(lit(1)).as("tf")))
  }

  private def sameRows(label: String, got: DataFrame, want: DataFrame): Unit = {
    val g = got.select(want.columns.map(col): _*)
    assert(g.count() == want.count(), s"$label: row counts differ")
    val extra = g.exceptAll(want).collect()
    val missing = want.exceptAll(g).collect()
    assert(extra.isEmpty && missing.isEmpty,
      s"$label: extra ${extra.take(5).mkString(", ")}; missing ${missing.take(5).mkString(", ")}")
  }

  /** Builds the index over `texts` (id = position) and compares both
    * tables with the oracle's.
    */
  private def assertEqualIndex(texts: Seq[String]): Unit = {
    import spark.implicits._
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val dir = Files.createTempDirectory("bm25eq").toString
    Bm25IndexTables.build(docs, "id", "text", dir)
    val (doclens, postings) = oracleTables(docs)
    sameRows("doclens", spark.read.parquet(Bm25IndexTables.doclensDir(dir)), doclens)
    sameRows("postings", spark.read.parquet(Bm25IndexTables.postingsDir(dir)), postings)
  }

  private val Words = Vector("spark", "Shuffle", "JOIN", "łódź", "data", "x",
    "partition", "42", "e.g", "Dr", "ZAŻÓŁĆ", "the", "of", "and", "is", "a",
    "café", "naïve", "数据", "𝔘𝔫𝔦", "𝑥", "𠀀", "🙂", "don't", "co-op", "_id", "ǅemal")
  private val Glue = Vector(" ", "  ", ". ", "! ", "? ", ".\n", "\n", "\t",
    "... ", ".", "", " . ", ", ", " ", "—", "(", ")")

  private def randomText(r: Random): String = {
    val sb = new StringBuilder
    (0 until r.nextInt(120)).foreach { _ =>
      sb.append(Words(r.nextInt(Words.length)))
      sb.append(Glue(r.nextInt(Glue.length)))
    }
    sb.toString
  }

  test("random texts: doclens and postings equal the grouped plan's (300 docs)") {
    val r = new Random(20261019L)
    assertEqualIndex((0 until 300).map(_ => randomText(r)))
  }

  test("named cases: repeats, stop-word fallback, zero tokens, null, non-ASCII, one-letter astral") {
    assertEqualIndex(Seq(
      "spark spark SPARK shuffle spark, Shuffle!",
      "spark spark",
      "the of and a is",
      "!!! ... ,,, ?",
      "",
      null,
      "łódź ZAŻÓŁĆ café naïve 数据 データ",
      "𝔘𝔫𝔦𝔠𝔬𝔡𝔢 🙂 𐐀𐐨 astral 𝔘𝔫𝔦𝔠𝔬𝔡𝔢",
      "𝑥 spark 𠀀 data",
      "𝑥 𠀀"))
  }
}
