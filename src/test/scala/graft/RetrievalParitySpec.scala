package graft

import graft.retrieval.Retrieval
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RetrievalParitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def approxEq(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  test("column tokenizer matches the reference tokenizer goldens") {
    val cases = Golden.elems(Golden.load("tokenizer_cases.json"))
    val df = cases.map(c => Tuple1(c.get("text").asText())).toDF("text")
      .withColumn("tokens", Retrieval.tokenizeCol(col("text")))
    val got = df.select("tokens").as[Seq[String]].collect().toVector
    cases.zip(got).foreach { case (c, toks) =>
      assert(toks == Golden.strings(c.get("tokens")),
        s"tokens for [${c.get("text").asText()}]")
    }
  }

  test("BM25 scores and top-k match the reference (rank_bm25 Okapi math)") {
    val root = Golden.load("bm25_cases.json")
    val corpus = Golden.elems(root.get("corpus"))
      .map(c => (c.get("id").asText(), c.get("text").asText()))
    val docs = corpus.toDF("chunk_id", "text")
    Golden.elems(root.get("cases")).foreach { c =>
      val k1 = c.get("k1").asDouble(); val b = c.get("b").asDouble()
      val query = c.get("query").asText()
      val got = Retrieval.bm25Scores(docs, "chunk_id", "text", query, k1, b)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val expected = Golden.fields(c.get("scores"))
        .map { case (k, v) => k -> v.asDouble() }.toMap
      expected.foreach { case (id, exp) =>
        val actual = got.getOrElse(id, 0.0)
        assert(approxEq(actual, exp),
          s"[$query k1=$k1] score($id): got $actual want $exp")
      }
      // top-k search semantics: score > 0 filter then desc order
      val gotTop = Retrieval.withRank(
        Retrieval.bm25Scores(docs, "chunk_id", "text", query, k1, b)
          .filter(col("score") > 0), "chunk_id", "score")
        .orderBy(col("rank")).limit(4)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toVector
      val expTop = Golden.elems(c.get("topk"))
        .map(e => (e.get(0).asText(), e.get(1).asDouble()))
      assert(gotTop.map(_._1) == expTop.map(_._1), s"[$query] top-k ids")
      gotTop.zip(expTop).foreach { case ((_, ga), (_, ea)) =>
        assert(approxEq(ga, ea), s"[$query] top-k scores")
      }
    }
  }

  test("BM25 of a query with no terms is a typed (id, score) frame with no rows") {
    val docs = Seq((7L, "spark join scan"), (8L, "table")).toDF("doc_id", "text")
    val got = Retrieval.bm25Scores(docs, "doc_id", "text", "  ?! ")
    assert(got.columns.toSeq == Seq("doc_id", "score"))
    assert(got.schema("doc_id").dataType == org.apache.spark.sql.types.LongType)
    assert(got.schema("score").dataType == org.apache.spark.sql.types.DoubleType)
    assert(got.collect().isEmpty)
  }

  test("weighted RRF matches the reference") {
    Golden.elems(Golden.load("rrf_cases.json")).foreach { c =>
      val lists = Golden.elems(c.get("lists")).map(Golden.strings)
      val weights =
        if (c.get("weights").isNull) lists.map(_ => 1.0)
        else Golden.elems(c.get("weights")).map(_.asDouble())
      val dfs = lists.map { l =>
        // synthesize a ranked list: score = descending so rank order == list order
        l.zipWithIndex.map { case (id, i) => (id, (l.size - i).toDouble) }
          .toDF("chunk_id", "score")
      }
      val nonEmpty = dfs.zip(weights).filter(_._1.head(1).nonEmpty)
      val got = Retrieval.rrfFuse(nonEmpty, "chunk_id", "score")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val expected = Golden.fields(c.get("scores"))
        .map { case (k, v) => k -> v.asDouble() }.toMap
      assert(got.keySet == expected.keySet, s"[${c.get("id").asText()}] ids")
      expected.foreach { case (id, exp) =>
        assert(approxEq(got(id), exp), s"[${c.get("id").asText()}] rrf($id)")
      }
    }
  }

  test("min-max normalization: [0,1] range and all-equal -> 1.0") {
    val df = Seq(("a", 2.0), ("b", 4.0), ("c", 6.0)).toDF("id", "score")
    val got = Retrieval.minMaxNormalize(df, "score", "norm")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got == Map("a" -> 0.0, "b" -> 0.5, "c" -> 1.0))
    val same = Seq(("a", 3.0), ("b", 3.0)).toDF("id", "score")
    val got2 = Retrieval.minMaxNormalize(same, "score", "norm")
      .collect().map(_.getDouble(2)).toVector
    assert(got2 == Vector(1.0, 1.0))
  }

  test("first-wins dedup keeps the highest-priority row per id") {
    val df = Seq(
      ("c1", 0, "vector"), ("c1", 1, "keyword"),
      ("c2", 1, "keyword"), ("c3", 0, "vector"), ("c3", 0, "vector2")
    ).toDF("chunk_id", "priority", "src")
    val got = Retrieval.firstWinsDedup(df, "chunk_id", col("priority"), col("src"))
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(got == Map("c1" -> "vector", "c2" -> "keyword", "c3" -> "vector"))
  }

  test("hybrid search fuses vector and keyword lists through the funnel") {
    val root = Golden.load("bm25_cases.json")
    val corpus = Golden.elems(root.get("corpus"))
      .map(c => (c.get("id").asText(), c.get("text").asText()))
    val docs = corpus.toDF("chunk_id", "text")
    // deterministic stand-in vector scores (hash-derived, per SURVEY §7.3)
    val vec = docs.select(col("chunk_id"),
      (pmod(xxhash64(col("text")), lit(1000)) / 1000.0).as("score"))
    val got = Retrieval.hybridSearch(vec, docs, "chunk_id", "text",
      "spark join", topK = 5)
    val rows = got.collect()
    assert(rows.length == 5)
    val scores = rows.map(_.getDouble(1)).toVector
    assert(scores == scores.sorted.reverse, "descending rrf scores")
    assert(scores.forall(s => s > 0))
  }
}
