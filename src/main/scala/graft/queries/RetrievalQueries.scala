package graft.queries

import graft.queries.BatteryHelpers.stopListSql
import graft.queries.Tables.t
import graft.retrieval.{QueryPipeline, Retrieval}
import graft.text.Tokenizer
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Retrieval-layer queries over the `documents` table with DuckDB oracles.
  * The oracle SQL is generated from the same constants (stoplist, BM25
  * params, RRF weights) as the Spark plans so the two can never drift.
  */
object RetrievalQueries {

  /** The fixed keyword query used by the BM25/hybrid battery. */
  val KeywordQuery = "spark join table scan"

  /** DuckDB expression computing the reference tokenizer (P1) with the
    * all-filtered fallback, as a CTE body over `documents`.
    */
  private val tokensCte =
    s"""toks AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(
       |      regexp_replace(lower(text), '[^\\w\\s]', ' ', 'g'), '\\s+'),
       |      x -> x <> '') AS alltoks
       |  FROM documents),
       |kept AS (
       |  SELECT doc_id,
       |    CASE WHEN len(list_filter(alltoks,
       |        x -> len(x) >= 2 AND NOT list_contains($stopListSql, x))) = 0
       |      THEN alltoks
       |      ELSE list_filter(alltoks,
       |        x -> len(x) >= 2 AND NOT list_contains($stopListSql, x))
       |    END AS tokens
       |  FROM toks)""".stripMargin

  /** DuckDB twin of the BM25 index ([[Retrieval.postings]],
    * [[Retrieval.corpusStats]], [[Retrieval.idfTable]]) over `documents`,
    * as CTEs: `stats` (n_docs, avgdl), `tf` (doc_id, dl, term, tf) and
    * `idf` (term, idf), after the tokens CTEs.
    */
  private val bm25IndexCtes =
    s"""$tokensCte,
       |stats AS (SELECT count(*) AS n_docs, avg(len(tokens)) AS avgdl FROM kept),
       |posting AS (
       |  SELECT doc_id, len(tokens) AS dl, unnest(tokens) AS term FROM kept),
       |tf AS (
       |  SELECT doc_id, dl, term, count(*) AS tf
       |  FROM posting GROUP BY 1, 2, 3),
       |dfreq AS (
       |  SELECT term, count(*) AS df,
       |    ln((SELECT n_docs FROM stats) - count(*) + 0.5) - ln(count(*) + 0.5) AS idf_raw
       |  FROM tf GROUP BY 1),
       |idf AS (
       |  SELECT term,
       |    CASE WHEN idf_raw < 0
       |      THEN 0.25 * (SELECT avg(idf_raw) FROM dfreq)
       |      ELSE idf_raw END AS idf
       |  FROM dfreq)""".stripMargin

  /** DuckDB twin of [[Retrieval.bm25Contrib]] over the `tf` and `idf`
    * CTEs, weighted by the SQL expression `w`.
    */
  private def bm25ContribSql(w: String): String =
    s"""$w * idf.idf * (tf.tf * (1.5 + 1)) /
       |    (tf.tf + 1.5 * (1 - 0.75 + 0.75 * tf.dl / (SELECT avgdl FROM stats)))""".stripMargin

  /** A CTE `name(term, qn)` of a query's terms with their
    * multiplicities.
    */
  private def queryTermsCte(name: String, query: String): String =
    Tokenizer.tokenize(query)
      .groupBy(identity).map { case (t0, os) => (t0, os.size) }
      .map { case (t0, n) => s"('$t0', $n)" }
      .mkString(s"$name(term, qn) AS (VALUES ", ", ", ")")

  /** ONE postings/stats materialization for the whole retrieval family
    * (q_token_tf, q_bm25_docs, q_rm3_feedback, q_hybrid_funnel) — under
    * [[Shared]] the corpus tokenize+shuffle runs once per battery, not
    * once per query. Note the asymmetry with the round-2 negative
    * result (persisting postings through Spark's COLUMNAR cache cost
    * ~10× — the in-memory columnar codec is membw-bound on wide
    * tables): `Shared` materializes row blocks via localCheckpoint,
    * and the battery postings are ~250k rows at sf0.1 — MBs, not GBs.
    * Standalone (Shared off) every query keeps its self-contained plan.
    */
  private def docPostings(s: SparkSession, dir: String): DataFrame =
    Shared("docPostings", s, dir)(
      Retrieval.postings(t(s, dir, "documents"), "doc_id", "text"))

  private def docStats(s: SparkSession, dir: String): DataFrame =
    Shared("docStats", s, dir)(
      Retrieval.corpusStats(t(s, dir, "documents"), "doc_id", "text"))

  // --- term frequencies across the corpus (P1 + A3 groundwork)
  private def qTokenTf(s: SparkSession, dir: String): DataFrame =
    docPostings(s, dir)
      .groupBy(col("term").as("token"))
      .agg(sum("tf").as("tf"))
      .orderBy(col("tf").desc, col("token").asc)
      .limit(100)

  private val qTokenTfSql =
    s"""WITH $tokensCte
       |SELECT token, count(*) AS tf
       |FROM (SELECT unnest(tokens) AS token FROM kept)
       |GROUP BY 1 ORDER BY tf DESC, token LIMIT 100""".stripMargin

  // --- full BM25 scoring (A3) of KeywordQuery over documents. The gate
  // query exposes raw scores (this corpus's tiny common vocabulary makes
  // every idf negative, so the reference's `score > 0` filter — which
  // hybridSearch keeps — would blank the comparison).
  private def qBm25Docs(s: SparkSession, dir: String): DataFrame =
    Retrieval.bm25ScoresFromIndex(docPostings(s, dir), docStats(s, dir),
        "doc_id", Seq((0, KeywordQuery)))
      .select(col("doc_id"), Rounding.r(col("score"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(100)

  private def bm25OracleSql: String =
    s"""WITH $bm25IndexCtes,
       |${queryTermsCte("q", KeywordQuery)}
       |SELECT tf.doc_id, ${Rounding.rSql(s"sum(${bm25ContribSql("q.qn")})", 4)} AS score
       |FROM tf JOIN q ON tf.term = q.term JOIN idf ON tf.term = idf.term
       |GROUP BY 1
       |ORDER BY score DESC, doc_id LIMIT 100""".stripMargin

  // --- weighted RRF fusion (J1/W2/W3) of two deterministic rankings
  private def qRrfDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val byChars = docs.select(col("doc_id"), col("n_chars").cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(40)
    val byLen = docs.select(col("doc_id"),
      (-length(col("text"))).cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(40)
    Retrieval.rrfFuse(
      Seq(byChars -> Retrieval.VectorWeight, byLen -> Retrieval.KeywordWeight),
      "doc_id", "score")
      .select(col("doc_id"), Rounding.r(col("rrf_score"), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
  }

  private val qRrfDocsSql =
    """WITH a AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS rank
      |  FROM documents ORDER BY n_chars DESC, doc_id LIMIT 40),
      |b AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY len(text) ASC, doc_id) - 1 AS rank
      |  FROM documents ORDER BY len(text) ASC, doc_id LIMIT 40),
      |u AS (
      |  SELECT doc_id, 0.7 / (60 + rank + 1) AS contrib FROM a
      |  UNION ALL
      |  SELECT doc_id, 0.3 / (60 + rank + 1) AS contrib FROM b)
      |SELECT doc_id, floor((sum(contrib)) * 1e6 + 0.5) / 1e6 AS rrf
      |FROM u GROUP BY 1 ORDER BY rrf DESC, doc_id""".stripMargin

  // --- RM3 pseudo-relevance feedback (query expansion) ----------------------
  //
  // The classic two-pass IR expansion (Lavrenko & Croft 2001's relevance
  // models, the RM3 interpolation Anserini/Pyserini ship as the default
  // BM25+RM3 baseline): score the original query, take the top-`Rm3FbDocs`
  // feedback documents, mine the `Rm3ExpTerms` heaviest non-query terms
  // from them (by summed tf — an integer, so both engines pick the same
  // terms), then rescore the corpus with the union of original terms
  // (weight qn) and expansion terms (weight `Rm3ExpWeight`). Everything
  // reuses ONE postings materialization (persisted): base scoring, term
  // mining, and final scoring are three consumers of the same (doc, dl,
  // term, tf) table — at 100 TB that is one tokenize+shuffle, not three.
  // Per-(doc, term) BM25 contributions fixed-point at 1e6 before summing
  // (`Rounding.fpSum`) so doc ordering — and hence the feedback set and
  // the final list — is bit-identical across engines and partitionings.
  // The expansion table is data-dependent but tiny (≤ 8 rows): explicitly
  // broadcast, so the second pass stays one map-side join.

  private val Rm3FbDocs = 10
  private val Rm3ExpTerms = 8
  private val Rm3ExpWeight = 0.5
  private val Rm3TopK = 20

  private def qRm3Feedback(s: SparkSession, dir: String): DataFrame = {
    val post = docPostings(s, dir).persist()
    val stats = docStats(s, dir)
    val idf = Retrieval.idfTable(post, stats)

    val qTerms = Tokenizer.tokenize(KeywordQuery)
      .groupBy(identity).map { case (t0, os) => (t0, os.size) }.toSeq
    val qDf = s.createDataFrame(qTerms).toDF("term", "qn")

    val base = post.join(broadcast(qDf), "term")
      .join(broadcast(idf), "term")
      .crossJoin(broadcast(stats))
      .groupBy("doc_id")
      .agg(Rounding.fpSum(
        Retrieval.bm25Contrib(col("avgdl"), Retrieval.DefaultK1, Retrieval.DefaultB), 1e6).as("score"))
    val fb = base.orderBy(col("score").desc, col("doc_id").asc)
      .limit(Rm3FbDocs).select("doc_id")

    val expTerms = post.join(broadcast(fb), "doc_id")
      .filter(!col("term").isin(qTerms.map(_._1): _*))
      .groupBy("term").agg(sum(col("tf")).as("wtf"))
      .orderBy(col("wtf").desc, col("term").asc)
      .limit(Rm3ExpTerms)

    val weighted = qDf.select(col("term"), col("qn").cast("double").as("w"))
      .unionByName(expTerms.select(col("term"), lit(Rm3ExpWeight).as("w")))

    post.join(broadcast(weighted), "term")
      .join(broadcast(idf), "term")
      .crossJoin(broadcast(stats))
      .groupBy("doc_id")
      .agg(Rounding.fpSum(Retrieval.bm25Contrib(col("avgdl"),
        Retrieval.DefaultK1, Retrieval.DefaultB, col("w")), 1e6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(Rm3TopK)
  }

  private def qRm3FeedbackSql: String = {
    val qIn = Tokenizer.tokenize(KeywordQuery).distinct.sorted.map(t0 => s"'$t0'").mkString(", ")
    s"""WITH $bm25IndexCtes,
       |${queryTermsCte("q", KeywordQuery)},
       |base AS (
       |  SELECT tf.doc_id, ${Rounding.fpSumSql(bm25ContribSql("q.qn"), "1e6")} AS score
       |  FROM tf JOIN q ON tf.term = q.term JOIN idf ON tf.term = idf.term
       |  GROUP BY 1),
       |fb AS (SELECT doc_id FROM base ORDER BY score DESC, doc_id LIMIT $Rm3FbDocs),
       |expn AS (
       |  SELECT tf.term, CAST(sum(tf.tf) AS BIGINT) AS wtf
       |  FROM tf JOIN fb USING (doc_id)
       |  WHERE tf.term NOT IN ($qIn)
       |  GROUP BY 1 ORDER BY wtf DESC, term LIMIT $Rm3ExpTerms),
       |wt AS (
       |  SELECT term, qn::DOUBLE AS w FROM q
       |  UNION ALL SELECT term, $Rm3ExpWeight AS w FROM expn)
       |SELECT tf.doc_id, ${Rounding.fpSumSql(bm25ContribSql("wt.w"), "1e6")} AS score
       |FROM tf JOIN wt ON tf.term = wt.term JOIN idf ON tf.term = idf.term
       |GROUP BY 1
       |ORDER BY score DESC, doc_id LIMIT $Rm3TopK""".stripMargin
  }

  // --- full retrieval funnel (query lifecycle §3.2 of SURVEY.md) ------------
  //
  // variations (fixed expansions, the reference mocks the LLM in tests) →
  // per-variation hybrid search (vector-standin ∪ BM25 → weighted RRF) →
  // first-wins dedup across variations → per-variation deterministic
  // "cross-encoder" (query-term tf overlap) rankings → unweighted RRF
  // re-fusion → final top-10. Mirrors query_service.py:149-358, with the
  // funnel constants and the variation-keyed plan of
  // `QueryPipeline.queryExpanded`.

  private val Variations =
    Seq(KeywordQuery, "partition shuffle stream batch", "filter index merge sort")

  /** Deterministic vector-score standin for variation `v`: pure integer
    * arithmetic so the oracle reproduces it exactly (external embeddings
    * are pluggable columns per SURVEY §7.3).
    */
  private def vecScore(v: Column): Column =
    pmod(col("doc_id") * (lit(97) + v), lit(1009)) / 1009.0

  private def qHybridFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val vs = broadcast(Variations.indices.toDF("v"))

    // ALL variations' BM25 scores (and the rerank's tf overlap, tf_sum)
    // from ONE pass over the shared postings (docPostings)
    val kwAll = Retrieval.bm25ScoresFromIndex(docPostings(s, dir),
      docStats(s, dir), "doc_id", Variations.zipWithIndex.map(_.swap))

    // per-variation hybrid ranking, keyed by v: the vector standin scores
    // docs × (v) in one scan
    val vecTop = Retrieval.topPer(
      docs.crossJoin(vs).select(col("v"), col("doc_id"), vecScore(col("v")).as("score")),
      "v", "doc_id", "score", QueryPipeline.PerSourceFetch)
    val perVariation = Retrieval.hybridFusePer(vecTop, kwAll, "v", "doc_id",
      QueryPipeline.PerSourceFetch, QueryPipeline.RerankFetch)

    // dedup across variations (P4/U2): only the candidate doc SET reaches
    // the rerank, so it is a distinct; every variation ranks that pool by
    // its tf overlap (kwAll's tf_sum, 0 for a doc without a variation
    // term), and the rankings are re-fused unweighted
    val rankings = Retrieval.topPer(
      perVariation.select("doc_id").distinct().crossJoin(vs)
        .join(kwAll.select("v", "doc_id", "tf_sum"), Seq("v", "doc_id"), "left")
        .select(col("v"), col("doc_id"),
          coalesce(col("tf_sum"), lit(0L)).cast("double").as("score")),
      "v", "doc_id", "score", QueryPipeline.FinalTopK)
    Retrieval.rrfFuseRanked(Seq(rankings -> 1.0), Seq("doc_id"))
      .select(col("doc_id"), Rounding.r(col("rrf_score"), 6).as("fused"))
      .orderBy(col("fused").desc, col("doc_id").asc)
      .limit(QueryPipeline.FinalTopK)
  }

  private def qHybridFunnelSql: String = {
    import QueryPipeline.{FinalTopK, PerSourceFetch, RerankFetch}
    val perVariation = Variations.zipWithIndex.map { case (q, v) =>
      s"""${queryTermsCte(s"q_$v", q)},
         |scores_$v AS (
         |  SELECT tf.doc_id, sum(
         |    ${bm25ContribSql(s"q_$v.qn")}
         |  ) AS score
         |  FROM tf JOIN q_$v ON tf.term = q_$v.term
         |  JOIN idf ON tf.term = idf.term
         |  GROUP BY 1),
         |vec_$v AS (
         |  SELECT doc_id, ((doc_id * ${97 + v}) % 1009) / 1009.0 AS score
         |  FROM documents ORDER BY score DESC, doc_id LIMIT $PerSourceFetch),
         |kw_$v AS (
         |  SELECT doc_id, score FROM scores_$v WHERE score > 0
         |  ORDER BY score DESC, doc_id LIMIT $PerSourceFetch),
         |ranked_$v AS (
         |  SELECT doc_id, contrib FROM (
         |    SELECT doc_id, 0.7 / (60 + row_number() OVER (ORDER BY score DESC, doc_id)) AS contrib FROM vec_$v
         |    UNION ALL
         |    SELECT doc_id, 0.3 / (60 + row_number() OVER (ORDER BY score DESC, doc_id)) AS contrib FROM kw_$v)),
         |hyb_$v AS (
         |  SELECT doc_id, $v AS v,
         |    row_number() OVER (ORDER BY rrf DESC, doc_id) AS vrank
         |  FROM (SELECT doc_id, sum(contrib) AS rrf FROM ranked_$v GROUP BY 1)
         |  ORDER BY rrf DESC, doc_id LIMIT $RerankFetch)""".stripMargin
    }.mkString(",\n")

    val dedupCte =
      s"""allv AS (${Variations.indices.map(v => s"SELECT * FROM hyb_$v").mkString(" UNION ALL ")}),
         |deduped AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY v, vrank) AS rn
         |    FROM allv) WHERE rn = 1)""".stripMargin

    val rerankCtes = Variations.zipWithIndex.map { case (q, v) =>
      val terms = Tokenizer.tokenize(q).distinct.map(t0 => s"'$t0'").mkString(", ")
      s"""ce_$v AS (
         |  SELECT d.doc_id, coalesce(sum(tf.tf), 0)::DOUBLE AS score
         |  FROM deduped d LEFT JOIN tf ON d.doc_id = tf.doc_id AND tf.term IN ($terms)
         |  GROUP BY 1),
         |rr_$v AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
         |  FROM ce_$v ORDER BY score DESC, doc_id LIMIT $FinalTopK)""".stripMargin
    }.mkString(",\n")

    s"""WITH $bm25IndexCtes,
       |$perVariation,
       |$dedupCte,
       |$rerankCtes,
       |refused AS (
       |  SELECT doc_id, sum(1.0 / (60 + rank)) AS fused
       |  FROM (${Variations.indices.map(v => s"SELECT * FROM rr_$v").mkString(" UNION ALL ")})
       |  GROUP BY 1)
       |SELECT doc_id, floor((fused) * 1e6 + 0.5) / 1e6 AS fused
       |FROM refused ORDER BY fused DESC, doc_id LIMIT $FinalTopK""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_token_tf" -> (qTokenTf _),
    "q_bm25_docs" -> (qBm25Docs _),
    "q_rrf_docs" -> (qRrfDocs _),
    "q_rm3_feedback" -> (qRm3Feedback _),
    "q_hybrid_funnel" -> (qHybridFunnel _))

  val oracles: Map[String, String] = Map(
    "q_token_tf" -> qTokenTfSql,
    "q_bm25_docs" -> bm25OracleSql,
    "q_rrf_docs" -> qRrfDocsSql,
    "q_rm3_feedback" -> qRm3FeedbackSql,
    "q_hybrid_funnel" -> qHybridFunnelSql)
}
