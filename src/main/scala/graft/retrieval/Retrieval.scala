package graft.retrieval

import graft.functions.{Bm25Tokenize, GraftFunctions}
import graft.text.Tokenizer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational retrieval layer: the reference's BM25 index, RRF fusion,
  * hybrid-search funnel, dedup, and score normalization re-expressed as
  * pure Catalyst plans (no UDFs, no RDDs, no driver-side loops).
  *
  * Reference semantics reproduced:
  *  - tokenizer: `BM25Index._tokenize`
  *    (rafalpronko/pdf-parser `app/retrieval/bm25_index.py:208-227`)
  *  - BM25Okapi scoring incl. the epsilon-floored idf of the published
  *    rank_bm25 package the reference delegates to
  *    (`bm25_index.py:9,229-236`): idf = ln(N-df+0.5) - ln(df+0.5),
  *    negatives floored to 0.25 * avg(idf over vocabulary)
  *  - weighted RRF: score(d) = Σ_i w_i / (k + rank_i + 1), 0-based ranks
  *    (`app/retrieval/rrf.py:6-35`), k = 60, weights 0.7/0.3
  *    (`app/retrieval/hybrid_search.py:74,198-202`)
  *  - first-occurrence dedup (`app/services/query_service.py:231-238`)
  *  - min-max normalization with the all-equal → 1.0 rule
  *    (`app/retrieval/reranker.py:226-248`)
  *
  * Ties in ranked lists are under-specified in the reference (Python dict
  * insertion order); we fix `(score desc, id asc)` and document it.
  *
  * Scale notes: tokenizing and per-document term counting are one narrow
  * pass over the corpus (one row per document, so the postings need no
  * exchange); every later step is a hash aggregation or window the
  * optimizer can plan with partial aggregation. Stats (N, avgdl, avg idf)
  * join back via broadcast of single-row aggregates — no `collect()`.
  */
object Retrieval {

  val RrfK = 60
  val VectorWeight = 0.7
  val KeywordWeight = 0.3
  val DefaultK1 = 1.5
  val DefaultB = 0.75
  val Epsilon = 0.25

  /** Column form of the BM25 tokenizer (P1): the golden-tested
    * `Tokenizer.tokenize` as the codegen'd `graft_tokenize` expression.
    */
  def tokenizeCol(c: Column): Column =
    PlanBridge.column(Bm25Tokenize(PlanBridge.expression(c)))

  /** Tokenized corpus: (idCol, tokens, dl). Zero-token docs keep a row —
    * they count toward N and avgdl in rank_bm25.
    */
  def tokenized(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), tokenizeCol(col(textCol)).as("tokens"))
      .withColumn("dl", size(col("tokens")))

  /** Term postings: (idCol, dl, term, tf), one row per (doc, term) —
    * each document's `graft_term_counts` inlined, in one narrow pass with
    * no exchange.
    *
    * CONTRACT: `docs` holds one row per id. Terms are counted per row, so
    * two rows of one id would give two postings rows for a shared term,
    * where a grouped count gives one. Chunk ids, the new ids an index add
    * takes, and the battery's `documents.doc_id` are all unique.
    */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    tokenized(docs, idCol, textCol)
      .select(col(idCol), col("dl"), inline(GraftFunctions.termCounts(col("tokens"))))

  /** BM25Okapi document scores for one query: (idCol, score), only docs
    * with at least one matching term (the reference filters score <= 0
    * downstream, `bm25_index.py:200-204`). [[bm25ScoresFromIndex]] over
    * the corpus's own postings and stats, for one variation; a query with
    * no terms gives an empty frame typed like the scored one.
    */
  def bm25Scores(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      query: String,
      k1: Double = DefaultK1,
      b: Double = DefaultB): DataFrame =
    if (Tokenizer.tokenize(query).isEmpty)
      docs.select(col(idCol), lit(0.0).as("score")).where(lit(false))
    else
      bm25ScoresFromIndex(postings(docs, idCol, textCol),
        corpusStats(docs, idCol, textCol), idCol, Seq(0 -> query), k1, b)
        .select(col(idCol), col("score"))

  /** Corpus stats (n_docs, avgdl) as a 1-row frame. Computed from the
    * TOKENIZED corpus, not the postings — zero-token docs carry no
    * posting row but still count toward N and avgdl in rank_bm25.
    */
  def corpusStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    tokenized(docs, idCol, textCol)
      .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))

  /** Raw Okapi idf of a term with document frequency `df` in a corpus of
    * `nDocs` documents: ln(N - df + 0.5) - ln(df + 0.5).
    */
  def idfRaw(nDocs: Column, df: Column): Column =
    log(nDocs - df + lit(0.5)) - log(df + lit(0.5))

  /** rank_bm25's epsilon floor: a negative raw idf becomes
    * Epsilon × the vocabulary's mean raw idf.
    */
  def flooredIdf(idfRaw: Column, avgIdf: Column): Column =
    when(idfRaw < 0, lit(Epsilon) * avgIdf).otherwise(idfRaw)

  /** One (query term, doc) BM25Okapi contribution over a row's `idf`,
    * `tf` and `dl` columns, weighted by `weight` (by default `qn`, the
    * term's multiplicity in the query).
    */
  def bm25Contrib(avgdl: Column, k1: Double, b: Double,
      weight: Column = col("qn")): Column =
    weight * col("idf") * (col("tf") * lit(k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl))

  /** Epsilon-floored Okapi idf table (term, idf) from a postings table +
    * 1-row stats frame — the vocabulary-level half of the BM25 index,
    * exposed so consumers beyond plain scoring (e.g. pseudo-relevance
    * feedback's second pass) reuse ONE postings materialization.
    */
  def idfTable(post: DataFrame, stats: DataFrame): DataFrame = {
    val dfTable = post.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .withColumn("idf_raw", idfRaw(col("n_docs"), col("df")))
    val idfStats = dfTable.agg(avg(col("idf_raw")).as("avg_idf"))
    dfTable.crossJoin(broadcast(idfStats))
      .withColumn("idf", flooredIdf(col("idf_raw"), col("avg_idf")))
      .select(col("term"), col("idf"))
  }

  /** The multi-query scoring tail over a PRECOMPUTED (and typically
    * persisted) postings table + 1-row stats frame — lets a caller share
    * one postings materialization between BM25 scoring and other
    * postings consumers (e.g. the rerank tf-overlap stage) instead of
    * re-tokenizing the corpus per consumer.
    */
  def bm25ScoresFromIndex(
      post: DataFrame,
      stats: DataFrame,
      idCol: String,
      queries: Seq[(Int, String)],
      k1: Double = DefaultK1,
      b: Double = DefaultB): DataFrame = {
    val idf = idfTable(post, stats)
    val qRows = queries.flatMap { case (v, q) =>
      Tokenizer.tokenize(q).groupBy(identity)
        .map { case (t, os) => (v, t, os.size) }
    }
    val spark = post.sparkSession
    if (qRows.isEmpty)
      return spark.emptyDataFrame
        .withColumn("v", lit(0))
        .withColumn(idCol, lit(null))
        .withColumn("score", lit(0.0))
        .withColumn("tf_sum", lit(0L))
    val qDf = spark.createDataFrame(qRows).toDF("v", "term", "qn")
    post
      .join(broadcast(qDf), "term")
      .join(broadcast(idf), "term")
      .crossJoin(broadcast(stats))
      .withColumn("contrib", bm25Contrib(col("avgdl"), k1, b))
      .groupBy(col("v"), col(idCol))
      // tf_sum rides along for free: the joined rows are one per
      // (v, query-term, doc), so Σtf is exactly the rerank stage's
      // distinct-term tf-overlap — callers that need it (the funnel's
      // "cross-encoder" standin) avoid a second full postings pass
      .agg(sum(col("contrib")).as("score"), sum(col("tf")).as("tf_sum"))
  }

  /** Hard cap on rows entering [[withRank]]'s unpartitioned window. Every
    * retrieval caller pre-limits to funnel constants (≤ 2k); the cap makes
    * the bound structural instead of conventional.
    */
  val MaxRankedRows = 100000

  /** 0-based rank column over a ranked list, deterministic tie-break
    * `(score desc, id asc)` (W2/W3 in SURVEY §2.5).
    *
    * CONTRACT: input must be a bounded ranked list (funnel stages pass
    * ≤ 2k rows). The unpartitioned window necessarily single-tasks, so the
    * input is first capped to [[MaxRankedRows]] with a plain `limit()` —
    * its GlobalLimit needs the same single-partition exchange the window
    * needs anyway, so the guard costs no extra stage (an earlier
    * `orderBy().limit()` form planned an extra TakeOrderedAndProject per
    * ranked list, which at ~9 lists per retrieval funnel dominated the
    * query). Over-cap inputs keep an arbitrary `MaxRankedRows`-subset
    * (guard-rail semantics); bounded inputs — every real caller — pass
    * through unchanged and are then ranked deterministically.
    */
  def withRank(df: DataFrame, idCol: String, scoreCol: String): DataFrame =
    df.limit(MaxRankedRows)
      .withColumn("rank",
        row_number().over(Window.orderBy(col(scoreCol).desc, col(idCol).asc)) - 1)

  /** Weighted reciprocal rank fusion of ranked lists (`rrf.py:6-35`).
    * Each input: (idCol, scoreCol) ranked desc; output (idCol, rrf_score).
    * Each list is ranked by [[withRank]] and fused by [[rrfFuseRanked]].
    */
  def rrfFuse(
      lists: Seq[(DataFrame, Double)],
      idCol: String,
      scoreCol: String,
      k: Int = RrfK): DataFrame =
    rrfFuseRanked(lists.map { case (df, w) =>
      withRank(df.select(col(idCol), col(scoreCol)), idCol, scoreCol)
        .withColumn("rn", col("rank") + 1) -> w
    }, Seq(idCol), k)

  /** The top `k` rows of each `key`, by `(scoreCol desc, idCol asc)`, with
    * their 1-based position in `rn`. The filter is on the row number
    * itself, so Spark plans a partial `WindowGroupLimit` below the
    * exchange and ships at most `k` rows per key from each map task.
    */
  def topPer(df: DataFrame, key: String, idCol: String, scoreCol: String,
      k: Int): DataFrame =
    df.withColumn("rn", row_number().over(Window.partitionBy(col(key))
        .orderBy(col(scoreCol).desc, col(idCol).asc)))
      .filter(col("rn") <= k)

  /** Weighted RRF over ranked lists that carry their own 1-based rank in
    * `rn` ([[topPer]]'s column; [[withRank]]'s 0-based rank + 1), each
    * with its weight: Σ w / (k + rn), summed per `groupCols`. With
    * `groupCols = (key, id)` it fuses each key's lists separately; with
    * `groupCols = (id)` it fuses every list. Returns `(groupCols…,
    * rrf_score)`.
    */
  def rrfFuseRanked(lists: Seq[(DataFrame, Double)], groupCols: Seq[String],
      k: Int = RrfK): DataFrame = {
    require(lists.nonEmpty)
    lists.map { case (df, w) =>
      df.select(groupCols.map(col) :+ (lit(w) / (lit(k) + col("rn"))).as("contrib"): _*)
    }.reduce(_ unionByName _)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("contrib")).as("rrf_score"))
  }

  /** The hybrid funnel of one question (`hybrid_search.py:45-82`): the
    * `fetch` best of `vecScores` ∪ the `fetch` best positive keyword
    * scores (`bm25_index.py:200-204`), each by `(score desc, id asc)`, →
    * weighted RRF. Both inputs carry `(idCol, score)`; returns
    * `(idCol, rrf_score)`, unordered.
    */
  def hybridFuse(
      vecScores: DataFrame,
      kwScores: DataFrame,
      idCol: String,
      fetch: Int,
      vectorWeight: Double = VectorWeight,
      keywordWeight: Double = KeywordWeight): DataFrame = {
    def top(df: DataFrame) = df.orderBy(col("score").desc, col(idCol).asc).limit(fetch)
    rrfFuse(Seq(top(vecScores) -> vectorWeight,
      top(kwScores.filter(col("score") > 0)) -> keywordWeight), idCol, "score")
  }

  /** [[hybridFuse]] for many questions at once, keyed by `key` (the
    * question-variation number): `vecTop` is each key's vector top list,
    * already ranked (`(key, idCol, rn)`, as [[topPer]] gives it); the
    * keyword side is the `fetch` best positive `kwScores` of each key.
    * Their weighted RRF per `(key, id)` is cut to the `cut` best per key.
    * Returns `(key, idCol, rrf_score, rn)`.
    */
  def hybridFusePer(
      vecTop: DataFrame,
      kwScores: DataFrame,
      key: String,
      idCol: String,
      fetch: Int,
      cut: Int): DataFrame = {
    val kwTop = topPer(kwScores.filter(col("score") > 0), key, idCol, "score", fetch)
    topPer(
      rrfFuseRanked(Seq(vecTop -> VectorWeight, kwTop -> KeywordWeight), Seq(key, idCol)),
      key, idCol, "rrf_score", cut)
  }

  /** Order-preserving first-occurrence dedup (P4,
    * `query_service.py:231-238`): within each id keep the row with the
    * smallest `orderCols` (arrival priority), not an arbitrary one.
    */
  def firstWinsDedup(df: DataFrame, idCol: String, orderCols: Column*): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Min-max normalization into [0,1]; all-equal groups map to 1.0
    * (`reranker.py:226-248`). Grouped variant via window when
    * `partitionCols` non-empty, global via broadcast aggregate otherwise
    * (an unpartitioned window would single-task at scale).
    */
  def minMaxNormalize(
      df: DataFrame,
      scoreCol: String,
      outCol: String,
      partitionCols: Seq[String] = Nil): DataFrame = {
    if (partitionCols.nonEmpty) {
      val w = Window.partitionBy(partitionCols.map(col): _*)
      df.withColumn("__mn", min(col(scoreCol)).over(w))
        .withColumn("__mx", max(col(scoreCol)).over(w))
        .withColumn(outCol,
          when(col("__mx") === col("__mn"), lit(1.0))
            .otherwise((col(scoreCol) - col("__mn")) / (col("__mx") - col("__mn"))))
        .drop("__mn", "__mx")
    } else {
      val stats = df.agg(min(col(scoreCol)).as("__mn"), max(col(scoreCol)).as("__mx"))
      df.crossJoin(broadcast(stats))
        .withColumn(outCol,
          when(col("__mx") === col("__mn"), lit(1.0))
            .otherwise((col(scoreCol) - col("__mn")) / (col("__mx") - col("__mn"))))
        .drop("__mn", "__mx")
    }
  }

  /** Hybrid search (`hybrid_search.py:45-82`): [[hybridFuse]] of the
    * vector scores and the corpus's BM25 scores at 2·topK per source, then
    * the top-k with deterministic tie-break. `vectorScores` must carry
    * (idCol, score).
    */
  def hybridSearch(
      vectorScores: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      query: String,
      topK: Int,
      vectorWeight: Double = VectorWeight,
      keywordWeight: Double = KeywordWeight): DataFrame =
    hybridFuse(vectorScores, bm25Scores(docs, idCol, textCol, query), idCol,
        2 * topK, vectorWeight, keywordWeight)
      .orderBy(col("rrf_score").desc, col(idCol).asc)
      .limit(topK)
}
