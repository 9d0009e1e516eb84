package graft.queries

import graft.queries.BatteryHelpers.{TokensCte, cosSql, simpleTokens, stopListSql}
import graft.queries.Tables.t
import graft.text.Tokenizer
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over the `documents`/`embeddings`
  * tables — the large-scale-corpus ops a 100 TB pretraining pipeline
  * needs (deduplication, similarity search, text analysis, fingerprints),
  * each as a Catalyst-only plan with a DuckDB oracle.
  *
  * Design notes for scale (tested at sf, designed for 100 TB):
  *  - exact dedup is a hash aggregation (map-side partial agg);
  *  - MinHash-LSH is the standard shingle→minhash→band→bucket-join
  *    pipeline: every stage is an equi-join or hash agg, the band
  *    self-join only materializes CANDIDATE pairs (docs sharing a band
  *    bucket), never the O(N²) pair space;
  *  - n-gram Jaccard self-joins on the shingle (the classic
  *    inverted-index join), so cost is Σ df(shingle)² not N²;
  *  - token/shingle ids are md5-prefix hashes (`md5Sid`) — a narrow
  *    per-row projection identical in Spark and DuckDB; no vocabulary
  *    dictionary, no global window, no dictionary shuffle join at any
  *    corpus size;
  *  - ANN: brute-force cosine against a broadcast query vector is the
  *    exact baseline (one narrow pass, no shuffle); the LSH variant
  *    buckets by random-hyperplane signs (integer hyperplanes so both
  *    engines agree bit-for-bit) and searches only the query's bucket.
  */
object TrainingDataQueries {

  private val P31 = 2147483647L // 2^31 - 1 (Mersenne prime modulus)

  /** Deterministic token id shared by the minhash/simhash/fingerprint
    * plans: the first `hexLen` hex chars of md5 as int64 — identical in
    * Spark (`conv`) and DuckDB (`'0x' || substr` cast). Replaces the
    * earlier dense-dictionary approach, whose global `row_number()`
    * window funneled the whole distinct vocabulary through ONE partition
    * (the classic scale killer) and forced a dictionary shuffle join;
    * the hash id is a narrow per-row projection at any corpus size.
    * `hexLen` bounds the id below 2^(4·hexLen) so downstream arithmetic
    * (`a·sid + b`, `sid·2654435761`) stays inside int64.
    */
  private def md5Sid(c: Column, hexLen: Int): Column =
    conv(substring(md5(c), 1, hexLen), 16, 10).cast("long")

  private def md5SidSql(expr0: String, hexLen: Int): String =
    s"('0x' || substr(md5($expr0), 1, $hexLen))::BIGINT"

  private def sparkToks(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), simpleTokens(col("text")).as("ts"))

  // --- enriched corpus twin (de-degeneration of the synthetic testdata) -----
  //
  // Round-2 audit finding: the driver's synthetic corpus is too uniform to
  // exercise several statistics' non-trivial paths — non-en documents are
  // built from ENGLISH tokens (q_kappa scored below chance, q_ct_lang_id's
  // confusion near-random) and the ~31-unigram closed vocabulary saturates
  // instantly (q_heaps_fit measured β = 0). The testdata is read-only, so
  // the missing variation is injected IN-ENGINE, written identically in
  // Spark and DuckDB over the same parquet (one narrow projection — no
  // extra shuffle at any scale):
  //  - per-language token pools: a measured subtlety — the raw corpus's
  //    "en" docs carry only ~6% English-stopword mass (below q_lang_id's
  //    0.12 gate), so EN-NESS itself must be injected: 80% of en docs
  //    (by md5 decile) append an English-stopword phrase repeated
  //    ∝ n_chars, 80% of non-en docs append their language's marker
  //    phrase (a distinct character-trigram profile per language), 10%
  //    of non-en docs get the ENGLISH pad and 20% of en docs stay bare —
  //    the deterministic label noise that keeps the agreement statistics
  //    honest (no audit should score a synthetic 1.0).
  //  - open vocabulary growth: every doc appends 16 tokens
  //    w⌊√(16·doc_id+j)⌋, j<16 — a doc-id prefix of N docs then carries
  //    ~4√(16N) distinct injected types over Θ(N) tokens, i.e. Heaps
  //    β ≈ 0.5 by construction, while `sqrt`/`floor` on exactly
  //    representable integers stay IEEE-identical cross-engine (the
  //    q_wilson_ci convention; no transcendentals).
  // None of the marker/filler words collides with `Tokenizer.StopWords`.

  private val langMarkerCase =
    """CASE lang
      |      WHEN 'de' THEN 'der und nicht das ist'
      |      WHEN 'es' THEN 'que los una con para'
      |      WHEN 'fr' THEN 'les des une avec pour'
      |      ELSE 'de shi bu le zai' END""".stripMargin

  /** (doc_id, lang, n_chars, text2) with the enrichment above. */
  private[graft] def enrichedDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"),
      expr(
        s"""concat(text, CASE
           |  WHEN lang = 'en' AND
           |    cast(conv(substring(md5(cast(doc_id AS string)), 1, 6), 16, 10) AS bigint) % 10 < 8
           |  THEN repeat(' the and of to is', greatest(n_chars div 8, 1))
           |  WHEN lang <> 'en' AND
           |    cast(conv(substring(md5(cast(doc_id AS string)), 1, 6), 16, 10) AS bigint) % 10 < 8
           |  THEN repeat(' ' || $langMarkerCase, greatest(n_chars div 8, 1))
           |  WHEN lang <> 'en' AND
           |    cast(conv(substring(md5(cast(doc_id AS string)), 1, 6), 16, 10) AS bigint) % 10 >= 9
           |  THEN repeat(' the and of to is', greatest(n_chars div 8, 1))
           |  ELSE '' END,
           |  ' ', concat_ws(' ', transform(sequence(0, 15),
           |    j -> concat('w', cast(floor(sqrt(cast(doc_id * 16 + j AS double))) AS string)))))
           |""".stripMargin).as("text2"))

  /** DuckDB twin of [[enrichedDocs]] as a CTE named `enr`. (Written with
    * `concat(...)` and no line-leading `||` — a composed oracle's OUTER
    * `stripMargin` would eat the first pipe of an interpolated `||`.)
    */
  private[graft] val EnrichedCte =
    s"""enr AS (
       |  SELECT doc_id, lang, n_chars,
       |    concat(text, CASE
       |      WHEN lang = 'en' AND
       |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 10 < 8
       |      THEN repeat(' the and of to is', CAST(greatest(n_chars // 8, 1) AS INT))
       |      WHEN lang <> 'en' AND
       |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 10 < 8
       |      THEN repeat(concat(' ', $langMarkerCase),
       |        CAST(greatest(n_chars // 8, 1) AS INT))
       |      WHEN lang <> 'en' AND
       |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 10 >= 9
       |      THEN repeat(' the and of to is', CAST(greatest(n_chars // 8, 1) AS INT))
       |      ELSE '' END,
       |      ' ', array_to_string(list_transform(generate_series(0, 15),
       |        j -> concat('w', CAST(CAST(floor(sqrt((doc_id * 16 + j)::DOUBLE)) AS BIGINT) AS VARCHAR))), ' '))
       |      AS text2
       |  FROM documents)""".stripMargin

  // --- exact dedup (hash-groupBy on content digest) -------------------------

  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("keep_doc"), count(lit(1)).as("n_copies"))
      .select("keep_doc", "n_copies")
      .orderBy("keep_doc")

  private val qDedupExactSql =
    """SELECT min(doc_id) AS keep_doc, count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY 1""".stripMargin

  // --- n-gram (bigram) Jaccard near-dup pairs -------------------------------

  /** Bigram shingles per doc (shared by the jaccard and minhash plans) —
    * shingling keeps pairwise similarity low enough that LSH bands only
    * surface genuine near-dups instead of the whole pair space. Uses the
    * codegen'd `graft_shingles` expression (bit-identical to the
    * tokenize→transform→array_distinct built-in chain, which is three
    * interpreted HOFs per row — the measured hot path of the whole
    * near-dup family); docs with <2 tokens yield an empty array, which
    * `explode` drops, matching the old `size(ts) >= 2` guard.
    */
  private[graft] def bigramShingles(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    t(s, dir, "documents")
      .select(col("doc_id"), explode(expr("graft_shingles(text)")).as("tok"))
  }

  private val ShinglesCte =
    """sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(ts)-1), i -> ts[i] || ' ' || ts[i+1]))) AS tok
      |  FROM toks WHERE len(ts) >= 2)""".stripMargin

  // --- train→holdout n-gram novelty (memorization / split-leakage audit) -----
  //
  // The eval-integrity twin of q_decontaminate: instead of scrubbing a
  // BENCHMARK's n-grams out of training data, measure how much of the
  // HOLDOUT split's n-gram mass the train split has already seen — the
  // number that says whether a perplexity win on the holdout is
  // generalization or memorization (and how much signal a dedup pass
  // left on the table). Split = the probe family's md5-decile hash
  // (80/20); grams = per-doc distinct word bigrams over the ENRICHED
  // corpus twin (the raw 31-type vocabulary saturates the bigram space —
  // novelty would measure 0 by construction); novelty_ppm per source =
  // ⌊10⁶ · unseen / total⌋, all exact integers. Scale shape: the train
  // vocabulary is a distinct hash-agg, the membership test a LEFT SEMI
  // equi-join on the gram key (inverted-index join, Σdf linear), one
  // source-grain agg — no window, no pair space, broadcast-eligible
  // whenever the train vocabulary fits (AQE decides).

  private def qNgramNovelty(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val sh = enrichedDocs(s, dir)
      .select(col("doc_id"), explode(expr("graft_shingles(text2)")).as("tok"))
    val grams = sh.withColumn("is_train", expr(
      "cast(conv(substring(md5(cast(doc_id AS string)), 1, 8), 16, 10) AS bigint) % 100 < 80"))
    val trainG = grams.filter(col("is_train")).select("tok").distinct()
    val hold = grams.filter(!col("is_train"))
    val seen = hold.join(trainG, Seq("tok"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_seen"))
    val tot = hold.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    tot.join(seen, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_seen"))
      .join(t(s, dir, "documents").select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_grams").as("grams"),
        sum(col("n_grams") - col("n_seen")).as("novel"))
      .select(col("source"), col("n_docs"), col("grams").as("n_grams"),
        col("novel").as("n_novel"),
        expr("(1000000 * novel) div grams").as("novelty_ppm"))
      .orderBy("source")
  }

  private val qNgramNoveltySql =
    s"""WITH $EnrichedCte,
       |toks AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text2), '\\s+'), x -> x <> '') AS ts
       |  FROM enr),
       |$ShinglesCte,
       |sp AS (
       |  SELECT doc_id, tok,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       |      % 100 < 80 AS is_train
       |  FROM sh),
       |tg AS (SELECT DISTINCT tok FROM sp WHERE is_train),
       |per AS (
       |  SELECT h.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |    CAST(sum(CASE WHEN tg.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_seen
       |  FROM (SELECT doc_id, tok FROM sp WHERE NOT is_train) h
       |  LEFT JOIN tg ON h.tok = tg.tok GROUP BY 1)
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(per.n_grams) AS BIGINT) AS n_grams,
       |  CAST(sum(per.n_grams - per.n_seen) AS BIGINT) AS n_novel,
       |  (1000000 * CAST(sum(per.n_grams - per.n_seen) AS BIGINT))
       |    // CAST(sum(per.n_grams) AS BIGINT) AS novelty_ppm
       |FROM per JOIN documents d USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Near-dup blocking: only docs in the same (lang, length-decile) block
    * are compared — the standard trick that keeps the inverted-index
    * self-join sub-quadratic (near-dups rarely cross language or differ
    * 10× in length).
    */
  private def qNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        col("lang"), floor(col("n_chars") / lit(200)).cast("int").as("lb"))
    // persisted: consumed by the df-cap pass, both sides of the self-join
    // AND the size agg — without the cache the shingling explode re-runs
    val sh0 = docs
      .select(col("doc_id"), col("lang"), col("lb"),
        explode(expr("graft_shingles(text)")).as("tok"))
      .persist()
    // DF-CAP: drop corpus-frequent shingles BEFORE the inverted-index
    // self-join — its cost is Σ df(shingle)², so one "of the"-grade bigram
    // with df ~ N contributes N² pairs on its own at 100 TB. The cap
    // scales with the corpus (N/20, floor 20); dropped shingles leave the
    // UNIVERSE too (per-doc sizes shrink with them), keeping the Jaccard
    // a true set similarity over the capped shingle space.
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val capped = sh0.groupBy("tok").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") > greatest(lit(20), col("n_docs") / 20))
      .select("tok")
    val sh = sh0.join(broadcast(capped), Seq("tok"), "left_anti")
    val n = sh.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.tok") === col("b.tok") && col("a.lang") === col("b.lang") &&
          col("a.lb") === col("b.lb") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(n.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("c", "ca"), "doc_a")
      .join(n.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("c", "cb"), "doc_b")
      .withColumn("jacc",
        Rounding.r(col("inter") / (col("ca") + col("cb") - col("inter")), 5))
      .filter(col("jacc") >= 0.01)
      .select("doc_a", "doc_b", "jacc")
      .orderBy(desc("jacc"), col("doc_a"), col("doc_b"))
      .limit(200)
  }

  private val qNgramJaccardSql =
    s"""WITH toksb AS (
       |  SELECT doc_id, lang, CAST(n_chars // 200 AS INT) AS lb,
       |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ts
       |  FROM documents),
       |sh0 AS (
       |  SELECT doc_id, lang, lb, unnest(list_distinct(list_transform(
       |    generate_series(1, len(ts)-1), i -> ts[i] || ' ' || ts[i+1]))) AS tok
       |  FROM toksb WHERE len(ts) >= 2),
       |nd AS (SELECT count(*) AS n_docs FROM toksb),
       |capped AS (
       |  SELECT tok FROM sh0 CROSS JOIN nd GROUP BY tok, n_docs
       |  HAVING count(*) > greatest(20, n_docs / 20)),
       |sh AS (SELECT * FROM sh0 WHERE tok NOT IN (SELECT tok FROM capped)),
       |n AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.tok = b.tok AND a.lang = b.lang
       |    AND a.lb = b.lb AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  floor((inter / (na.c + nb.c - inter)) * 1e5 + 0.5) / 1e5 AS jacc
       |FROM p JOIN n na ON p.doc_a = na.doc_id JOIN n nb ON p.doc_b = nb.doc_id
       |WHERE floor((inter / (na.c + nb.c - inter)) * 1e5 + 0.5) / 1e5 >= 0.01
       |ORDER BY jacc DESC, doc_a, doc_b LIMIT 200""".stripMargin

  // --- asymmetric shingle containment (quote / subset detection) -------------
  //
  // The near-dup case Jaccard DELIBERATELY misses: a short document
  // embedded whole inside a much longer one (quoted reply, boilerplate
  // header, excerpted article) has tiny Jaccard (|A∩B|/|A∪B| ≈ |A|/|B|)
  // — and q_ngram_jaccard's length-decile blocking excludes exactly
  // these pairs by design. Containment c(A,B) = |sh(A) ∩ sh(B)| /
  // min(|sh(A)|,|sh(B)|) (Broder's max-containment) scores the smaller
  // side's coverage instead, so a fully-quoted doc scores 1.0 at any
  // length ratio.
  //
  // Scale shape: same df-capped inverted-index self-join as the Jaccard
  // plan (cost Σdf² with df capped at max(20, N/20)), blocked on lang
  // only — length blocking is semantically wrong here. The per-pair
  // intersection count is one partial+final agg; sizes join back from a
  // broadcast-sized per-doc count table.
  private def qContainment(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"))
    val sh0 = docs
      .select(col("doc_id"), col("lang"),
        explode(expr("graft_shingles(text)")).as("tok"))
      .persist()
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val capped = sh0.groupBy("tok").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") > greatest(lit(20), col("n_docs") / 20))
      .select("tok")
    val sh = sh0.join(broadcast(capped), Seq("tok"), "left_anti")
    val n = sh.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.tok") === col("b.tok") && col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(n.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("c", "ca"), "doc_a")
      .join(n.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("c", "cb"), "doc_b")
      .withColumn("containment",
        Rounding.r(col("inter") / least(col("ca"), col("cb")), 5))
      .filter(col("containment") >= 0.5)
      .select("doc_a", "doc_b", "containment")
      .orderBy(desc("containment"), col("doc_a"), col("doc_b"))
      .limit(200)
  }

  private val qContainmentSql =
    s"""WITH toksb AS (
       |  SELECT doc_id, lang,
       |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ts
       |  FROM documents),
       |sh0 AS (
       |  SELECT doc_id, lang, unnest(list_distinct(list_transform(
       |    generate_series(1, len(ts)-1), i -> ts[i] || ' ' || ts[i+1]))) AS tok
       |  FROM toksb WHERE len(ts) >= 2),
       |nd AS (SELECT count(*) AS n_docs FROM toksb),
       |capped AS (
       |  SELECT tok FROM sh0 CROSS JOIN nd GROUP BY tok, n_docs
       |  HAVING count(*) > greatest(20, n_docs / 20)),
       |sh AS (SELECT * FROM sh0 WHERE tok NOT IN (SELECT tok FROM capped)),
       |n AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.tok = b.tok AND a.lang = b.lang
       |    AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  floor((inter / least(na.c, nb.c)) * 1e5 + 0.5) / 1e5 AS containment
       |FROM p JOIN n na ON p.doc_a = na.doc_id JOIN n nb ON p.doc_b = nb.doc_id
       |WHERE floor((inter / least(na.c, nb.c)) * 1e5 + 0.5) / 1e5 >= 0.5
       |ORDER BY containment DESC, doc_a, doc_b LIMIT 200""".stripMargin

  // --- MinHash + LSH banding (token-level) ----------------------------------

  private val HashA = Seq(131L, 137L, 139L, 149L, 151L, 157L, 163L, 167L)
  private val HashB = Seq(7L, 11L, 13L, 17L, 19L, 23L, 29L, 31L)

  /** LSH candidate pairs (doc_a < doc_b) from the banded minhashes over
    * `dt` (the shingle table). Shared by the jaccard-verify query and
    * the duplicate-clustering query.
    */
  private[graft] def minhashCandidates(dt: DataFrame): DataFrame = {
    val withSid = dt.withColumn("sid", md5Sid(col("tok"), 10))
    // all 8 minhashes as aggregation COLUMNS of one hash aggregate — the
    // earlier crossJoin-with-params plan multiplied every shingle row 8×
    // through the shuffle; this shape shuffles each shingle once
    val mhCols = HashA.indices.map(i =>
      min((lit(HashA(i)) * col("sid") + lit(HashB(i))) % P31).as(s"mh$i"))
    val mh = withSid.groupBy("doc_id").agg(mhCols.head, mhCols.tail: _*)
    // 4 bands × 2 rows: band b = (mh_{2b}, mh_{2b+1})
    val bandStructs = (0 until HashA.size / 2).map(b =>
      struct(lit(b).as("band"), col(s"mh${2 * b}").as("m0"),
        col(s"mh${2 * b + 1}").as("m1")))
    val bands = mh
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"),
        col("bs.m0").as("m0"), col("bs.m1").as("m1"))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.m0") === col("y.m0") &&
          col("x.m1") === col("y.m1") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  private def qMinhashLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // persisted: read by the minhash pass, the per-doc size agg, and both
    // sides of the candidate-verify join (4 consumers)
    val dt = bigramShingles(s, dir).persist()
    val cand = minhashCandidates(dt)
    // verify stage: exact shingle-set jaccard on the candidates only
    val n = dt.groupBy("doc_id").agg(count(lit(1)).as("c"))
    cand
      .join(dt.toDF("doc_a", "tok"), "doc_a")
      .join(dt.toDF("doc_b", "tok"), Seq("doc_b", "tok"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      .join(n.toDF("doc_a", "ca"), "doc_a")
      .join(n.toDF("doc_b", "cb"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        Rounding.r(col("inter") / (col("ca") + col("cb") - col("inter")), 5).as("jacc"))
      .orderBy(desc("jacc"), col("doc_a"), col("doc_b"))
  }

  /** Shared SQL CTE prefix ending in `cand(doc_a, doc_b)` — the DuckDB
    * twin of [[minhashCandidates]].
    */
  private def minhashCandCtes: String = {
    val values = HashA.indices
      .map(i => s"(${i}, ${HashA(i)}, ${HashB(i)})").mkString(", ")
    s"""$TokensCte,
       |$ShinglesCte,
       |dt AS (SELECT doc_id, tok FROM sh),
       |ws AS (SELECT doc_id, ${md5SidSql("tok", 10)} AS sid FROM dt),
       |params(i, a, b) AS (VALUES $values),
       |mh AS (
       |  SELECT doc_id, i, min((a * sid + b) % $P31) AS mh
       |  FROM ws CROSS JOIN params GROUP BY 1, 2),
       |bands AS (
       |  SELECT doc_id, (i // 2) AS band,
       |    min(CASE WHEN i % 2 = 0 THEN mh END) AS m0,
       |    min(CASE WHEN i % 2 = 1 THEN mh END) AS m1
       |  FROM mh GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.m0 = y.m0 AND x.m1 = y.m1
       |    AND x.doc_id < y.doc_id)""".stripMargin
  }

  private def qMinhashLshSql: String = {
    s"""WITH $minhashCandCtes,
       |n AS (SELECT doc_id, count(*) AS c FROM dt GROUP BY 1),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS inter
       |  FROM cand c
       |  JOIN dt ta ON ta.doc_id = c.doc_a
       |  JOIN dt tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
       |  GROUP BY 1, 2)
       |SELECT i.doc_a, i.doc_b,
       |  floor((i.inter / (na.c + nb.c - i.inter)) * 1e5 + 0.5) / 1e5 AS jacc
       |FROM inter i JOIN n na ON i.doc_a = na.doc_id
       |JOIN n nb ON i.doc_b = nb.doc_id
       |ORDER BY jacc DESC, doc_a, doc_b""".stripMargin
  }

  // --- one-permutation-hashing minhash (OPH) --------------------------------
  //
  // Classic k-hash minhash (q_minhash_lsh) evaluates k hash functions per
  // shingle, so at 100 TB the signature pass costs k linear scans' worth
  // of hashing. One-permutation hashing (Li, Owen & Zhang, NIPS 2012)
  // hashes each shingle ONCE and splits the hash space into K bins
  // (bin = sid mod K), keeping the min sid per (doc, bin) — a k-length
  // signature for 1/k-th the hashing compute, the variant you actually
  // run when the minhash pass dominates the dedup job. Empty bins (docs
  // with < K shingles) are handled estimator-side, not by a densification
  // rotation: the pairwise estimate agree / co_filled counts only bins
  // BOTH docs filled, the unbiased "matched empirical" form. Candidates
  // need the SAME AND-amplification as the classic plan: one bin alone
  // collides dissimilar pairs with probability ≈ j (a j=0.05 background
  // pair still collides somewhere among K bins — effectively quadratic
  // with a small constant; measured as the slowest battery query at
  // sf0.1 before banding), so the K bins pair up into K/2 bands of 2 and
  // a candidate must match BOTH bins of some band (collision ≈ j² per
  // band, the q_minhash_lsh discipline — same probabilistic-recall
  // tradeoff, same sub-quadratic candidate bound). agree/co_filled are
  // then counted on the candidate set alone in ONE candidates×K-bounded
  // join, never on the full pair space.

  private val OphBins = 16

  /** OPH signature rows: (doc_id, bin, mv) — one hash evaluation per
    * shingle, min per (doc, hash-space bin).
    */
  private[graft] def ophSigs(s: SparkSession, dir: String): DataFrame =
    bigramShingles(s, dir)
      .select(col("doc_id"), md5Sid(col("tok"), 10).as("sid"))
      .groupBy(col("doc_id"), pmod(col("sid"), lit(OphBins.toLong)).as("bin"))
      .agg(min("sid").as("mv"))

  /** Banded OPH candidate pairs: bins pair into bands of 2; a pair is a
    * candidate when some band's BOTH bin minima match (NULL-rejecting
    * equi-join, so half-empty bands never match).
    */
  private[graft] def ophCandidates(sig: DataFrame): DataFrame = {
    val banded = sig
      .groupBy(col("doc_id"), floor(col("bin") / 2).cast("long").as("band"))
      .agg(min(when(col("bin") % 2 === 0, col("mv"))).as("m0"),
        min(when(col("bin") % 2 === 1, col("mv"))).as("m1"))
    banded.toDF("doc_a", "band", "m0", "m1")
      .join(banded.toDF("doc_b", "band", "m0", "m1"), Seq("band", "m0", "m1"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  private def qMinhashOph(s: SparkSession, dir: String): DataFrame = {
    // persisted: the banded candidate join AND the per-pair verify join
    // both read the signature table
    val sig = ophSigs(s, dir).persist()
    ophCandidates(sig)
      .join(sig.toDF("doc_a", "bin", "va"), "doc_a")
      .join(sig.toDF("doc_b", "bin", "vb"), Seq("doc_b", "bin"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(when(col("va") === col("vb"), 1L).otherwise(0L)).as("agree"),
        count(lit(1)).as("co_filled"))
      .select(col("doc_a"), col("doc_b"), col("agree"), col("co_filled"),
        Rounding.r(col("agree") / col("co_filled"), 5).as("est"))
      .filter(col("est") >= 0.5)
      .orderBy("doc_a", "doc_b")
  }

  private def qMinhashOphSql: String =
    s"""WITH $TokensCte,
       |$ShinglesCte,
       |ws AS (SELECT doc_id, ${md5SidSql("tok", 10)} AS sid FROM sh),
       |sg AS (SELECT doc_id, sid % $OphBins AS bin, min(sid) AS mv
       |  FROM ws GROUP BY 1, 2),
       |bd AS (
       |  SELECT doc_id, bin // 2 AS band,
       |    min(CASE WHEN bin % 2 = 0 THEN mv END) AS m0,
       |    min(CASE WHEN bin % 2 = 1 THEN mv END) AS m1
       |  FROM sg GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bd a JOIN bd b
       |    ON a.band = b.band AND a.m0 = b.m0 AND a.m1 = b.m1
       |    AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(sum(CASE WHEN a.mv = b.mv THEN 1 ELSE 0 END) AS BIGINT) AS agree,
       |    count(*) AS co_filled
       |  FROM cand c
       |  JOIN sg a ON a.doc_id = c.doc_a
       |  JOIN sg b ON b.doc_id = c.doc_b AND b.bin = a.bin
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, agree, co_filled,
       |  floor((agree / co_filled) * 1e5 + 0.5) / 1e5 AS est
       |FROM est
       |WHERE floor((agree / co_filled) * 1e5 + 0.5) / 1e5 >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  // --- dedup-recall audit (measure, don't guess — the q_ann_recall twin) ----
  //
  // The minhash banding is a PROBABILISTIC filter; its recall at the
  // dedup threshold is a NUMBER the pipeline reports per corpus, not a
  // hope. Ground truth: exact shingle-Jaccard ≥ 0.5 over every
  // shingle-sharing pair (a pair at j ≥ 0.5 shares a shingle, so the
  // inverted-index join finds all of them — no pair is missed by
  // construction). The exact leg costs Σdf², which is the point of an
  // audit: at 100 TB this query runs on a deterministic SLICE
  // (doc_id ≡ 0 mod 4 here — the q_ann_recall probe-sample discipline)
  // after each parameter change, never as the serving path. Output is
  // one row: truth/candidate/hit counts with recall and precision
  // derived from the same integers in both engines.

  private def qDedupRecall(s: SparkSession, dir: String): DataFrame = {
    // persisted: the slice's shingles feed the banded candidates, the
    // exact-truth self-join (both sides) and the per-doc size agg
    val dt = bigramShingles(s, dir).filter(col("doc_id") % 4 === 0).persist()
    val cand = minhashCandidates(dt)
    val n = dt.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val inter = dt.toDF("doc_a", "tok")
      .join(dt.toDF("doc_b", "tok"), Seq("tok"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    val truth = inter
      .join(n.toDF("doc_a", "ca"), "doc_a")
      .join(n.toDF("doc_b", "cb"), "doc_b")
      .filter(Rounding.r(
        col("inter") / (col("ca") + col("cb") - col("inter")), 5) >= 0.5)
      .select("doc_a", "doc_b")
    val hit = truth.join(cand, Seq("doc_a", "doc_b"))
    val a = truth.agg(count(lit(1)).as("n_true"))
    val b = cand.agg(count(lit(1)).as("n_candidates"))
    val h = hit.agg(count(lit(1)).as("n_hit"))
    a.crossJoin(broadcast(b)).crossJoin(broadcast(h))
      .select(col("n_true"), col("n_candidates"), col("n_hit"),
        when(col("n_true") > 0,
          Rounding.r(col("n_hit") / col("n_true"), 4)).otherwise(lit(1.0))
          .as("recall"),
        when(col("n_candidates") > 0,
          Rounding.r(col("n_hit") / col("n_candidates"), 4)).otherwise(lit(1.0))
          .as("precision"))
  }

  private def qDedupRecallSql: String =
    s"""WITH $TokensCte,
       |sh1 AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(ts)-1), i -> ts[i] || ' ' || ts[i+1]))) AS tok
       |  FROM toks WHERE len(ts) >= 2 AND doc_id % 4 = 0),
       |dt AS (SELECT doc_id, tok FROM sh1),
       |ws AS (SELECT doc_id, ${md5SidSql("tok", 10)} AS sid FROM dt),
       |params(i, a, b) AS (VALUES ${HashA.indices
        .map(i => s"(${i}, ${HashA(i)}, ${HashB(i)})").mkString(", ")}),
       |mh AS (
       |  SELECT doc_id, i, min((a * sid + b) % $P31) AS mh
       |  FROM ws CROSS JOIN params GROUP BY 1, 2),
       |bands AS (
       |  SELECT doc_id, (i // 2) AS band,
       |    min(CASE WHEN i % 2 = 0 THEN mh END) AS m0,
       |    min(CASE WHEN i % 2 = 1 THEN mh END) AS m1
       |  FROM mh GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.m0 = y.m0 AND x.m1 = y.m1
       |    AND x.doc_id < y.doc_id),
       |n AS (SELECT doc_id, count(*) AS c FROM dt GROUP BY 1),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM dt a JOIN dt b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT p.doc_a, p.doc_b
       |  FROM p JOIN n na ON p.doc_a = na.doc_id
       |  JOIN n nb ON p.doc_b = nb.doc_id
       |  WHERE floor((p.inter / (na.c + nb.c - p.inter)) * 1e5 + 0.5) / 1e5 >= 0.5),
       |hit AS (
       |  SELECT t.doc_a FROM truth t
       |  JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
       |m AS (
       |  SELECT (SELECT count(*) FROM truth) AS n_true,
       |    (SELECT count(*) FROM cand) AS n_candidates,
       |    (SELECT count(*) FROM hit) AS n_hit)
       |SELECT n_true, n_candidates, n_hit,
       |  CASE WHEN n_true > 0
       |    THEN ${Rounding.rSql("n_hit / n_true", 4)} ELSE 1.0 END AS recall,
       |  CASE WHEN n_candidates > 0
       |    THEN ${Rounding.rSql("n_hit / n_candidates", 4)} ELSE 1.0 END AS precision
       |FROM m""".stripMargin

  // --- duplicate clustering: connected components over candidate pairs -----
  //
  // Pairwise near-dup output is only half the dedup story — keeping one
  // representative per DUPLICATE CLUSTER needs the transitive closure of
  // the pair graph. Spark side: iterative min-label propagation over the
  // symmetric edge list (each round = one join + groupBy-min; converges
  // in graph-diameter rounds — near-dup components are small chains in
  // practice, and a large-star/small-star variant is the drop-in upgrade
  // if a corpus ever yields deep components). Oracle: DuckDB computes
  // the same closure with a recursive CTE.

  /** Min-label propagation: each node's label converges to the smallest
    * node id in its component. `edges` = (doc_a, doc_b), undirected.
    *
    * Each round's frame is `localCheckpoint`ed (eager) — WITHOUT lineage
    * truncation the round-N logical plan embeds round N−1's plan twice
    * (once directly, once inside the neighbor-min join), doubling plan
    * size per iteration until analysis itself dominates; checkpointing
    * resets the plan to the materialized rows (the standard discipline
    * for iterative DataFrame algorithms).
    */
  private[graft] def connectedComponents(edges: DataFrame, maxIter: Int = 20,
      driverMaxEdges: Int = 200000): DataFrame = {
    // The candidate/label graphs this closure runs on are orders of
    // magnitude smaller than the corpus (near-dup candidates, Borůvka
    // forests, DBSCAN core edges) — but the distributed pointer-jumping
    // loop pays a floor of 2 Spark jobs per round (the join round + the
    // convergence count) no matter how small the graph is, and long
    // chains make it iterate. Fast path: if the edge list fits a driver
    // budget (one `limit(T+1).collect()` job — ~20 B/edge, so the default
    // 200k cap is ~4 MB of driver heap), run union-find on the driver in
    // O(E α(E)) and return a local relation. Labels are identical by
    // construction (min node id per component, verified by
    // `ConnectedComponentsParitySpec` against the distributed loop).
    // A petabyte caller whose candidate graph exceeds the budget falls
    // through to the distributed loop below, which keeps the caller's
    // own partitioning.
    val pruned = edges.select(col("doc_a"), col("doc_b"))
    if (driverMaxEdges > 0) {
      val head = pruned.limit(driverMaxEdges + 1).collect()
      if (head.length <= driverMaxEdges) return driverCc(edges.sparkSession, head, pruned.schema)
    }
    val sym = pruned.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pruned.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(true)
    // round 0 fused into the init: label = min(node, min neighbor) is one
    // aggregate over sym — the identity-labels variant spent its first
    // round on a join against an identity map to compute exactly this
    var labels = sym.groupBy("src").agg(min("dst").as("nmin"))
      .select(col("src").as("node"),
        least(col("src"), col("nmin")).as("label"))
      .localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = sym
        .join(labels.select(col("node").as("dst"), col("label")), "dst")
        .groupBy("src").agg(min("label").as("nmin"))
      val stepped = labels.withColumnRenamed("label", "old")
        .join(neighborMin.withColumnRenamed("src", "node"), Seq("node"), "left")
        .select(col("node"),
          least(col("old"), coalesce(col("nmin"), col("old"))).as("label"),
          col("old"))
      // pointer jumping (path compression): label := label(label) — a
      // chain of length L converges in ~log L rounds instead of L. The
      // previous label rides along so the convergence check below is a
      // filter-count on the checkpointed rows, not another join.
      val next = stepped.as("a")
        .join(stepped.select(col("node").as("label"), col("label").as("plabel"))
          .as("b"), Seq("label"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("plabel"), col("label"))).as("label"),
          col("old"))
        .localCheckpoint(true)
      val changed = next.filter(col("label") =!= col("old")).count()
      labels = next.select("node", "label")
      converged = changed == 0
      i += 1
    }
    labels
  }

  /** Driver-side min-label connected components: path-compressing
    * union-find over a collected edge list — O(E α(E)), zero Spark jobs.
    * Node ids may be integral (compared numerically) or strings (compared
    * as unsigned UTF-8 bytes, the exact ordering of Spark's binary
    * UTF8String `min` — `String.compareTo` would diverge on
    * supplementary-plane ids, whose UTF-16 surrogates sort between
    * U+D7FF and U+E000 instead of above all BMP code points).
    * Returns a local (node, label) relation preserving the input id type,
    * value-identical to the distributed loop
    * (`ConnectedComponentsParitySpec`).
    */
  private def driverCc(s: SparkSession, edgeRows: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType, ShortType, StringType, StructField, StructType}
    import scala.collection.mutable
    val dt = schema.head.dataType
    val lt: (Any, Any) => Boolean = dt match {
      case LongType | IntegerType | ShortType =>
        (a, b) => a.asInstanceOf[Number].longValue < b.asInstanceOf[Number].longValue
      case StringType =>
        (a, b) => {
          val x = a.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val y = b.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
          java.util.Arrays.compareUnsigned(x, y) < 0
        }
      case other =>
        throw new IllegalArgumentException(s"unsupported CC node id type: $other")
    }
    val idx = mutable.HashMap.empty[Any, Int]
    val ids = mutable.ArrayBuffer.empty[Any]
    val parent = mutable.ArrayBuffer.empty[Int]
    def nodeIdx(v: Any): Int = idx.getOrElseUpdate(v, {
      ids += v; parent += ids.length - 1; ids.length - 1
    })
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edgeRows.foreach { r =>
      val a = find(nodeIdx(r.get(0)))
      val b = find(nodeIdx(r.get(1)))
      if (a != b) parent(a) = b
    }
    val minOfRoot = mutable.HashMap.empty[Int, Any]
    var i = 0
    while (i < ids.length) {
      val r = find(i)
      val v = ids(i)
      minOfRoot.get(r) match {
        case Some(m) => if (lt(v, m)) minOfRoot(r) = v
        case None    => minOfRoot(r) = v
      }
      i += 1
    }
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](ids.length)
    i = 0
    while (i < ids.length) {
      out.add(org.apache.spark.sql.Row(ids(i), minOfRoot(find(i))))
      i += 1
    }
    s.createDataFrame(out,
      StructType(Seq(StructField("node", dt), StructField("label", dt))))
  }

  private def qDedupClusters(s: SparkSession, dir: String): DataFrame = {
    val dt = bigramShingles(s, dir)
    val labels = connectedComponents(minhashCandidates(dt))
    labels.groupBy("label")
      .agg(count(lit(1)).as("n_docs"), max("node").as("max_doc"))
      .select(col("label").as("cluster_rep"), col("n_docs"), col("max_doc"))
      .orderBy("cluster_rep")
  }

  private def qDedupClustersSql: String =
    s"""WITH RECURSIVE $minhashCandCtes,
       |sym AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM cand
       |  UNION ALL SELECT doc_b, doc_a FROM cand),
       |reach(node, lab) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM sym)
       |  UNION
       |  SELECT sym.src, reach.lab FROM sym JOIN reach ON sym.dst = reach.node),
       |labels AS (SELECT node, min(lab) AS label FROM reach GROUP BY 1)
       |SELECT label AS cluster_rep, count(*) AS n_docs,
       |  CAST(max(node) AS BIGINT) AS max_doc
       |FROM labels GROUP BY 1 ORDER BY 1""".stripMargin

  // --- duplicate-cluster survivor selection ---------------------------------
  //
  // The decision q_dedup_clusters stops short of: WHICH copy survives
  // when a near-dup cluster collapses. Real pipelines pick by a quality
  // rule, not by id — here "longest document wins, smallest id breaks
  // ties", the common keep-the-most-complete-copy policy. Plan: the CC
  // labels join the documents table on doc_id (linear, key-partitioned),
  // and the argmax is a row_number window PARTITIONED BY CLUSTER —
  // bounded by cluster size, never a global sort. At 100 TB the label
  // table is the (small) multi-doc-cluster membership, not the corpus.

  private def qClusterRep(s: SparkSession, dir: String): DataFrame = {
    val labels = connectedComponents(
      minhashCandidates(bigramShingles(s, dir)))
    val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
    val sized = labels.join(docs, labels("node") === docs("doc_id"))
    val w = Window.partitionBy("label").orderBy(desc("n_chars"), col("node"))
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("n_docs"))
    sized.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .join(sizes, "label")
      .select(col("label").as("cluster"), col("node").as("survivor"),
        col("n_chars").as("survivor_chars"), col("n_docs"))
      .orderBy("cluster")
  }

  private def qClusterRepSql: String =
    s"""WITH RECURSIVE $minhashCandCtes,
       |sym AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM cand
       |  UNION ALL SELECT doc_b, doc_a FROM cand),
       |reach(node, lab) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM sym)
       |  UNION
       |  SELECT sym.src, reach.lab FROM sym JOIN reach ON sym.dst = reach.node),
       |labels AS (SELECT node, min(lab) AS label FROM reach GROUP BY 1),
       |sz AS (SELECT label, count(*) AS n_docs FROM labels GROUP BY 1),
       |rk AS (
       |  SELECT l.label, l.node, d.n_chars,
       |    CAST(row_number() OVER (
       |      PARTITION BY l.label ORDER BY d.n_chars DESC, l.node) AS INT) AS rk
       |  FROM labels l JOIN documents d ON d.doc_id = l.node)
       |SELECT r.label AS cluster, CAST(r.node AS BIGINT) AS survivor,
       |  CAST(r.n_chars AS BIGINT) AS survivor_chars, s.n_docs
       |FROM rk r JOIN sz s ON s.label = r.label
       |WHERE r.rk = 1 ORDER BY cluster""".stripMargin

  // --- SoftDeDup: cluster-size reweighting instead of dropping --------------
  //
  // The soft alternative to q_cluster_rep's keep-one policy (SoftDeDup,
  // He et al. 2024): every member of an n-doc near-dup cluster keeps a
  // sampling weight of 1/n instead of n−1 copies being dropped — total
  // evidence per cluster stays 1, unique documents stay at weight 1, and
  // the "effective corpus size" Σw per source is the number the data-mix
  // planner consumes. Weights are integer micros via FLOOR DIVISION
  // (1e6 div n — both engines' integer `div` agree exactly), so the
  // per-source sums are BIGINT-exact. Plan: the CC label table (small —
  // multi-doc-cluster membership only) aggregates to cluster sizes, joins
  // back on the label key, then LEFT-joins the corpus on doc_id; at
  // 100 TB the corpus-side cost is one key-partitioned join + one
  // source-grain agg, and AQE broadcasts the weight table while it fits.

  private def qSoftDedup(s: SparkSession, dir: String): DataFrame = {
    val labels = connectedComponents(minhashCandidates(bigramShingles(s, dir)))
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("n"))
    val wts = labels.join(sizes, "label")
      .select(col("node").as("doc_id"), col("n"))
    t(s, dir, "documents").select("doc_id", "source")
      .join(wts, Seq("doc_id"), "left")
      .withColumn("n", coalesce(col("n"), lit(1L)))
      .withColumn("w_fp", expr("CAST(1000000 AS BIGINT) div n"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_clustered"),
        sum("w_fp").as("eff_docs_fp"))
      .orderBy("source")
  }

  private def qSoftDedupSql: String =
    s"""WITH RECURSIVE $minhashCandCtes,
       |sym AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM cand
       |  UNION ALL SELECT doc_b, doc_a FROM cand),
       |reach(node, lab) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM sym)
       |  UNION
       |  SELECT sym.src, reach.lab FROM sym JOIN reach ON sym.dst = reach.node),
       |labels AS (SELECT node, min(lab) AS label FROM reach GROUP BY 1),
       |sz AS (SELECT label, count(*) AS n FROM labels GROUP BY 1),
       |w AS (SELECT l.node AS doc_id, s.n FROM labels l JOIN sz s USING (label)),
       |j AS (
       |  SELECT d.source, coalesce(w.n, 1) AS n
       |  FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_clustered,
       |  CAST(sum(1000000 // n) AS BIGINT) AS eff_docs_fp
       |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  // --- triangle counting over the near-dup candidate graph ------------------
  //
  // The graph-analytics step past connected components: per-document
  // triangle participation over the LSH candidate graph measures how
  // CLIQUE-LIKE a near-dup neighborhood is (true duplicate groups close
  // their triangles; chains of borderline pairs don't — the standard
  // cluster-quality audit before collapsing a component to one survivor).
  // Skew-proof by DEGREE-ORDERED ORIENTATION (Schank & Wagner 2005):
  // each edge directs from its (degree, id)-smaller endpoint, so the
  // wedge self-join costs Σ d_out² with d_out = O(√m) REGARDLESS of how
  // hot the hottest vertex is — a celebrity node's million neighbors
  // orient INTO it, never out. Each triangle then has exactly one vertex
  // with both out-edges, so closure-counting is exact with no /3 fixup.
  // Plan: degree agg + two vocabulary-sized equi-joins + the oriented
  // wedge join + a semi-join closure against the canonical edge list —
  // every shuffle keyed and linear in wedges.
  // int64 bound (round-5 audit): pure COUNT arithmetic — per-vertex
  // triangles ≤ C(deg, 2) ≤ m and every aggregate is a row count ≤ the
  // wedge count Σd_out² ≤ m^1.5; int64-safe to m ≈ 10¹² edges (wedges
  // 10¹⁸) with no products of counts anywhere. No widening needed.
  /** Per-vertex triangle counts over a canonical edge list
    * (`doc_a < doc_b`, no duplicates). Degree-ordered orientation, so the
    * wedge join is Σd_out² with d_out = O(√m) at any vertex skew; each
    * triangle has exactly one both-out-edges vertex (exact count, no /3).
    * Public for the randomized brute-force parity fuzz.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("doc_a").as("v"))
      .unionAll(edges.select(col("doc_b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // doc_a < doc_b by construction, so the da == db tie orients a → b:
    // orientation is by the total order (degree, id) — acyclic
    val oriented = edges
      .join(deg.toDF("doc_a", "da"), "doc_a")
      .join(deg.toDF("doc_b", "db"), "doc_b")
      .select(
        when(col("da") <= col("db"), col("doc_a")).otherwise(col("doc_b")).as("u"),
        when(col("da") <= col("db"), col("doc_b")).otherwise(col("doc_a")).as("w"))
      .persist()
    val tri = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.w") < col("e2.w"))
      .select(col("e1.u").as("a"), col("e1.w").as("b"), col("e2.w").as("c"))
      .join(edges,
        col("b") === col("doc_a") && col("c") === col("doc_b"), "left_semi")
    tri.select(col("a").as("v"))
      .unionAll(tri.select(col("b").as("v")))
      .unionAll(tri.select(col("c").as("v")))
      .groupBy("v").agg(count(lit(1)).as("tri"))
      .select(col("v").as("doc_id"), col("tri"))
  }

  private def qTriangles(s: SparkSession, dir: String): DataFrame =
    triangleCounts(minhashCandidates(bigramShingles(s, dir)).persist())
      .orderBy(desc("tri"), col("doc_id"))
      .limit(10)

  private def qTrianglesSql: String =
    s"""WITH $minhashCandCtes,
       |deg AS (
       |  SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
       |    SELECT doc_a AS v FROM cand UNION ALL SELECT doc_b FROM cand)
       |  GROUP BY 1),
       |oriented AS (
       |  SELECT CASE WHEN x.d <= y.d THEN doc_a ELSE doc_b END AS u,
       |         CASE WHEN x.d <= y.d THEN doc_b ELSE doc_a END AS w
       |  FROM cand JOIN deg x ON cand.doc_a = x.v
       |            JOIN deg y ON cand.doc_b = y.v),
       |tri AS (
       |  SELECT e1.u AS a, e1.w AS b, e2.w AS c
       |  FROM oriented e1 JOIN oriented e2
       |    ON e1.u = e2.u AND e1.w < e2.w
       |  WHERE EXISTS (SELECT 1 FROM cand
       |                WHERE cand.doc_a = e1.w AND cand.doc_b = e2.w))
       |SELECT v AS doc_id, CAST(count(*) AS BIGINT) AS tri FROM (
       |  SELECT a AS v FROM tri UNION ALL
       |  SELECT b FROM tri UNION ALL
       |  SELECT c FROM tri)
       |GROUP BY 1 ORDER BY tri DESC, doc_id LIMIT 10""".stripMargin

  // --- PageRank over the near-dup candidate graph ---------------------------
  //
  // The canonical web-scale iterative graph computation (Page et al.
  // 1999), here ranking documents by near-dup-graph centrality — a
  // high-rank doc sits at the hub of a duplication neighborhood, the
  // standard signal for picking the CANONICAL copy when a near-dup
  // cluster collapses to one survivor (and, dually, for down-weighting
  // template/boilerplate hubs in corpus curation). Damping 0.85, fixed
  // iteration count, ALL-INTEGER fixed point (rank scaled by 1e9,
  // contributions via integer division) so every intermediate is exact
  // and the oracle can replay the identical arithmetic — float PageRank
  // is schedule-dependent in its sum order and could never hash-match.
  //
  // Scale shape: per iteration ONE key shuffle (the contribution sum on
  // dst) plus a state join that reuses the same hash partitioning; the
  // symmetric edge list is persisted once and re-read per round. A hot
  // vertex's million in-contributions collapse map-side (partial sum);
  // its out-contributions are a 1-row state join fanned by the edge
  // list, never a driver loop. Iterations unroll into one plan (fixed
  // small count — no convergence check, which keeps the DuckDB twin an
  // unrolled CTE chain rather than an unverifiable recursive fixpoint).

  /** Integer-exact PageRank. `edges` = canonical undirected pairs
    * (doc_a < doc_b); rank mass starts at `scale` per node and updates
    * as r' = 0.15·scale + 0.85·Σ_in (r div deg), all in Long arithmetic
    * (deterministic — no float sum-order dependence). Public for the
    * brute-force parity fuzz.
    */
  def pageRank(edges: DataFrame, iters: Int = 3, scale: Long = 1000000000L): DataFrame = {
    val sym = edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(edges.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist()
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    // state carries (node, deg, r) so each round is self-contained
    var state = deg.select(col("src").as("node"), col("deg"), lit(scale).as("r"))
    for (_ <- 0 until iters) {
      val contribs = sym
        .join(state.select(col("node").as("src"), expr("r div deg").as("c")), "src")
        .groupBy(col("dst").as("node")).agg(sum("c").as("cin"))
      // every node of the symmetric graph has in-edges, so inner join
      state = deg.select(col("src").as("node"), col("deg"))
        .join(contribs, "node")
        .select(col("node"), col("deg"),
          (lit(15L * scale / 100) + expr("(85 * cin) div 100")).as("r"))
    }
    state.select(col("node").as("doc_id"), col("r").as("rank"))
  }

  private def qPagerank(s: SparkSession, dir: String): DataFrame =
    pageRank(minhashCandidates(bigramShingles(s, dir)).persist())
      .orderBy(desc("rank"), col("doc_id"))
      .limit(20)

  /** DuckDB twin: the three iterations unrolled as CTEs replaying the
    * identical integer arithmetic (`//` floor-division on positive
    * operands == Spark `div`).
    */
  private def qPagerankSql: String = {
    def round(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT d.src AS node, d.deg,
         |    150000000 + (85 * sum(p.r // p.deg)) // 100 AS r
         |  FROM sym JOIN $prev p ON sym.src = p.node
         |  JOIN deg d ON sym.dst = d.src
         |  GROUP BY 1, 2)""".stripMargin
    s"""WITH $minhashCandCtes,
       |sym AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM cand
       |  UNION ALL SELECT doc_b, doc_a FROM cand),
       |deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY 1),
       |r0 AS (SELECT src AS node, deg, 1000000000 AS r FROM deg),
       |${round("r0", "r1")},
       |${round("r1", "r2")},
       |${round("r2", "r3")}
       |SELECT node AS doc_id, CAST(r AS BIGINT) AS rank
       |FROM r3 ORDER BY rank DESC, doc_id LIMIT 20""".stripMargin
  }

  // --- TextRank keyword extraction --------------------------------------------
  //
  // Mihalcea & Tarau 2004: run PageRank over the word co-occurrence
  // graph and read the top-ranked words off as corpus keywords —
  // composed entirely from battery-verified pieces: the stopword/length
  // content filter (the classic syntactic filter analog), adjacency over
  // the FILTERED token sequence (window 2), md5Sid node ids (no global
  // dictionary window), and the integer-exact [[pageRank]] iteration.
  // Scale shape: the distinct-adjacent-pair edge list is inverted-index
  // sized (bounded by distinct bigrams, stopword hubs already removed);
  // each PageRank round is one key shuffle with map-side partial sums.

  private def qTextrankKeywords(s: SparkSession, dir: String): DataFrame = {
    val kept = sparkToks(s, dir).select(col("doc_id"),
      filter(col("ts"), x =>
        length(x) >= 2 && !array_contains(stopArray, x)).as("ts"))
    val pos = kept.select(col("doc_id"), posexplode(col("ts")).as(Seq("p", "tok")))
    val w = Window.partitionBy("doc_id").orderBy("p")
    val adj = pos.withColumn("nxt", lead("tok", 1).over(w))
      .filter(col("nxt").isNotNull && col("tok") =!= col("nxt"))
      .select(least(col("tok"), col("nxt")).as("ta"),
        greatest(col("tok"), col("nxt")).as("tb"))
      .distinct()
      .persist()
    val edges = adj.select(md5Sid(col("ta"), 10).as("doc_a"),
      md5Sid(col("tb"), 10).as("doc_b"))
    val vocab = adj.select(col("ta").as("tok"))
      .unionByName(adj.select(col("tb").as("tok")))
      .select(md5Sid(col("tok"), 10).as("sid"), col("tok"))
      .groupBy("sid").agg(min("tok").as("tok"))
    pageRank(edges).join(vocab, col("doc_id") === col("sid"))
      .select(col("tok"), col("rank"))
      .orderBy(desc("rank"), col("tok")).limit(15)
  }

  private def qTextrankKeywordsSql: String = {
    def round(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT d.src AS node, d.deg,
         |    150000000 + (85 * sum(p.r // p.deg)) // 100 AS r
         |  FROM sym JOIN $prev p ON sym.src = p.node
         |  JOIN deg d ON sym.dst = d.src
         |  GROUP BY 1, 2)""".stripMargin
    s"""WITH $TokensCte,
       |kt AS (
       |  SELECT doc_id,
       |    list_filter(ts, x -> len(x) >= 2 AND NOT list_contains($stopListSql, x)) AS ts
       |  FROM toks),
       |pos AS (
       |  SELECT doc_id, u.p AS p, u.tk AS tok FROM (
       |    SELECT doc_id, unnest(list_transform(generate_series(1, len(ts)),
       |      i -> {'p': i, 'tk': ts[i]})) AS u
       |    FROM kt) z),
       |nx AS (
       |  SELECT doc_id, tok,
       |    lead(tok) OVER (PARTITION BY doc_id ORDER BY p) AS nxt
       |  FROM pos),
       |adj AS (
       |  SELECT DISTINCT least(tok, nxt) AS ta, greatest(tok, nxt) AS tb
       |  FROM nx WHERE nxt IS NOT NULL AND tok <> nxt),
       |edges AS (
       |  SELECT ${md5SidSql("ta", 10)} AS doc_a, ${md5SidSql("tb", 10)} AS doc_b
       |  FROM adj),
       |vocab AS (
       |  SELECT sid, min(tok) AS tok FROM (
       |    SELECT ${md5SidSql("ta", 10)} AS sid, ta AS tok FROM adj
       |    UNION ALL SELECT ${md5SidSql("tb", 10)}, tb FROM adj) v
       |  GROUP BY 1),
       |sym AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM edges
       |  UNION ALL SELECT doc_b, doc_a FROM edges),
       |deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY 1),
       |r0 AS (SELECT src AS node, deg, 1000000000 AS r FROM deg),
       |${round("r0", "r1")},
       |${round("r1", "r2")},
       |${round("r2", "r3")}
       |SELECT v.tok, CAST(r.r AS BIGINT) AS rank
       |FROM r3 r JOIN vocab v ON r.node = v.sid
       |ORDER BY rank DESC, tok LIMIT 15""".stripMargin
  }

  // --- SimHash (31-bit, token tf-weighted) ----------------------------------

  /** Per-doc 31-bit SimHash signatures — shared by `q_simhash` and the
    * banded Hamming join `q_simhash_hamming`.
    */
  private[graft] def simhashDf(s: SparkSession, dir: String): DataFrame = {
    val toks = sparkToks(s, dir)
    val tf = toks.select(col("doc_id"), explode(col("ts")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    // 7 hex chars: sid < 2^28 keeps sid·2654435761 inside int64
    val hashed = tf
      .withColumn("h", (md5Sid(col("tok"), 7) * 2654435761L) % 2147483648L)
    // all 31 bit-weights as aggregation COLUMNS of one hash aggregate —
    // the earlier crossJoin-with-bits plan multiplied the tf rows 31×
    // through the shuffle; this shape shuffles each tf row once
    val weightCols = (0 until 31).map(j =>
      sum(col("tf") * (expr(s"shiftright(h, $j) % 2") * 2 - 1)).as(s"w$j"))
    val simhashExpr = (0 until 31)
      .map(j => when(col(s"w$j") > 0, lit(1L << j)).otherwise(0L))
      .reduce(_ + _)
    hashed.groupBy("doc_id")
      .agg(weightCols.head, weightCols.tail: _*)
      .select(col("doc_id"), simhashExpr.as("simhash"))
  }

  private def qSimhash(s: SparkSession, dir: String): DataFrame =
    simhashDf(s, dir).orderBy("doc_id")

  /** DuckDB twin of [[simhashDf]]: CTE chain ending in `sh(doc_id, simhash)`. */
  private val SimhashCtes =
    s"""$TokensCte,
       |tf AS (
       |  SELECT doc_id, tok, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(ts) AS tok FROM toks)
       |  GROUP BY 1, 2),
       |hashed AS (
       |  SELECT doc_id, tf, (${md5SidSql("tok", 7)} * 2654435761) % 2147483648 AS h
       |  FROM tf),
       |w AS (
       |  SELECT doc_id, j, sum(tf * (((h // (1::BIGINT << j)) % 2) * 2 - 1)) AS w
       |  FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, 30)) AS j)
       |  GROUP BY 1, 2),
       |sh AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN w > 0 THEN 1::BIGINT << j ELSE 0 END) AS BIGINT)
       |      AS simhash
       |  FROM w GROUP BY 1)""".stripMargin

  private val qSimhashSql =
    s"WITH $SimhashCtes\nSELECT doc_id, simhash FROM sh ORDER BY 1"

  // --- SimHash near-dup: banded Hamming-distance join ------------------------
  //
  // The pair-generation half of the SimHash dedup recipe (Manku et al.,
  // WWW 2007): find all pairs within Hamming distance ≤ d of each other
  // WITHOUT the N² signature comparison. Pigeonhole blocking: split the
  // signature into b = d+1 disjoint bit-bands — any pair differing in at
  // most d bits leaves at least one band untouched, so candidates =
  // pairs agreeing EXACTLY on some band, found by a keyed equi-join on
  // (band_idx, band_value). Recall is exact (a guarantee, not a
  // probability — unlike MinHash banding), and the exact bit_count
  // filter on candidates removes false positives.
  //
  // Scale shape: the signature table is (id, int64) — narrow at any
  // corpus size; the band explode is ×b; the self-join is a hash join
  // keyed on band value whose cost is Σ|bucket|², bounded by band WIDTH:
  // here 31 bits / 2 bands ≈ 15-bit buckets for the sf corpora; at
  // 100 TB use a 64-bit simhash with d+1 bands of 64/(d+1) ≥ 16 bits
  // (Manku's production setting), which keeps expected bucket size
  // N/2^16 — and identical-signature buckets are exact duplicates that
  // q_dedup_exact already collapsed upstream.

  private def qSimhashHamming(s: SparkSession, dir: String): DataFrame = {
    val sh = simhashDf(s, dir)
    // 2 bands (low 15 bits / high 16 bits) ⇒ exact recall for d ≤ 1
    val bands = sh.select(col("doc_id"), col("simhash"),
        explode(array(
          struct(lit(0).as("b"), (col("simhash") % 32768L).as("bv")),
          struct(lit(1).as("b"), expr("simhash div 32768").as("bv")))).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.b").as("b"), col("bb.bv").as("bv"))
    val left = bands.select(col("doc_id").as("doc_a"), col("simhash").as("sa"),
      col("b"), col("bv"))
    val right = bands.select(col("doc_id").as("doc_b"), col("simhash").as("sb"),
      col("b"), col("bv"))
    left.join(right, Seq("b", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sa", "sb")
      .distinct() // a pair may agree on both bands
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(bit_count(sa ^ sb) AS INT)").as("hamming"))
      .filter(col("hamming") <= 1)
      .orderBy("doc_a", "doc_b")
  }

  private val qSimhashHammingSql =
    s"""WITH $SimhashCtes,
       |bands AS (
       |  SELECT doc_id, simhash, b,
       |    CASE WHEN b = 0 THEN simhash % 32768 ELSE simhash // 32768 END AS bv
       |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.simhash AS sa, b.simhash AS sb
       |  FROM bands a JOIN bands b
       |    ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= 1
       |ORDER BY doc_a, doc_b""".stripMargin

  // --- ANN: brute-force cosine top-k ----------------------------------------

  private def embDouble(s: SparkSession, dir: String): DataFrame = {
    // the ANN/near-dup family leans on the codegen'd graft_cosine /
    // graft_lsh_sigs expressions — make them resolvable in any session
    graft.functions.GraftFunctions.register(s)
    t(s, dir, "embeddings").select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
  }

  private def qAnnCosineTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = embDouble(s, dir)
    val q = emb.filter(col("vec_id") === 0).select(col("e").as("qe"))
    emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), Rounding.r(expr("graft_cosine(e, qe)"), 4).as("cos"))
      .orderBy(desc("cos"), col("vec_id"))
      .limit(10)
  }

  private val qAnnCosineTopkSql =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
      |  FROM embeddings),
      |q AS (SELECT e AS qe FROM e WHERE vec_id = 0)
      |SELECT vec_id,
      |  floor((list_sum(list_transform(generate_series(1, len(e)), i -> e[i] * qe[i])) /
      |    (sqrt(list_sum(list_transform(e, x -> x * x))) *
      |     sqrt(list_sum(list_transform(qe, x -> x * x))))) * 1e4 + 0.5) / 1e4 AS cos
      |FROM e, q WHERE vec_id <> 0
      |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin

  // --- ANN: band-amplified (AND-OR) random-hyperplane LSH -------------------
  //
  // b bands × r bits: two vectors are candidates when they agree on ALL r
  // hyperplane signs within ANY band. r scales with the corpus —
  // r = max(4, ceil(log2(N / 16))) targets ~16 vectors per bucket, so
  // buckets per band reach 2^12+ once N passes ~65k and the within-bucket
  // join stays linear-ish in N instead of N²/16 (the round-1 design's
  // fixed 4 hyperplanes). Hyperplanes are integer-valued so both engines
  // agree bit-for-bit: h_i[d] = ((d·(i+2) + i²) mod 11) − 5, with global
  // hyperplane index i = band·r + k.

  private val LshBands = graft.functions.ExprHelpers.LshBands

  /** DuckDB twin of [[SigsExpr]] as a per-band struct list (band, sig). */
  private val SigsSqlStructs =
    s"""list_transform(generate_series(0, ${LshBands - 1}), j ->
       |  {'band': j, 'sig': list_sum(list_transform(generate_series(0, r - 1), k ->
       |    CASE WHEN list_sum(list_transform(generate_series(1, len(e)), d ->
       |      e[d] * (((d - 1) * (j * r + k + 2) + (j * r + k) * (j * r + k)) % 11 - 5))) > 0
       |    THEN (1::BIGINT << k) ELSE 0::BIGINT END))})""".stripMargin

  private val StatsRSql =
    "SELECT count(*) AS n, greatest(4, CAST(ceil(log2(count(*) / 16.0)) AS INT)) AS r FROM e0"

  /** (vec_id, e, band, sig) rows — one per vector per band. */
  private[graft] def bandSigs(s: SparkSession, dir: String): DataFrame = {
    val emb = embDouble(s, dir)
    val stats = emb.agg(count(lit(1)).as("n"))
      .withColumn("r", greatest(lit(4), ceil(log2(col("n") / 16.0)).cast("int")))
    // graft_lsh_sigs is the codegen'd Catalyst expression computing all
    // LshBands signatures in one loop nest (the earlier
    // transform/aggregate/sequence HOF composition evaluated ~b·r·|e|
    // interpreted lambdas per row — the family's dominant per-vector cost)
    emb.crossJoin(broadcast(stats))
      .withColumn("sigs", expr("graft_lsh_sigs(e, r)"))
      .select(col("vec_id"), col("e"), posexplode(col("sigs")).as(Seq("band", "sig")))
  }

  /** LSH candidate pairs with exact quantized-L2 distances. The distance
    * is computed PER BAND-COLLISION ROW — a few dozen flops — so the
    * pair-dedup shuffle carries 24 bytes/row; the earlier
    * first(ea)/first(eb) shape moved the two 64-dim vectors (~1 KB/row)
    * through the exchange at any corpus size. A pair agreeing on m bands
    * recomputes the distance m times, m ≤ ExprHelpers.LshBands: flops
    * are cheaper than shuffle bytes.
    */
  private[graft] def lshPairDists(s: SparkSession, dir: String): DataFrame = Shared("lshPairDists", s, dir) {
    val sigs = bandSigs(s, dir)
    val a = sigs.select(col("vec_id").as("id_a"), col("e").as("ea"),
      col("band"), col("sig"))
    val b = sigs.select(col("vec_id").as("id_b"), col("e").as("eb"),
      col("band"), col("sig"))
    a.join(b, Seq("band", "sig"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", expr("graft_l2q(ea, eb)"))
      .groupBy("id_a", "id_b").agg(first("dist").as("dist"))
      .select("id_a", "id_b", "dist")
  }

  private[graft] val BandSigsCte =
    s"""e0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
       |  FROM embeddings),
       |st AS ($StatsRSql),
       |sg AS (
       |  SELECT vec_id, e, u.band AS band, u.sig AS sig FROM (
       |    SELECT vec_id, e, unnest($SigsSqlStructs) AS u
       |    FROM e0 CROSS JOIN st) x)""".stripMargin

  private def qAnnLshBucket(s: SparkSession, dir: String): DataFrame = {
    // persisted: the signature computation (b·r 64-dim hyperplane dots per
    // vector) feeds both the query-side filter and the probe join
    val sigs = bandSigs(s, dir).persist()
    val q = sigs.filter(col("vec_id") === 0)
      .select(col("e").as("qe"), col("band").as("qband"), col("sig").as("qsig"))
    // candidates = any band agreement with the query (multiprobe-by-band)
    sigs.join(broadcast(q),
        col("band") === col("qband") && col("sig") === col("qsig"))
      .filter(col("vec_id") =!= 0)
      .groupBy("vec_id").agg(first("e").as("e"), first("qe").as("qe"),
        count(lit(1)).as("bands_hit"))
      .select(col("vec_id"), col("bands_hit"),
        Rounding.r(expr("graft_cosine(e, qe)"), 4).as("cos"))
      .orderBy(desc("cos"), col("vec_id"))
      .limit(5)
  }

  private val qAnnLshBucketSql =
    s"""WITH $BandSigsCte,
       |q AS (SELECT e AS qe, band AS qband, sig AS qsig FROM sg WHERE vec_id = 0),
       |cand AS (
       |  SELECT sg.vec_id, any_value(sg.e) AS e, any_value(q.qe) AS qe,
       |    count(*) AS bands_hit
       |  FROM sg JOIN q ON sg.band = q.qband AND sg.sig = q.qsig
       |  WHERE sg.vec_id <> 0 GROUP BY 1)
       |SELECT vec_id, bands_hit,
       |  floor((list_sum(list_transform(generate_series(1, len(e)), i -> e[i] * qe[i])) /
       |    (sqrt(list_sum(list_transform(e, x -> x * x))) *
       |     sqrt(list_sum(list_transform(qe, x -> x * x))))) * 1e4 + 0.5) / 1e4 AS cos
       |FROM cand
       |ORDER BY cos DESC, vec_id LIMIT 5""".stripMargin

  // --- embedding-cosine near-dup (band-amplified LSH blocking) --------------
  //
  // The dedup-flavored twin of the ANN queries: candidate pairs are
  // generated ONLY where a band signature agrees (same band machinery as
  // q_ann_lsh_bucket — b bands × r corpus-scaled bits, so bucket count
  // grows with N and the within-bucket join stays sub-quadratic), then
  // verified with exact cosine ≥ threshold. The shuffle key IS
  // (band, sig): each task sees one bucket's block.

  private def qEmbedNeardup(s: SparkSession, dir: String): DataFrame = {
    // persisted: consumed by BOTH sides of the band self-join — without
    // the cache the b·r hyperplane signature pass runs twice
    val sigs = bandSigs(s, dir).persist()
    val a = sigs.select(col("vec_id").as("id_a"), col("e").as("ea"),
      col("band"), col("sig"))
    val b = sigs.select(col("vec_id").as("id_b"), col("e").as("eb"),
      col("band"), col("sig"))
    a.join(b, Seq("band", "sig"))
      .filter(col("id_a") < col("id_b"))
      // a pair can collide in several bands — count them (the OR of the
      // AND-OR), then verify. The cosine is computed per collision row
      // (≤ LshBands recomputes) so the dedup shuffle carries a double,
      // not the two vectors.
      .withColumn("cos", expr("graft_cosine(ea, eb)"))
      .groupBy("id_a", "id_b")
      .agg(first("cos").as("cos"), count(lit(1)).as("bands_hit"))
      .filter(col("cos") > 0.3)
      .select(col("id_a"), col("id_b"), col("bands_hit"),
        Rounding.r(col("cos"), 4).as("cos"))
      .orderBy("id_a", "id_b")
  }

  private val qEmbedNeardupSql =
    s"""WITH $BandSigsCte,
       |cand AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    any_value(a.e) AS ea, any_value(b.e) AS eb, count(*) AS bands_hit
       |  FROM sg a JOIN sg b
       |    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
       |  GROUP BY 1, 2),
       |p AS (
       |  SELECT id_a, id_b, bands_hit,
       |    list_sum(list_transform(generate_series(1, len(ea)), i -> ea[i] * eb[i])) /
       |      (sqrt(list_sum(list_transform(ea, x -> x * x))) *
       |       sqrt(list_sum(list_transform(eb, x -> x * x)))) AS cos
       |  FROM cand)
       |SELECT id_a, id_b, bands_hit, floor((cos) * 1e4 + 0.5) / 1e4 AS cos FROM p
       |WHERE cos > 0.3 ORDER BY id_a, id_b""".stripMargin

  // --- contrastive hard-negative mining -------------------------------------
  //
  // Embedding-model training wants, per anchor vector, the most SIMILAR
  // vectors of a DIFFERENT label — "hard negatives", the pairs that
  // actually move a contrastive loss. Candidates come from the same
  // band-amplified LSH agreement join as q_ann_lsh_bucket (sub-quadratic;
  // the anchor table is a broadcast, the corpus side never shuffles),
  // same-label rows are filtered out AFTER candidate generation (labels
  // ride a narrow broadcast-joined projection), and each anchor keeps its
  // top-NegK by exact cosine via a window over its own candidate set —
  // bounded by bucket size × bands, never the corpus. At 100 TB this is
  // the mining job behind every hard-negative curriculum: one signature
  // pass + one bucket join per refresh.

  private val NegAnchors = 3
  private val NegK = 5

  private def qHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val lbl = t(s, dir, "embeddings").select(col("vec_id"), col("label"))
    // persisted: the b·r-hyperplane signature pass feeds the anchor
    // projection and the corpus side of the candidate join
    val sigs = bandSigs(s, dir).persist()
    val anchors = sigs.filter(col("vec_id") < NegAnchors)
      .join(lbl, "vec_id")
      .select(col("vec_id").as("anchor"), col("e").as("ae"),
        col("label").as("albl"), col("band").as("ab"), col("sig").as("asig"))
    val cands = sigs.join(broadcast(anchors),
        col("band") === col("ab") && col("sig") === col("asig") &&
          col("vec_id") =!= col("anchor"))
      .groupBy("anchor", "vec_id")
      .agg(first("ae").as("ae"), first("albl").as("albl"), first("e").as("e"))
      .join(lbl, "vec_id")
      .filter(col("label") =!= col("albl"))
      .select(col("anchor"), col("vec_id"), col("label"),
        Rounding.r(expr("graft_cosine(e, ae)"), 4).as("cos"))
    val w = Window.partitionBy("anchor").orderBy(desc("cos"), col("vec_id"))
    cands.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= NegK)
      .select("anchor", "vec_id", "label", "cos", "rk")
      .orderBy("anchor", "rk")
  }

  private def qHardNegativesSql: String =
    s"""WITH $BandSigsCte,
       |lb AS (SELECT vec_id, label FROM embeddings),
       |an AS (
       |  SELECT sg.vec_id AS anchor, sg.e AS ae, lb.label AS albl,
       |    sg.band AS ab, sg.sig AS asig
       |  FROM sg JOIN lb ON lb.vec_id = sg.vec_id WHERE sg.vec_id < $NegAnchors),
       |cd AS (
       |  SELECT an.anchor, sg.vec_id, any_value(an.ae) AS ae,
       |    any_value(an.albl) AS albl, any_value(sg.e) AS e
       |  FROM sg JOIN an
       |    ON sg.band = an.ab AND sg.sig = an.asig AND sg.vec_id <> an.anchor
       |  GROUP BY 1, 2),
       |sc AS (
       |  SELECT cd.anchor, cd.vec_id, lb.label,
       |    floor(${cosSql("cd.e", "cd.ae")} * 1e4 + 0.5) / 1e4 AS cos
       |  FROM cd JOIN lb ON lb.vec_id = cd.vec_id
       |  WHERE lb.label <> cd.albl),
       |rk AS (
       |  SELECT anchor, vec_id, label, cos,
       |    CAST(row_number() OVER (
       |      PARTITION BY anchor ORDER BY cos DESC, vec_id) AS INT) AS rk
       |  FROM sc)
       |SELECT anchor, vec_id, label, cos, rk FROM rk
       |WHERE rk <= $NegK ORDER BY anchor, rk""".stripMargin

  // --- per-group embedding drift monitor -------------------------------------
  //
  // The distribution-shift audit an embedding pipeline runs per refresh:
  // each group's centroid vs the global centroid, reported as an L1 drift
  // score per group (label stands in for the source/shard axis). Cross-row
  // ELEMENTWISE float sums are order-dependent, so the centroid math runs
  // on fixed-point integers: x → floor(x·2^20) per dimension (exact — a
  // float's 24-bit mantissa times 2^20 is an exact double), per-(group,
  // dim) integer sums are order-immune, means re-fix-pointed at 2^10, and
  // the per-group L1 is an integer sum of |Δmfp| — one double division at
  // the end. Plan: one posexplode (linear in N·d), two-level hash aggs
  // keyed by (group, dim) and (dim) — never a window, never a collect;
  // the dim-keyed global table is d rows, broadcast by AQE into the
  // final join at any corpus size.

  private def qEmbedDrift(s: SparkSession, dir: String): DataFrame = {
    // persisted: the fixed-point projection feeds the per-group and the
    // global aggregations
    val fp = t(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"),
        floor(col("x").cast("double") * lit(1048576.0)).cast("long").as("fp"))
      .persist()
    val byLabel = fp.groupBy("label", "dim")
      .agg(count(lit(1)).as("n"), sum("fp").as("sfp"))
      .withColumn("mfp", floor(col("sfp") * lit(1024.0) / col("n")).cast("long"))
    val global = fp.groupBy("dim")
      .agg(count(lit(1)).as("gn"), sum("fp").as("gsfp"))
      .withColumn("gmfp", floor(col("gsfp") * lit(1024.0) / col("gn")).cast("long"))
    byLabel.join(global, "dim")
      .groupBy("label")
      .agg(max("n").as("n_vecs"),
        sum(abs(col("mfp") - col("gmfp"))).cast("long").as("l1_fp"))
      .select(col("label"), col("n_vecs"), col("l1_fp"),
        Rounding.r(col("l1_fp") / lit(1073741824.0), 6).as("l1_drift"))
      .orderBy("label")
  }

  private def qEmbedDriftSql: String =
    s"""WITH fp AS (
       |  SELECT label, u.dim AS dim,
       |    CAST(floor(u.x * 1048576.0) AS BIGINT) AS fp
       |  FROM (
       |    SELECT label, unnest(list_transform(generate_series(1, len(embedding)),
       |      i -> {'dim': i - 1, 'x': embedding[i]::DOUBLE})) AS u
       |    FROM embeddings) t),
       |bl AS (
       |  SELECT label, dim, count(*) AS n,
       |    CAST(floor(sum(fp) * 1024.0 / count(*)) AS BIGINT) AS mfp
       |  FROM fp GROUP BY 1, 2),
       |g AS (
       |  SELECT dim,
       |    CAST(floor(sum(fp) * 1024.0 / count(*)) AS BIGINT) AS gmfp
       |  FROM fp GROUP BY 1),
       |j AS (
       |  SELECT b.label, max(b.n) AS n_vecs,
       |    CAST(sum(abs(b.mfp - g.gmfp)) AS BIGINT) AS l1_fp
       |  FROM bl b JOIN g ON b.dim = g.dim GROUP BY 1)
       |SELECT label, CAST(n_vecs AS BIGINT) AS n_vecs, l1_fp,
       |  ${Rounding.rSql("l1_fp / 1073741824.0", 6)} AS l1_drift
       |FROM j ORDER BY label""".stripMargin

  // --- ANN: IVF cell-probed search, nlist ~ √N + multiprobe -----------------
  //
  // Deterministic "trained" centroids = the first nlist vectors, where
  // nlist = max(8, ⌊√N⌋) — the textbook IVF sizing, so cells keep ~√N
  // members as the corpus grows instead of N/8 (the round-1 fixed-nlist
  // design). Every other vector is assigned to its max-cosine centroid
  // (broadcast argmax — the centroid table stays √N-small); the query
  // MULTIPROBES its top-2 cells (recovers the recall a single probe loses
  // at cell boundaries) and ranks those candidates by exact cosine.

  private def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb0 = embDouble(s, dir)
    val stats = emb0.agg(count(lit(1)).as("n"))
      .withColumn("nlist", greatest(lit(8L), floor(sqrt(col("n")))))
    val emb = emb0.crossJoin(broadcast(stats))
    val cents = emb.filter(col("vec_id") < col("nlist"))
      .select(col("vec_id").as("cid"), col("e").as("ce"))
    def cosAgainst(ecol: String, ccol: String) = expr(s"graft_cosine($ecol, $ccol)")
    val ranked = emb.filter(col("vec_id") >= col("nlist"))
      .crossJoin(broadcast(cents))
      .withColumn("ccos", cosAgainst("e", "ce"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
          .orderBy(desc("ccos"), col("cid"))))
    val assigned = ranked.filter(col("rn") === 1)
      .select(col("vec_id"), col("e"), col("cid").as("cell"), col("nlist"))
    // multiprobe: the query's top-2 cells
    val qcells = ranked.filter(col("vec_id") === col("nlist") && col("rn") <= 2)
      .select(col("e").as("qe"), col("cid").as("qcell"))
    assigned.join(broadcast(qcells), col("cell") === col("qcell"))
      .filter(col("vec_id") =!= col("nlist"))
      .withColumn("cos", cosAgainst("e", "qe"))
      .select(col("vec_id"), col("cell"), Rounding.r(col("cos"), 4).as("cos"))
      .orderBy(desc("cos"), col("vec_id"))
      .limit(5)
  }

  private val qAnnIvfSql =
    """WITH e0 AS (
      |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
      |  FROM embeddings),
      |st AS (SELECT greatest(8, CAST(floor(sqrt(count(*))) AS BIGINT)) AS nlist FROM e0),
      |cents AS (SELECT vec_id AS cid, e AS ce FROM e0 CROSS JOIN st WHERE vec_id < nlist),
      |scored AS (
      |  SELECT e0.vec_id, e0.e, cents.cid, st.nlist,
      |    row_number() OVER (PARTITION BY e0.vec_id ORDER BY
      |      list_sum(list_transform(generate_series(1, len(e0.e)), i -> e0.e[i] * cents.ce[i])) /
      |        (sqrt(list_sum(list_transform(e0.e, x -> x * x))) *
      |         sqrt(list_sum(list_transform(cents.ce, x -> x * x)))) DESC, cents.cid) AS rn
      |  FROM e0 CROSS JOIN st CROSS JOIN cents WHERE e0.vec_id >= st.nlist),
      |assigned AS (SELECT vec_id, e, cid AS cell, nlist FROM scored WHERE rn = 1),
      |q AS (SELECT e AS qe, cid AS qcell FROM scored WHERE vec_id = nlist AND rn <= 2)
      |SELECT vec_id, cell,
      |  floor((list_sum(list_transform(generate_series(1, len(e)), i -> e[i] * qe[i])) /
      |    (sqrt(list_sum(list_transform(e, x -> x * x))) *
      |     sqrt(list_sum(list_transform(qe, x -> x * x))))) * 1e4 + 0.5) / 1e4 AS cos
      |FROM assigned JOIN q ON assigned.cell = q.qcell
      |WHERE vec_id <> nlist
      |ORDER BY cos DESC, vec_id LIMIT 5""".stripMargin

  // --- ANN recall measurement ----------------------------------------------

  /** Recall@10 of the IVF top-2-multiprobe against the exact brute-force
    * top-10, measured in-engine over 8 probe vectors — "measure, don't
    * guess" for the ANN family: the approximation quality of the
    * `q_ann_ivf` structure is a NUMBER the pipeline reports, not a hope.
    * The exact leg is a linear scan per probe (that is the point — it is
    * the ground truth) run over a probe SAMPLE; at 100 TB this query is
    * the recall-audit job you run on a sampled slice after (re)building
    * an index, never the serving path. All ranks cut map-side via
    * partial WindowGroupLimit; centroid/probe tables ride broadcasts.
    *
    * Reading the number: the synthetic embeddings are ISOTROPIC random
    * vectors, so IVF recall here sits near the probed-cell fraction
    * (2 cells of ~√N ≈ 0.09 at sf0.01 — measured 0.1-0.3), which is the
    * information-theoretic floor for cluster-free data; on real
    * embeddings (which cluster) the same structure recalls far higher.
    * The query's job is to MEASURE that, per corpus.
    */
  private def qAnnRecall(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb0 = embDouble(s, dir)
    val stats = emb0.agg(count(lit(1)).as("n"))
      .withColumn("nlist", greatest(lit(8L), floor(sqrt(col("n")))))
    val emb = emb0.crossJoin(broadcast(stats))
    val cents = emb.filter(col("vec_id") < col("nlist"))
      .select(col("vec_id").as("cid"), col("e").as("ce"))
    val corpus = emb.filter(col("vec_id") >= col("nlist"))
    val probes = corpus.filter(col("vec_id") < col("nlist") + 8)
      .select(col("vec_id").as("probe_id"), col("e").as("qe"))

    val wProbe = Window.partitionBy("probe_id")
      .orderBy(desc("cos"), col("vec_id"))
    val exact = corpus.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", expr("graft_cosine(e, qe)"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= 10)
      .select("probe_id", "vec_id")

    val wVec = Window.partitionBy("vec_id").orderBy(desc("ccos"), col("cid"))
    val assigned = corpus.crossJoin(broadcast(cents))
      .withColumn("ccos", expr("graft_cosine(e, ce)"))
      .withColumn("rn", row_number().over(wVec))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("e"), col("cid").as("cell"))
    val pcells = probes.crossJoin(broadcast(cents))
      .withColumn("ccos", expr("graft_cosine(qe, ce)"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("probe_id").orderBy(desc("ccos"), col("cid"))))
      .filter(col("rn") <= 2)
      .select(col("probe_id"), col("cid").as("qcell"), col("qe"))
    val approx = assigned.join(broadcast(pcells), col("cell") === col("qcell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", expr("graft_cosine(e, qe)"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= 10)
      .select("probe_id", "vec_id")

    val hits = exact.join(approx, Seq("probe_id", "vec_id"))
      .groupBy("probe_id").agg(count(lit(1)).as("n_hit"))
    probes.select("probe_id").join(hits, Seq("probe_id"), "left")
      .na.fill(0L, Seq("n_hit"))
      .select(col("probe_id"), col("n_hit"),
        (col("n_hit") / 10.0).as("recall"))
      .orderBy("probe_id")
  }

  private val qAnnRecallSql =
    s"""WITH e0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
       |  FROM embeddings),
       |st AS (SELECT greatest(8, CAST(floor(sqrt(count(*))) AS BIGINT)) AS nlist FROM e0),
       |cents AS (SELECT vec_id AS cid, e AS ce FROM e0 CROSS JOIN st WHERE vec_id < nlist),
       |corpus AS (SELECT vec_id, e, nlist FROM e0 CROSS JOIN st WHERE vec_id >= nlist),
       |probes AS (SELECT vec_id AS probe_id, e AS qe FROM corpus WHERE vec_id < nlist + 8),
       |exact AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT p.probe_id, c.vec_id, row_number() OVER (PARTITION BY p.probe_id
       |      ORDER BY ${cosSql("c.e", "p.qe")} DESC, c.vec_id) AS rn
       |    FROM corpus c CROSS JOIN probes p WHERE c.vec_id <> p.probe_id)
       |  WHERE rn <= 10),
       |assigned AS (
       |  SELECT vec_id, e, cell FROM (
       |    SELECT c.vec_id, c.e, ct.cid AS cell, row_number() OVER (PARTITION BY c.vec_id
       |      ORDER BY ${cosSql("c.e", "ct.ce")} DESC, ct.cid) AS rn
       |    FROM corpus c CROSS JOIN cents ct)
       |  WHERE rn = 1),
       |pcells AS (
       |  SELECT probe_id, qcell, qe FROM (
       |    SELECT p.probe_id, ct.cid AS qcell, p.qe, row_number() OVER (PARTITION BY p.probe_id
       |      ORDER BY ${cosSql("p.qe", "ct.ce")} DESC, ct.cid) AS rn
       |    FROM probes p CROSS JOIN cents ct)
       |  WHERE rn <= 2),
       |approx AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT p.probe_id, a.vec_id, row_number() OVER (PARTITION BY p.probe_id
       |      ORDER BY ${cosSql("a.e", "p.qe")} DESC, a.vec_id) AS rn
       |    FROM assigned a JOIN pcells p ON a.cell = p.qcell
       |    WHERE a.vec_id <> p.probe_id)
       |  WHERE rn <= 10),
       |hits AS (
       |  SELECT e.probe_id, count(*) AS c
       |  FROM exact e JOIN approx a ON e.probe_id = a.probe_id AND e.vec_id = a.vec_id
       |  GROUP BY 1)
       |SELECT p.probe_id, CAST(coalesce(h.c, 0) AS BIGINT) AS n_hit,
       |  coalesce(h.c, 0) / 10.0 AS recall
       |FROM probes p LEFT JOIN hits h ON p.probe_id = h.probe_id
       |ORDER BY 1""".stripMargin

  // --- ANN: LSH recall audit (completes the audit trio with IVF + PQ) -------
  //
  // Recall@10 of the band-amplified LSH candidates vs exact brute force,
  // per probe — the same measure-don't-guess discipline as q_ann_recall
  // (IVF) and q_pq_recall (PQ), for the third index family. The exact
  // leg is the point (ground truth over a probe sample); the approx leg
  // ranks only the band-agreement candidates. At 100 TB this is the
  // post-build audit job over a sampled probe set, not the serving path.

  private def qLshRecall(s: SparkSession, dir: String): DataFrame = {
    // persisted: signatures feed the probe projection and the corpus
    // side of the candidate join
    val sigs = bandSigs(s, dir).persist()
    val emb = embDouble(s, dir)
    val probes = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("probe_id"), col("e").as("qe"))
    val wProbe = Window.partitionBy("probe_id").orderBy(desc("cos"), col("vec_id"))
    val exact = emb.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", expr("graft_cosine(e, qe)"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= 10)
      .select("probe_id", "vec_id")
    val pb = sigs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("probe_id"),
        col("band").as("qband"), col("sig").as("qsig"))
    val approx = sigs.join(broadcast(pb),
        col("band") === col("qband") && col("sig") === col("qsig") &&
          col("vec_id") =!= col("probe_id"))
      .groupBy("probe_id", "vec_id").agg(first("e").as("e"))
      .join(broadcast(probes), "probe_id")
      .withColumn("cos", expr("graft_cosine(e, qe)"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= 10)
      .select("probe_id", "vec_id")
    val hits = exact.join(approx, Seq("probe_id", "vec_id"))
      .groupBy("probe_id").agg(count(lit(1)).as("n_hit"))
    probes.select("probe_id").join(hits, Seq("probe_id"), "left")
      .na.fill(0L, Seq("n_hit"))
      .select(col("probe_id"), col("n_hit"),
        (col("n_hit") / 10.0).as("recall"))
      .orderBy("probe_id")
  }

  private def qLshRecallSql: String =
    s"""WITH $BandSigsCte,
       |pe AS (SELECT vec_id AS probe_id, e AS qe FROM e0 WHERE vec_id < 8),
       |ex AS (SELECT probe_id, vec_id FROM (
       |  SELECT p.probe_id, c.vec_id,
       |    row_number() OVER (PARTITION BY p.probe_id
       |      ORDER BY ${cosSql("c.e", "p.qe")} DESC, c.vec_id) AS rn
       |  FROM e0 c CROSS JOIN pe p WHERE c.vec_id <> p.probe_id) x
       |  WHERE rn <= 10),
       |pb AS (SELECT vec_id AS probe_id, band AS qband, sig AS qsig
       |  FROM sg WHERE vec_id < 8),
       |cd AS (SELECT pb.probe_id, sg.vec_id, any_value(sg.e) AS e
       |  FROM sg JOIN pb ON sg.band = pb.qband AND sg.sig = pb.qsig
       |    AND sg.vec_id <> pb.probe_id
       |  GROUP BY 1, 2),
       |ap AS (SELECT probe_id, vec_id FROM (
       |  SELECT cd.probe_id, cd.vec_id,
       |    row_number() OVER (PARTITION BY cd.probe_id
       |      ORDER BY ${cosSql("cd.e", "pe.qe")} DESC, cd.vec_id) AS rn
       |  FROM cd JOIN pe ON pe.probe_id = cd.probe_id) y
       |  WHERE rn <= 10),
       |h AS (SELECT e.probe_id, count(*) AS n_hit
       |  FROM ex e JOIN ap a ON a.probe_id = e.probe_id AND a.vec_id = e.vec_id
       |  GROUP BY 1)
       |SELECT p.probe_id, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       |  coalesce(h.n_hit, 0) / 10.0 AS recall
       |FROM pe p LEFT JOIN h ON h.probe_id = p.probe_id
       |ORDER BY p.probe_id""".stripMargin

  // --- ANN: product quantization (ADC scan) ---------------------------------
  //
  // The 100 TB STORAGE path for the ANN family: instead of scanning raw
  // float vectors (d×4 bytes per row) a PQ index scans m one-byte codes.
  // Each vector is split into m subspaces; each subspace has a small
  // codebook and the vector stores only the index of its nearest
  // codeword (argmin L2). A query is scored with asymmetric distance
  // computation (ADC): per subspace, a lookup table of query·codeword
  // dots; the score is the j-ordered sum of the m looked-up terms —
  // at d=64, m=8 the scan reads 8 codes instead of 64 floats, a 32×
  // shrink (Jégou et al., "Product Quantization for Nearest Neighbor
  // Search", TPAMI 2011). Codebook here = the first-ks vectors' slices
  // (deterministic and SQL-expressible — the same convention as
  // q_ann_ivf's first-nlist centroids) so DuckDB reproduces the codes
  // and ADC scores bit-for-bit; a k-means-trained codebook drops in
  // without changing the encode/ADC plan shape.
  // Every distance/dot is a left-to-right fold in both engines, and the
  // over-j sum is an explicit j-ordered fold (collect→sort_array→
  // aggregate vs list(term ORDER BY j)→list_sum), so the doubles agree
  // bit-for-bit and only the displayed score needs [[Rounding]].

  private val PqM = 8      // subspaces
  private val PqKs = 8     // codewords per subspace (first-ks rows)
  private val PqNq = 4     // probe vectors: vec_id ∈ [ks, ks+4)
  private val PqTopK = 5

  /** The KEY-ordered double fold: collect (key, value) pairs, sort by
    * key, fold values left-to-right — THE cross-engine bit-
    * reproducibility contract for float sums over unordered groupBys
    * (DuckDB twin: `list_sum(list(value ORDER BY key))`). One
    * definition for every query that relies on it, so the contract
    * cannot drift per copy.
    */
  private def orderedSum(key: String, value: String): Column = expr(
    s"aggregate(transform(sort_array(collect_list(struct($key, $value))), s -> s.$value), 0D, (acc, x) -> acc + x)")

  // 0-based subspace j's slice of the vector (subspace width d/m)
  private val pqSvExpr = s"slice(e, j * (size(e) DIV $PqM) + 1, size(e) DIV $PqM)"
  private def pqSubspaces(df: DataFrame): DataFrame = df
    .select(col("vec_id"), explode(sequence(lit(0), lit(PqM - 1))).as("j"),
      col("e"))
    .select(col("vec_id"), col("j"), expr(pqSvExpr).as("sv"))

  /** The first-ks-rows codebook of [[qAnnPq]]/[[qPqRecall]]. */
  private def pqCodebook(emb: DataFrame): DataFrame =
    pqSubspaces(emb.filter(col("vec_id") < PqKs))
      .select(col("vec_id").cast("int").as("cid"), col("j"),
        col("sv").as("cent"))

  /** encode: per (vector, subspace) the argmin-L2 codeword (ties → cid).
    * The codebook rides a broadcast (m·ks rows — KBs at any corpus
    * size); the argmin is `min(struct(d2, cid))` — struct ordering IS
    * (d2 asc, cid asc), and unlike a row_number window the min is a
    * PARTIAL hash aggregate: each task reduces its ks candidate rows per
    * (vector, subspace) to one before the shuffle, so the exchange
    * carries N·m rows, not N·m·ks.
    */
  private def pqCodes(subv: DataFrame, cb: DataFrame): DataFrame =
    subv.join(broadcast(cb), Seq("j"))
      .withColumn("d2", expr(
        "aggregate(zip_with(sv, cent, (a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x)"))
      .groupBy("vec_id", "j")
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("j"), col("m.cid").as("cid"))

  /** ADC terms: term_j = q_sub_j · codeword(code_j), for probes
    * `(probe_id, j, qsv)`; summed in j order by the callers.
    */
  private def pqAdcTerms(codes: DataFrame, cb: DataFrame,
      probesub: DataFrame): DataFrame =
    codes.join(broadcast(cb), Seq("j", "cid"))
      .join(broadcast(probesub), Seq("j"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("term", expr(
        "aggregate(zip_with(qsv, cent, (a, b) -> a * b), 0D, (acc, x) -> acc + x)"))

  private def qAnnPq(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = embDouble(s, dir)
    val cb = pqCodebook(emb)
    val subv = pqSubspaces(emb.filter(col("vec_id") >= PqKs))
    val codes = pqCodes(subv, cb)
    val probesub = subv.filter(col("vec_id") < PqKs + PqNq)
      .select(col("vec_id").as("probe_id"), col("j"), col("sv").as("qsv"))
    val terms = pqAdcTerms(codes, cb, probesub)
    terms.groupBy("probe_id", "vec_id")
      .agg(orderedSum("j", "term").as("adc0"))
      .withColumn("adc", Rounding.r(col("adc0"), 4))
      .withColumn("rn", row_number().over(
        Window.partitionBy("probe_id").orderBy(desc("adc"), col("vec_id"))))
      .filter(col("rn") <= PqTopK)
      .select(col("probe_id"), col("vec_id"), col("adc"))
      .orderBy("probe_id", "vec_id")
  }

  private val qAnnPqSql =
    s"""WITH e0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
       |  FROM embeddings),
       |js AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS j),
       |cb AS (
       |  SELECT CAST(vec_id AS INT) AS cid, j,
       |    e[j * (len(e) // $PqM) + 1 : (j + 1) * (len(e) // $PqM)] AS cent
       |  FROM e0 CROSS JOIN js WHERE vec_id < $PqKs),
       |subv AS (
       |  SELECT vec_id, j,
       |    e[j * (len(e) // $PqM) + 1 : (j + 1) * (len(e) // $PqM)] AS sv
       |  FROM e0 CROSS JOIN js WHERE vec_id >= $PqKs),
       |codes AS (
       |  SELECT vec_id, j, cid FROM (
       |    SELECT v.vec_id, v.j, c.cid,
       |      row_number() OVER (PARTITION BY v.vec_id, v.j ORDER BY
       |        list_sum(list_transform(generate_series(1, len(v.sv)),
       |          i -> (v.sv[i] - c.cent[i]) * (v.sv[i] - c.cent[i]))) ASC,
       |        c.cid) AS rn
       |    FROM subv v JOIN cb c USING (j))
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS probe_id, j, sv AS qsv FROM subv
       |  WHERE vec_id < ${PqKs + PqNq}),
       |terms AS (
       |  SELECT p.probe_id, cd.vec_id, cd.j,
       |    list_sum(list_transform(generate_series(1, len(p.qsv)),
       |      i -> p.qsv[i] * c.cent[i])) AS term
       |  FROM codes cd
       |  JOIN cb c ON cd.j = c.j AND cd.cid = c.cid
       |  JOIN probes p ON cd.j = p.j
       |  WHERE cd.vec_id <> p.probe_id),
       |adc AS (
       |  SELECT probe_id, vec_id,
       |    ${Rounding.rSql("list_sum(list(term ORDER BY j))", 4)} AS adc
       |  FROM terms GROUP BY 1, 2)
       |SELECT probe_id, vec_id, adc FROM (
       |  SELECT probe_id, vec_id, adc,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY adc DESC, vec_id) AS rn
       |  FROM adc)
       |WHERE rn <= $PqTopK ORDER BY probe_id, vec_id""".stripMargin

  // --- PQ recall measurement -------------------------------------------------

  private val PqRecallFetch = 50

  /** Recall@10 of the PQ path (ADC fetch of [[PqRecallFetch]] candidates
    * + exact dot-product rerank) against the brute-force top-10, measured
    * in-engine over 8 probes — the `q_ann_recall` audit for the PQ
    * structure: codes quantize away within-cluster detail, so the fetch
    * width F is the recall knob, and this query reports what a given F
    * actually buys ON THIS CORPUS. Same first-ks codebook convention as
    * `q_ann_pq` (SQL-expressible, so DuckDB reproduces codes, ADC ranks,
    * and the final recall numbers exactly). Metric is dot product on
    * both legs — the quantity ADC approximates. On isotropic synthetic
    * vectors the byte codes carry little signal (the floor); on real
    * clustered embeddings the same structure recalls far higher — the
    * query's job is to MEASURE that, per corpus.
    */
  private def qPqRecall(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = embDouble(s, dir)
    val corpus = emb.filter(col("vec_id") >= PqKs)
    val probes = corpus.filter(col("vec_id") < PqKs + 8)
      .select(col("vec_id").as("probe_id"), col("e").as("qe"))
    val dotQ = expr(
      "aggregate(zip_with(e, qe, (a, b) -> a * b), 0D, (acc, x) -> acc + x)")
    val wProbe = Window.partitionBy("probe_id").orderBy(desc("dot"), col("vec_id"))

    val exact = corpus.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("dot", dotQ)
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= 10)
      .select("probe_id", "vec_id")

    val cb = pqCodebook(emb)
    val subv = pqSubspaces(corpus)
    val codes = pqCodes(subv, cb)
    val probesub = subv.filter(col("vec_id") < PqKs + 8)
      .select(col("vec_id").as("probe_id"), col("j"), col("sv").as("qsv"))
    val fetched = pqAdcTerms(codes, cb, probesub)
      .groupBy("probe_id", "vec_id")
      .agg(orderedSum("j", "term").as("adc"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("probe_id").orderBy(desc("adc"), col("vec_id"))))
      .filter(col("rn") <= PqRecallFetch)
      .select("probe_id", "vec_id")

    val approx = fetched
      .join(corpus.select("vec_id", "e"), "vec_id")
      .join(broadcast(probes), "probe_id")
      .withColumn("dot", dotQ)
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= 10)
      .select("probe_id", "vec_id")

    val hits = exact.join(approx, Seq("probe_id", "vec_id"))
      .groupBy("probe_id").agg(count(lit(1)).as("n_hit"))
    probes.select("probe_id").join(hits, Seq("probe_id"), "left")
      .na.fill(0L, Seq("n_hit"))
      .select(col("probe_id"), col("n_hit"),
        (col("n_hit") / 10.0).as("recall"))
      .orderBy("probe_id")
  }

  private val qPqRecallSql = {
    val dotCE = "list_sum(list_transform(generate_series(1, len(c.e)), i -> c.e[i] * p.qe[i]))"
    s"""WITH e0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
       |  FROM embeddings),
       |js AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS j),
       |cb AS (
       |  SELECT CAST(vec_id AS INT) AS cid, j,
       |    e[j * (len(e) // $PqM) + 1 : (j + 1) * (len(e) // $PqM)] AS cent
       |  FROM e0 CROSS JOIN js WHERE vec_id < $PqKs),
       |corpus AS (SELECT vec_id, e FROM e0 WHERE vec_id >= $PqKs),
       |probes AS (SELECT vec_id AS probe_id, e AS qe FROM corpus
       |  WHERE vec_id < ${PqKs + 8}),
       |exact AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT p.probe_id, c.vec_id, row_number() OVER (PARTITION BY p.probe_id
       |      ORDER BY $dotCE DESC, c.vec_id) AS rn
       |    FROM corpus c CROSS JOIN probes p WHERE c.vec_id <> p.probe_id)
       |  WHERE rn <= 10),
       |subv AS (
       |  SELECT vec_id, j,
       |    e[j * (len(e) // $PqM) + 1 : (j + 1) * (len(e) // $PqM)] AS sv
       |  FROM e0 CROSS JOIN js WHERE vec_id >= $PqKs),
       |codes AS (
       |  SELECT vec_id, j, cid FROM (
       |    SELECT v.vec_id, v.j, c.cid,
       |      row_number() OVER (PARTITION BY v.vec_id, v.j ORDER BY
       |        list_sum(list_transform(generate_series(1, len(v.sv)),
       |          i -> (v.sv[i] - c.cent[i]) * (v.sv[i] - c.cent[i]))) ASC,
       |        c.cid) AS rn
       |    FROM subv v JOIN cb c USING (j))
       |  WHERE rn = 1),
       |probesub AS (
       |  SELECT vec_id AS probe_id, j, sv AS qsv FROM subv
       |  WHERE vec_id < ${PqKs + 8}),
       |terms AS (
       |  SELECT p.probe_id, cd.vec_id, cd.j,
       |    list_sum(list_transform(generate_series(1, len(p.qsv)),
       |      i -> p.qsv[i] * c.cent[i])) AS term
       |  FROM codes cd
       |  JOIN cb c ON cd.j = c.j AND cd.cid = c.cid
       |  JOIN probesub p ON cd.j = p.j
       |  WHERE cd.vec_id <> p.probe_id),
       |adc AS (
       |  SELECT probe_id, vec_id, list_sum(list(term ORDER BY j)) AS adc
       |  FROM terms GROUP BY 1, 2),
       |fetched AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, vec_id,
       |      row_number() OVER (PARTITION BY probe_id
       |        ORDER BY adc DESC, vec_id) AS rn
       |    FROM adc)
       |  WHERE rn <= $PqRecallFetch),
       |approx AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT f.probe_id, f.vec_id, row_number() OVER (PARTITION BY f.probe_id
       |      ORDER BY $dotCE DESC, f.vec_id) AS rn
       |    FROM fetched f
       |    JOIN corpus c ON f.vec_id = c.vec_id
       |    JOIN probes p ON f.probe_id = p.probe_id)
       |  WHERE rn <= 10),
       |hits AS (
       |  SELECT e.probe_id, count(*) AS c
       |  FROM exact e JOIN approx a
       |    ON e.probe_id = a.probe_id AND e.vec_id = a.vec_id
       |  GROUP BY 1)
       |SELECT p.probe_id, CAST(coalesce(h.c, 0) AS BIGINT) AS n_hit,
       |  coalesce(h.c, 0) / 10.0 AS recall
       |FROM probes p LEFT JOIN hits h ON p.probe_id = h.probe_id
       |ORDER BY 1""".stripMargin
  }

  // --- MMR diversity rerank (Maximal Marginal Relevance) ---------------------
  //
  // Carbonell & Goldstein 1998: greedily build a result list trading
  // query relevance against redundancy with the already-selected set —
  // each round picks argmax over remaining candidates of
  //   λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s).
  // λ = 0.7 is carried as the INTEGER pair (7, 3): embeddings fix-point
  // to 2^20-scaled BIGINTs, so rel and sim are exact integer dot
  // products (≤ 2^46 at d = 64 — no overflow, no float ties) and the
  // greedy argmax — hence the whole selected list — is bit-identical in
  // both engines. Plan shape at 100 TB: relevance is ONE broadcast-query
  // narrow pass + top-C (TakeOrdered — the corpus never shuffles); the
  // K-round greedy loop then runs entirely on the C-row candidate table
  // (broadcast per round, one-row struct-min argmax — the qKcenter
  // discipline), so corpus cost is a single scan regardless of K.

  private val MmrC = 24 // candidate pool: relevance top-C
  private val MmrK = 8 // final diversified list size
  private val MmrLNum = 7L // λ·10
  private val MmrLDen = 3L // (1−λ)·10

  private def qMmrRerank(s: SparkSession, dir: String): DataFrame = {
    val fp = t(s, dir, "embeddings").select(col("vec_id"),
      expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT))").as("x"))
    val qv = fp.filter(col("vec_id") === 0L).select(col("x").as("qx"))
    val cand = fp.filter(col("vec_id") =!= 0L).crossJoin(broadcast(qv))
      .withColumn("rel",
        expr("aggregate(zip_with(x, qx, (a, b) -> a * b), 0L, (acc, v) -> acc + v)"))
      .drop("qx")
      .orderBy(col("rel").desc, col("vec_id")).limit(MmrC)
      .localCheckpoint(true)
    var sel = cand.orderBy(col("rel").desc, col("vec_id")).limit(1)
      .select(col("vec_id"), col("x"), col("rel"),
        lit(0L).as("maxsim"), lit(1L).as("sel_rank"))
      .localCheckpoint(true)
    (2 to MmrK).foreach { r =>
      val maxsim = cand
        .join(broadcast(sel.select("vec_id")), Seq("vec_id"), "left_anti")
        .crossJoin(broadcast(sel.select(col("x").as("sx"))))
        .withColumn("sim",
          expr("aggregate(zip_with(x, sx, (a, b) -> a * b), 0L, (acc, v) -> acc + v)"))
        .groupBy("vec_id").agg(max("sim").as("maxsim"))
      // exact argmax of 7·rel − 3·maxsim as a one-row struct-min (ties →
      // lowest vec_id) — no window, no sort of anything but 1 row
      val scored = cand.join(broadcast(maxsim), "vec_id")
      val best = scored.agg(min(struct(
          (lit(MmrLDen) * col("maxsim") - lit(MmrLNum) * col("rel")).as("neg"),
          col("vec_id").as("vid"))).as("b"))
        .select(col("b.vid").as("bvid"))
      val pick = scored.join(broadcast(best), col("vec_id") === col("bvid"))
        .select(col("vec_id"), col("x"), col("rel"), col("maxsim"),
          lit(r.toLong).as("sel_rank"))
      sel = sel.unionByName(pick).localCheckpoint(true)
    }
    sel.select(col("sel_rank"), col("vec_id"), col("rel"), col("maxsim"))
      .orderBy("sel_rank")
  }

  private val qMmrRerankSql = {
    val dotCS = "CAST(list_sum(list_transform(generate_series(1, len(c.x)), i -> c.x[i] * s.x[i])) AS BIGINT)"
    // MATERIALIZED is load-bearing: the selN chain re-evaluates
    // exponentially otherwise (each round references selN−1 three times)
    def round(r: Int) =
      s"""m$r AS MATERIALIZED (
         |  SELECT c.vec_id, max($dotCS) AS maxsim
         |  FROM cand c CROSS JOIN sel${r - 1} s
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
         |  GROUP BY 1),
         |s$r AS MATERIALIZED (
         |  SELECT c.vec_id, c.x, c.rel, m.maxsim, CAST($r AS BIGINT) AS sel_rank
         |  FROM m$r m JOIN cand c USING (vec_id)
         |  ORDER BY $MmrLNum * c.rel - $MmrLDen * m.maxsim DESC, c.vec_id LIMIT 1),
         |sel$r AS MATERIALIZED (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM s$r)""".stripMargin
    s"""WITH fp AS (
       |  SELECT vec_id,
       |    list_transform(embedding, v -> CAST(floor(v::DOUBLE * 1048576.0) AS BIGINT)) AS x
       |  FROM embeddings),
       |q AS (SELECT x AS qx FROM fp WHERE vec_id = 0),
       |rel AS (
       |  SELECT vec_id, x,
       |    CAST(list_sum(list_transform(generate_series(1, len(x)), i -> x[i] * qx[i])) AS BIGINT) AS rel
       |  FROM fp, q WHERE vec_id <> 0),
       |cand AS MATERIALIZED (SELECT * FROM rel ORDER BY rel DESC, vec_id LIMIT $MmrC),
       |sel1 AS MATERIALIZED (
       |  SELECT vec_id, x, rel, CAST(0 AS BIGINT) AS maxsim, CAST(1 AS BIGINT) AS sel_rank
       |  FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
       |${(2 to MmrK).map(round).mkString(",\n")}
       |SELECT sel_rank, vec_id, rel, maxsim FROM sel$MmrK ORDER BY sel_rank""".stripMargin
  }

  // --- SQ8 scalar quantization audit ------------------------------------------
  //
  // The other half of the vector-compression menu next to PQ: per-
  // dimension min/max-trained 8-bit scalar quantization (Faiss
  // ScalarQuantizer QT_8bit semantics — code = ⌊(v − mn)·255/(mx − mn)⌋
  // clamped to [0, 255], reconstruction mn + code·(mx − mn)/255). The
  // audit reports, per dimension, the trained range, how many vectors
  // sit on the clamp edges, and the total squared reconstruction error
  // (fixed-pointed at 1e12 per row so the sum is an order-immune
  // BIGINT). Plan: one posexplode (narrow — d rows per vector), a
  // d-row min/max agg, broadcast of that stats table back onto the
  // exploded stream, one d-row final agg. Two small shuffles keyed on
  // dim at any corpus size; the train and encode passes share one scan.

  private def qSq8Quant(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("pos").as("dim"), col("col").cast("double").as("v"))
    val st = ev.groupBy("dim").agg(min("v").as("mn"), max("v").as("mx"))
    ev.join(broadcast(st), "dim")
      .withColumn("code",
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(lit(255L), greatest(lit(0L),
            floor((col("v") - col("mn")) * lit(255.0) / (col("mx") - col("mn"))).cast("long")))))
      .withColumn("recon",
        col("mn") + col("code") * (col("mx") - col("mn")) / lit(255.0))
      .groupBy("dim")
      .agg(Rounding.r(min("v"), 6).as("mn"), Rounding.r(max("v"), 6).as("mx"),
        sum(when(col("code") === 0L || col("code") === 255L, 1L)
          .otherwise(0L)).as("n_edge"),
        sum(floor((col("v") - col("recon")) * (col("v") - col("recon")) * lit(1e12) + lit(0.5))
          .cast("long")).as("sq_err_fp"))
      .orderBy("dim")
  }

  private val qSq8QuantSql =
    s"""WITH ev AS (
       |  SELECT u.d AS dim, u.v::DOUBLE AS v FROM (
       |    SELECT unnest(list_transform(generate_series(1, len(embedding)),
       |      i -> {'d': i - 1, 'v': embedding[i]})) AS u
       |    FROM embeddings) z),
       |st AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM ev GROUP BY 1),
       |qt AS (
       |  SELECT e.dim, e.v, s.mn, s.mx,
       |    CASE WHEN s.mx = s.mn THEN 0
       |      ELSE least(255, greatest(0,
       |        CAST(floor((e.v - s.mn) * 255.0 / (s.mx - s.mn)) AS BIGINT))) END AS code
       |  FROM ev e JOIN st s USING (dim)),
       |re AS (
       |  SELECT dim, code, v, mn + code * (mx - mn) / 255.0 AS recon
       |  FROM qt)
       |SELECT dim,
       |  floor((min(v)) * 1e6 + 0.5) / 1e6 AS mn,
       |  floor((max(v)) * 1e6 + 0.5) / 1e6 AS mx,
       |  CAST(sum(CASE WHEN code = 0 OR code = 255 THEN 1 ELSE 0 END) AS BIGINT) AS n_edge,
       |  CAST(sum(CAST(floor((v - recon) * (v - recon) * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS sq_err_fp
       |FROM re GROUP BY 1 ORDER BY 1""".stripMargin

  // --- nDCG ranking-quality eval ---------------------------------------------
  //
  // Järvelin & Kekäläinen 2002's graded-relevance metric — the standard
  // report card for an approximate retriever, completing the eval family
  // next to the recall audits (q_ann_recall/q_lsh_recall/q_pq_recall
  // measure SET overlap; nDCG measures ORDER). Ground truth: the exact
  // squared-L2 top-K (2^20 fixed-point embeddings — exact BIGINT
  // arithmetic, ascending), graded gains 2^(K−r+1)−1. System under
  // test: the SQ8 ADC ranking — ascending code-space squared L2, the
  // cheap first pass a serving tier runs corpus-wide before exact
  // rescoring (codes are per-dim range-normalized — the Faiss QT_8bit
  // symmetric-distance assumption — so the audit measures exactly the
  // rank damage that normalization plus 8-bit rounding costs). The log2
  // discount table is generated ONCE on the driver and embedded as
  // identical literals in BOTH engines, so the metric needs no
  // cross-engine transcendentals: every DCG is an exact BIGINT sum of
  // gain × disc_fp products, and nDCG@k is one deterministic long/long
  // division at the end. Plan shape: two corpus passes (exact dot =
  // broadcast-query narrow pass + TakeOrdered top-K; code ranking =
  // posexplode + d-row broadcast stats join + per-vec agg + TakeOrdered),
  // then all ranking math on ≤ K rows.

  private val NdcgK = 10
  private val NdcgCuts = Seq(1, 5, 10)
  /** floor(1e9 / log2(r+1)) for rank r = 1..K — driver-side literals. */
  private val NdcgDiscFp: Seq[Long] = (1 to NdcgK).map(r =>
    math.floor(1e9 / (math.log(r + 1.0) / math.log(2.0))).toLong)
  private def ndcgGain(r: Int): Long = (1L << (NdcgK - r + 1)) - 1
  private val NdcgIdcgFp: Map[Int, Long] = NdcgCuts.map(k =>
    k -> (1 to k).map(r => ndcgGain(r) * NdcgDiscFp(r - 1)).sum).toMap

  private def qNdcgEval(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fp = t(s, dir, "embeddings").select(col("vec_id"),
      expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT))").as("x"))
    val qv = fp.filter(col("vec_id") === 0L).select(col("x").as("qx"))
    val truth = fp.filter(col("vec_id") =!= 0L).crossJoin(broadcast(qv))
      .withColumn("rel",
        expr("aggregate(zip_with(x, qx, (a, b) -> (a - b) * (a - b)), 0L, (acc, v) -> acc + v)"))
      .orderBy(col("rel"), col("vec_id")).limit(NdcgK)
      .withColumn("tr",
        row_number().over(Window.orderBy(col("rel"), col("vec_id"))))
      .select(col("vec_id"),
        expr(s"shiftleft(CAST(1 AS BIGINT), ${NdcgK + 1} - tr) - 1").as("gain"))
    val ev = t(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("dim"), col("col").cast("double").as("v"))
    val st = ev.groupBy("dim").agg(min("v").as("mn"), max("v").as("mx"))
    val codes = ev.join(broadcast(st), "dim")
      .select(col("vec_id"), col("dim"),
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(lit(255L), greatest(lit(0L),
            floor((col("v") - col("mn")) * lit(255.0) / (col("mx") - col("mn"))).cast("long"))))
          .as("code"))
    val qc = codes.filter(col("vec_id") === 0L)
      .select(col("dim"), col("code").as("qcode"))
    val approx = codes.filter(col("vec_id") =!= 0L)
      .join(broadcast(qc), "dim")
      .groupBy("vec_id")
      .agg(sum((col("code") - col("qcode")) * (col("code") - col("qcode")))
        .as("ascore"))
      .orderBy(col("ascore"), col("vec_id")).limit(NdcgK)
      .withColumn("ar",
        row_number().over(Window.orderBy(col("ascore"), col("vec_id"))))
    val disc = s.createDataFrame(
      NdcgDiscFp.zipWithIndex.map { case (d, i) => (i + 1, d) }).toDF("ar", "disc_fp")
    val cuts = s.createDataFrame(
      NdcgCuts.map(k => (k, NdcgIdcgFp(k)))).toDF("k", "idcg_fp")
    approx.join(truth, Seq("vec_id"), "left")
      .na.fill(0L, Seq("gain"))
      .join(broadcast(disc), "ar")
      .crossJoin(broadcast(cuts))
      .filter(col("ar") <= col("k"))
      .groupBy("k", "idcg_fp")
      .agg(sum(col("gain") * col("disc_fp")).as("dcg_fp"))
      .select(col("k").cast("long").as("k"), col("dcg_fp"), col("idcg_fp"),
        Rounding.r(col("dcg_fp").cast("double") / col("idcg_fp").cast("double"), 6)
          .as("ndcg"))
      .orderBy("k")
  }

  private val qNdcgEvalSql = {
    val discValues = NdcgDiscFp.zipWithIndex
      .map { case (d, i) => s"(${i + 1}, ${d}::BIGINT)" }.mkString(", ")
    val cutValues = NdcgCuts
      .map(k => s"($k, ${NdcgIdcgFp(k)}::BIGINT)").mkString(", ")
    s"""WITH fp AS (
       |  SELECT vec_id,
       |    list_transform(embedding, v -> CAST(floor(v::DOUBLE * 1048576.0) AS BIGINT)) AS x
       |  FROM embeddings),
       |q AS (SELECT x AS qx FROM fp WHERE vec_id = 0),
       |rel AS (
       |  SELECT vec_id,
       |    CAST(list_sum(list_transform(generate_series(1, len(x)),
       |      i -> (x[i] - qx[i]) * (x[i] - qx[i]))) AS BIGINT) AS rel
       |  FROM fp, q WHERE vec_id <> 0),
       |truth AS (
       |  SELECT vec_id, row_number() OVER (ORDER BY rel, vec_id) AS tr
       |  FROM (SELECT * FROM rel ORDER BY rel, vec_id LIMIT $NdcgK)),
       |gains AS (
       |  SELECT vec_id, (1::BIGINT << (${NdcgK + 1} - tr)) - 1 AS gain FROM truth),
       |ev AS (
       |  SELECT vec_id, u.d AS dim, u.v::DOUBLE AS v FROM (
       |    SELECT vec_id, unnest(list_transform(generate_series(1, len(embedding)),
       |      i -> {'d': i - 1, 'v': embedding[i]})) AS u
       |    FROM embeddings) z),
       |st AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM ev GROUP BY 1),
       |codes AS (
       |  SELECT e.vec_id, e.dim,
       |    CASE WHEN s.mx = s.mn THEN 0
       |      ELSE least(255, greatest(0,
       |        CAST(floor((e.v - s.mn) * 255.0 / (s.mx - s.mn)) AS BIGINT))) END AS code
       |  FROM ev e JOIN st s USING (dim)),
       |qc AS (SELECT dim, code AS qcode FROM codes WHERE vec_id = 0),
       |approx AS (
       |  SELECT c.vec_id,
       |    CAST(sum((c.code - q.qcode) * (c.code - q.qcode)) AS BIGINT) AS ascore
       |  FROM codes c JOIN qc q USING (dim) WHERE c.vec_id <> 0 GROUP BY 1),
       |ranked AS (
       |  SELECT vec_id, row_number() OVER (ORDER BY ascore, vec_id) AS ar
       |  FROM (SELECT * FROM approx ORDER BY ascore, vec_id LIMIT $NdcgK)),
       |disc(ar, disc_fp) AS (VALUES $discValues),
       |cuts(k, idcg_fp) AS (VALUES $cutValues),
       |j AS (
       |  SELECT r.ar, coalesce(g.gain, 0) AS gain, d.disc_fp
       |  FROM ranked r LEFT JOIN gains g USING (vec_id) JOIN disc d USING (ar))
       |SELECT CAST(k AS BIGINT) AS k,
       |  CAST(sum(gain * disc_fp) AS BIGINT) AS dcg_fp,
       |  CAST(idcg_fp AS BIGINT) AS idcg_fp,
       |  ${Rounding.rSql("CAST(sum(gain * disc_fp) AS BIGINT)::DOUBLE / idcg_fp::DOUBLE", 6)} AS ndcg
       |FROM j CROSS JOIN cuts WHERE ar <= k
       |GROUP BY k, idcg_fp ORDER BY k""".stripMargin
  }

  // --- Johnson–Lindenstrauss sign-projection distortion audit -----------------
  //
  // Achlioptas 2003: a ±1 sign matrix is a JL projection —
  // E‖P(a−b)‖²/m = ‖a−b‖², concentration ~ √(2/m). Signs derive from
  // md5(dim, p) (the md5Sid discipline), so the d×m matrix is identical
  // in both engines with no stored state, and projecting the 2^20
  // fixed-point DIFFERENCE vector (projection is linear) is exact BIGINT
  // arithmetic end-to-end. The audit runs on a deterministic pair slice
  // (vec_id ≡ 0 mod 8 paired with its +1 neighbour — the q_ann_recall
  // probe-sample discipline), so its cost vanishes relative to the
  // corpus at any scale, while the per-vector d×m expansion it measures
  // is the exact narrow shape a serving tier would run corpus-wide to
  // shrink 64-dim vectors to 16 before bucketing.

  private val JlM = 16

  private def qJlProject(s: SparkSession, dir: String): DataFrame = {
    val fp = t(s, dir, "embeddings").select(col("vec_id"),
      expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT))").as("x"))
    val a = fp.filter(col("vec_id") % 8 === 0)
      .select(col("vec_id").as("pair"), col("x").as("xa"))
    val b = fp.filter(col("vec_id") % 8 === 1)
      .select((col("vec_id") - 1).as("pair"), col("x").as("xb"))
    val diffs = a.join(b, "pair")
      .select(col("pair"), expr("zip_with(xa, xb, (p, q) -> p - q)").as("d"))
      .withColumn("d2_orig",
        expr("aggregate(transform(d, v -> v * v), 0L, (acc, v) -> acc + v)"))
      .filter(col("d2_orig") > 0)
    val ed = diffs.select(col("pair"), col("d2_orig"), posexplode(col("d")))
      .select(col("pair"), col("d2_orig"), col("pos").as("dim"), col("col").as("dv"))
    val pj = s.range(JlM).select(col("id").cast("int").as("p"))
    val rat = ed.crossJoin(broadcast(pj))
      .withColumn("sgn",
        (conv(substring(md5(concat_ws("_", col("dim"), col("p"))), 1, 1), 16, 10)
          .cast("long") % 2) * 2 - 1)
      .groupBy("pair", "d2_orig", "p")
      .agg(sum(col("dv") * col("sgn")).as("yd"))
      .groupBy("pair", "d2_orig")
      .agg(sum(col("yd") * col("yd")).as("d2_proj"))
      .withColumn("ratio_fp",
        floor(col("d2_proj").cast("double") /
          (lit(JlM.toDouble) * col("d2_orig").cast("double")) * 1e6 + 0.5)
          .cast("long"))
    rat.agg(count(lit(1)).as("n_pairs"),
        min("ratio_fp").as("min_ratio_fp"), max("ratio_fp").as("max_ratio_fp"),
        sum("ratio_fp").as("sr"))
      .select(col("n_pairs"), col("min_ratio_fp"), col("max_ratio_fp"),
        Rounding.r(col("sr").cast("double") / col("n_pairs") / lit(1e6), 4)
          .as("mean_ratio"))
  }

  private val qJlProjectSql =
    s"""WITH fp AS (
       |  SELECT vec_id,
       |    list_transform(embedding, v -> CAST(floor(v::DOUBLE * 1048576.0) AS BIGINT)) AS x
       |  FROM embeddings),
       |pa AS (SELECT vec_id AS pair, x AS xa FROM fp WHERE vec_id % 8 = 0),
       |pb AS (SELECT vec_id - 1 AS pair, x AS xb FROM fp WHERE vec_id % 8 = 1),
       |d0 AS (
       |  SELECT pair,
       |    list_transform(generate_series(1, len(xa)), i -> xa[i] - xb[i]) AS d
       |  FROM pa JOIN pb USING (pair)),
       |d2 AS (
       |  SELECT pair, d,
       |    CAST(list_sum(list_transform(d, v -> v * v)) AS BIGINT) AS d2_orig
       |  FROM d0),
       |ed AS (
       |  SELECT pair, d2_orig, u.dim AS dim, u.dv AS dv FROM (
       |    SELECT pair, d2_orig, unnest(list_transform(generate_series(1, len(d)),
       |      i -> {'dim': i - 1, 'dv': d[i]})) AS u
       |    FROM d2 WHERE d2_orig > 0) z),
       |pj AS (SELECT unnest(generate_series(0, ${JlM - 1})) AS p),
       |proj AS (
       |  SELECT pair, d2_orig, p,
       |    CAST(sum(dv * ((('0x' || substr(md5(dim::VARCHAR || '_' || p::VARCHAR), 1, 1))::BIGINT % 2) * 2 - 1)) AS BIGINT) AS yd
       |  FROM ed CROSS JOIN pj GROUP BY 1, 2, 3),
       |pr AS (
       |  SELECT pair, d2_orig, CAST(sum(yd * yd) AS BIGINT) AS d2_proj
       |  FROM proj GROUP BY 1, 2),
       |rat AS (
       |  SELECT CAST(floor(d2_proj::DOUBLE / (${JlM}.0 * d2_orig::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS ratio_fp
       |  FROM pr)
       |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       |  min(ratio_fp) AS min_ratio_fp, max(ratio_fp) AS max_ratio_fp,
       |  ${Rounding.rSql("CAST(sum(ratio_fp) AS BIGINT)::DOUBLE / count(*) / 1e6", 4)} AS mean_ratio
       |FROM rat""".stripMargin

  // --- rank-biased overlap (RBO) between exact and SQ8 rankings ---------------
  //
  // Webber, Moffat & Zobel 2010's top-weighted list-similarity metric —
  // the OTHER ranking report card next to q_ndcg_eval (nDCG needs graded
  // relevance; RBO compares two rankings directly): prefix RBO@K with
  // persistence p = 0.9, RBO = (1−p)/p · Σ_{d≤K} p^d · |A_d ∩ B_d| / d.
  // Rewritten per-item: an item at ranks (ra, rb) in the two lists
  // contributes W(max(ra, rb)) where W(m) = Σ_{d=m..K} w_d — so the
  // whole metric is ONE inner join of the two top-K lists against a
  // driver-generated cumulative-weight literal table (×1e12 fixed
  // point), summed as exact BIGINTs. No cross-engine pow() at query
  // time. Lists: the exact squared-L2 ranking vs the SQ8 ADC
  // (code-space L2) ranking — the same pair q_ndcg_eval grades.

  private val RboK = 10
  private val RboP = 0.9
  /** w_d = (1−p)/p · p^d / d, ×1e12 — driver-side literals. */
  private val RboWFp: Seq[Long] = (1 to RboK).map(d =>
    math.floor((1 - RboP) / RboP * math.pow(RboP, d) / d * 1e12).toLong)
  /** W(m) = Σ_{d=m..K} w_d. */
  private val RboWcumFp: Seq[Long] = (1 to RboK).map(m => RboWFp.drop(m - 1).sum)

  private def qRbo(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fp = t(s, dir, "embeddings").select(col("vec_id"),
      expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT))").as("x"))
    val qv = fp.filter(col("vec_id") === 0L).select(col("x").as("qx"))
    val exact = fp.filter(col("vec_id") =!= 0L).crossJoin(broadcast(qv))
      .withColumn("rel",
        expr("aggregate(zip_with(x, qx, (a, b) -> (a - b) * (a - b)), 0L, (acc, v) -> acc + v)"))
      .orderBy(col("rel"), col("vec_id")).limit(RboK)
      .withColumn("ra",
        row_number().over(Window.orderBy(col("rel"), col("vec_id"))))
      .select("vec_id", "ra")
    val ev = t(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("dim"), col("col").cast("double").as("v"))
    val st = ev.groupBy("dim").agg(min("v").as("mn"), max("v").as("mx"))
    val codes = ev.join(broadcast(st), "dim")
      .select(col("vec_id"), col("dim"),
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(lit(255L), greatest(lit(0L),
            floor((col("v") - col("mn")) * lit(255.0) / (col("mx") - col("mn"))).cast("long"))))
          .as("code"))
    val qc = codes.filter(col("vec_id") === 0L)
      .select(col("dim"), col("code").as("qcode"))
    val approx = codes.filter(col("vec_id") =!= 0L)
      .join(broadcast(qc), "dim")
      .groupBy("vec_id")
      .agg(sum((col("code") - col("qcode")) * (col("code") - col("qcode")))
        .as("ascore"))
      .orderBy(col("ascore"), col("vec_id")).limit(RboK)
      .withColumn("rb",
        row_number().over(Window.orderBy(col("ascore"), col("vec_id"))))
      .select("vec_id", "rb")
    val wcum = s.createDataFrame(
      RboWcumFp.zipWithIndex.map { case (w, i) => (i + 1, w) }).toDF("m", "wcum_fp")
    exact.join(approx, "vec_id")
      .select(greatest(col("ra"), col("rb")).as("m"))
      .join(broadcast(wcum), "m")
      .agg(count(lit(1)).as("n_common"),
        coalesce(sum("wcum_fp"), lit(0L)).as("rbo_fp"))
      .select(col("n_common"), col("rbo_fp"),
        Rounding.r(col("rbo_fp").cast("double") / lit(1e12), 6).as("rbo"))
  }

  private val qRboSql = {
    val wcumValues = RboWcumFp.zipWithIndex
      .map { case (w, i) => s"(${i + 1}, ${w}::BIGINT)" }.mkString(", ")
    s"""WITH fp AS (
       |  SELECT vec_id,
       |    list_transform(embedding, v -> CAST(floor(v::DOUBLE * 1048576.0) AS BIGINT)) AS x
       |  FROM embeddings),
       |q AS (SELECT x AS qx FROM fp WHERE vec_id = 0),
       |rel AS (
       |  SELECT vec_id,
       |    CAST(list_sum(list_transform(generate_series(1, len(x)),
       |      i -> (x[i] - qx[i]) * (x[i] - qx[i]))) AS BIGINT) AS rel
       |  FROM fp, q WHERE vec_id <> 0),
       |exact AS (
       |  SELECT vec_id, row_number() OVER (ORDER BY rel, vec_id) AS ra
       |  FROM (SELECT * FROM rel ORDER BY rel, vec_id LIMIT $RboK)),
       |ev AS (
       |  SELECT vec_id, u.d AS dim, u.v::DOUBLE AS v FROM (
       |    SELECT vec_id, unnest(list_transform(generate_series(1, len(embedding)),
       |      i -> {'d': i - 1, 'v': embedding[i]})) AS u
       |    FROM embeddings) z),
       |st AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM ev GROUP BY 1),
       |codes AS (
       |  SELECT e.vec_id, e.dim,
       |    CASE WHEN s.mx = s.mn THEN 0
       |      ELSE least(255, greatest(0,
       |        CAST(floor((e.v - s.mn) * 255.0 / (s.mx - s.mn)) AS BIGINT))) END AS code
       |  FROM ev e JOIN st s USING (dim)),
       |qc AS (SELECT dim, code AS qcode FROM codes WHERE vec_id = 0),
       |ap AS (
       |  SELECT c.vec_id,
       |    CAST(sum((c.code - q.qcode) * (c.code - q.qcode)) AS BIGINT) AS ascore
       |  FROM codes c JOIN qc q USING (dim) WHERE c.vec_id <> 0 GROUP BY 1),
       |approx AS (
       |  SELECT vec_id, row_number() OVER (ORDER BY ascore, vec_id) AS rb
       |  FROM (SELECT * FROM ap ORDER BY ascore, vec_id LIMIT $RboK)),
       |wcum(m, wcum_fp) AS (VALUES $wcumValues),
       |j AS (
       |  SELECT w.wcum_fp
       |  FROM exact e JOIN approx a USING (vec_id)
       |  JOIN wcum w ON w.m = greatest(e.ra, a.rb))
       |SELECT CAST(count(*) AS BIGINT) AS n_common,
       |  coalesce(CAST(sum(wcum_fp) AS BIGINT), 0) AS rbo_fp,
       |  ${Rounding.rSql("coalesce(CAST(sum(wcum_fp) AS BIGINT), 0)::DOUBLE / 1e12", 6)} AS rbo
       |FROM j""".stripMargin
  }

  // --- average precision + MRR of the SQ8 ranking ------------------------------
  //
  // The binary-relevance ranking metrics completing the eval family
  // (q_ndcg_eval = graded order, q_rbo = list agreement, this = binary
  // order): relevance = membership in the exact squared-L2 top-K;
  // system under test = the SQ8 ADC (code-space L2) top-K. AP@K is the
  // mean of
  // precision-at-each-hit — P@pos = hits_so_far/pos, a small rational
  // that fix-points at 1e9 PER HIT so the sum is an exact BIGINT
  // regardless of aggregation order; MRR is one reciprocal of the first
  // hit's rank. All ranking math runs on ≤ K rows after two TakeOrdered
  // corpus passes (shared shape with q_ndcg_eval/q_rbo).

  private def qApEval(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fp = t(s, dir, "embeddings").select(col("vec_id"),
      expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT))").as("x"))
    val qv = fp.filter(col("vec_id") === 0L).select(col("x").as("qx"))
    val exact = fp.filter(col("vec_id") =!= 0L).crossJoin(broadcast(qv))
      .withColumn("rel",
        expr("aggregate(zip_with(x, qx, (a, b) -> (a - b) * (a - b)), 0L, (acc, v) -> acc + v)"))
      .orderBy(col("rel"), col("vec_id")).limit(RboK)
      .select("vec_id")
    val ev = t(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("dim"), col("col").cast("double").as("v"))
    val st = ev.groupBy("dim").agg(min("v").as("mn"), max("v").as("mx"))
    val codes = ev.join(broadcast(st), "dim")
      .select(col("vec_id"), col("dim"),
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(lit(255L), greatest(lit(0L),
            floor((col("v") - col("mn")) * lit(255.0) / (col("mx") - col("mn"))).cast("long"))))
          .as("code"))
    val qc = codes.filter(col("vec_id") === 0L)
      .select(col("dim"), col("code").as("qcode"))
    val approx = codes.filter(col("vec_id") =!= 0L)
      .join(broadcast(qc), "dim")
      .groupBy("vec_id")
      .agg(sum((col("code") - col("qcode")) * (col("code") - col("qcode")))
        .as("ascore"))
      .orderBy(col("ascore"), col("vec_id")).limit(RboK)
      .withColumn("rb",
        row_number().over(Window.orderBy(col("ascore"), col("vec_id"))))
      .select("vec_id", "rb")
    val hits = approx.join(exact, "vec_id")
      .withColumn("h", row_number().over(Window.orderBy("rb")))
      .withColumn("c",
        floor(col("h").cast("double") / col("rb").cast("double") * 1e9 + 0.5)
          .cast("long"))
    hits.agg(count(lit(1)).as("n_hits"),
        coalesce(sum("c"), lit(0L)).as("apsum"),
        coalesce(min("rb"), lit(0)).as("first"))
      .select(lit(RboK.toLong).as("n_rel"), col("n_hits"),
        Rounding.r(col("apsum").cast("double") / lit(RboK.toDouble) / lit(1e9), 6)
          .as("ap"),
        when(col("first") > 0,
          Rounding.r(lit(1.0) / col("first").cast("double"), 6))
          .otherwise(lit(0.0)).as("mrr"))
  }

  private val qApEvalSql =
    s"""WITH fp AS (
       |  SELECT vec_id,
       |    list_transform(embedding, v -> CAST(floor(v::DOUBLE * 1048576.0) AS BIGINT)) AS x
       |  FROM embeddings),
       |q AS (SELECT x AS qx FROM fp WHERE vec_id = 0),
       |rel AS (
       |  SELECT vec_id,
       |    CAST(list_sum(list_transform(generate_series(1, len(x)),
       |      i -> (x[i] - qx[i]) * (x[i] - qx[i]))) AS BIGINT) AS rel
       |  FROM fp, q WHERE vec_id <> 0),
       |exact AS (SELECT vec_id FROM rel ORDER BY rel, vec_id LIMIT $RboK),
       |ev AS (
       |  SELECT vec_id, u.d AS dim, u.v::DOUBLE AS v FROM (
       |    SELECT vec_id, unnest(list_transform(generate_series(1, len(embedding)),
       |      i -> {'d': i - 1, 'v': embedding[i]})) AS u
       |    FROM embeddings) z),
       |st AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM ev GROUP BY 1),
       |codes AS (
       |  SELECT e.vec_id, e.dim,
       |    CASE WHEN s.mx = s.mn THEN 0
       |      ELSE least(255, greatest(0,
       |        CAST(floor((e.v - s.mn) * 255.0 / (s.mx - s.mn)) AS BIGINT))) END AS code
       |  FROM ev e JOIN st s USING (dim)),
       |qc AS (SELECT dim, code AS qcode FROM codes WHERE vec_id = 0),
       |ap0 AS (
       |  SELECT c.vec_id,
       |    CAST(sum((c.code - q.qcode) * (c.code - q.qcode)) AS BIGINT) AS ascore
       |  FROM codes c JOIN qc q USING (dim) WHERE c.vec_id <> 0 GROUP BY 1),
       |approx AS (
       |  SELECT vec_id, row_number() OVER (ORDER BY ascore, vec_id) AS rb
       |  FROM (SELECT * FROM ap0 ORDER BY ascore, vec_id LIMIT $RboK)),
       |hits AS (
       |  SELECT rb, row_number() OVER (ORDER BY rb) AS h
       |  FROM approx JOIN exact USING (vec_id)),
       |hc AS (
       |  SELECT rb, CAST(floor(h::DOUBLE / rb::DOUBLE * 1e9 + 0.5) AS BIGINT) AS c
       |  FROM hits),
       |ag AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_hits,
       |    coalesce(CAST(sum(c) AS BIGINT), 0) AS apsum,
       |    coalesce(min(rb), 0) AS first
       |  FROM hc)
       |SELECT CAST($RboK AS BIGINT) AS n_rel, n_hits,
       |  ${Rounding.rSql(s"apsum::DOUBLE / $RboK.0 / 1e9", 6)} AS ap,
       |  CASE WHEN first > 0
       |    THEN ${Rounding.rSql("1.0 / first::DOUBLE", 6)}
       |    ELSE 0.0 END AS mrr
       |FROM ag""".stripMargin

  // --- ANN: IVF-PQ composed (the IVFADC oracle) ------------------------------
  //
  // The composed q_ann_ivf × q_ann_pq math of [[graft.retrieval
  // .IvfPqIndex]], SQL-expressible end-to-end so DuckDB independently
  // reproduces cell routing, residual codes, AND the final ADC scores:
  // centroids = the first-nlist vectors (nlist = max(8, ⌊√N⌋)); every
  // corpus vector routes to its max-dot cell and is PQ-encoded on the
  // RESIDUAL e − centroid, against a codebook built from the first-ks
  // corpus residuals; a probe scores
  //   score(v) = q·centroid(cell_v) + Σ_j q_subj · codeword(code_vj)
  // — the ADC identity. Every dot/argmin is a left-to-right fold and the
  // over-j sum is j-ordered in both engines, so the doubles agree
  // bit-for-bit; only the displayed score is rounded.

  /** Expression: dot(e, ce) as a left-to-right fold. */
  private val ivfDotEC = expr(
    "aggregate(zip_with(e, ce, (a, b) -> a * b), 0D, (acc, x) -> acc + x)")

  /** The IVFADC oracle's quantizer artifacts — (emb, cents, routed, cb,
    * codes) — shared by [[qAnnIvfPq]] and `IvfPqEquivalenceSpec`, which
    * writes them into the [[graft.retrieval.IvfPqIndex]] on-disk layout
    * and pins that the unrolled SQL form and the partition-pruned
    * `IvfPqIndex.probe` agree at nprobe < nlist on the battery probes.
    */
  private[graft] def ivfPqOracleParts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val emb0 = embDouble(s, dir)
    val stats = emb0.agg(count(lit(1)).as("n"))
      .withColumn("nlist", greatest(lit(8L), floor(sqrt(col("n")))))
    val emb = emb0.crossJoin(broadcast(stats)).select("vec_id", "e", "nlist")
    val cents = emb.filter(col("vec_id") < col("nlist"))
      .select(col("vec_id").as("cid"), col("e").as("ce"))

    // cell routing (argmax dot, ties → lowest cid) + in-place residual;
    // the real index does this as one codegen'd narrow pass
    // (graft_best_cell + graft_pq_encode) — here the unrolled join form
    // keeps the math SQL-expressible for the oracle
    val routed = emb.filter(col("vec_id") >= col("nlist"))
      .crossJoin(broadcast(cents))
      .withColumn("dot", ivfDotEC)
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(desc("dot"), col("cid"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("nlist"), col("cid").as("cell"),
        expr("zip_with(e, ce, (a, b) -> a - b)").as("r"))

    // residual codebook: the first-ks corpus residuals, sliced
    val cb = pqSubspaces(routed.filter(col("vec_id") < col("nlist") + PqKs)
        .select((col("vec_id") - col("nlist")).as("vec_id"), col("r").as("e")))
      .select(col("vec_id").cast("int").as("cid"), col("j"),
        col("sv").as("cent"))
    val codes = pqCodes(
      pqSubspaces(routed.select(col("vec_id"), col("r").as("e"))), cb)
    (emb, cents, routed, cb, codes)
  }

  private def qAnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (emb, cents, routed, cb, codes) = ivfPqOracleParts(s, dir)
    val dotEC = ivfDotEC

    // probes: the 4 corpus vectors after the codebook rows; the shared
    // LUT terms come from the probe's FULL subvectors (codewords decode
    // in global coordinates once the centroid term is added back)
    val probes = emb
      .filter(col("vec_id") >= col("nlist") + PqKs &&
        col("vec_id") < col("nlist") + PqKs + PqNq)
    val probesub = pqSubspaces(probes.select(col("vec_id"), col("e")))
      .select(col("vec_id").as("probe_id"), col("j"), col("sv").as("qsv"))
    val adc = pqAdcTerms(codes, cb, probesub)
      .groupBy("probe_id", "vec_id")
      .agg(orderedSum("j", "term").as("adc0"))

    // per-(probe, cell) constant q·centroid — 4·nlist rows, broadcast
    val qc = probes.select(col("vec_id").as("probe_id"), col("e"))
      .crossJoin(broadcast(cents))
      .withColumn("qc", dotEC)
      .select(col("probe_id"), col("cid").as("cell"), col("qc"))

    adc.join(routed.select("vec_id", "cell"), "vec_id")
      .join(broadcast(qc), Seq("probe_id", "cell"))
      .withColumn("score", Rounding.r(col("adc0") + col("qc"), 4))
      .withColumn("rn", row_number().over(
        Window.partitionBy("probe_id").orderBy(desc("score"), col("vec_id"))))
      .filter(col("rn") <= PqTopK)
      .select(col("probe_id"), col("vec_id"), col("score"))
      .orderBy("probe_id", "vec_id")
  }

  private val qAnnIvfPqSql = {
    val sl = s"[j * (len(r) // $PqM) + 1 : (j + 1) * (len(r) // $PqM)]"
    s"""WITH e0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
       |  FROM embeddings),
       |st AS (SELECT greatest(8, CAST(floor(sqrt(count(*))) AS BIGINT)) AS nlist FROM e0),
       |cents AS (SELECT vec_id AS cid, e AS ce FROM e0 CROSS JOIN st WHERE vec_id < nlist),
       |routed AS (
       |  SELECT vec_id, nlist, cid AS cell,
       |    list_transform(generate_series(1, len(e)), i -> e[i] - ce[i]) AS r
       |  FROM (
       |    SELECT e0.vec_id, st.nlist, c.cid, e0.e, c.ce,
       |      row_number() OVER (PARTITION BY e0.vec_id ORDER BY
       |        list_sum(list_transform(generate_series(1, len(e0.e)),
       |          i -> e0.e[i] * c.ce[i])) DESC, c.cid) AS rn
       |    FROM e0 CROSS JOIN st CROSS JOIN cents c WHERE e0.vec_id >= st.nlist)
       |  WHERE rn = 1),
       |js AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS j),
       |cb AS (
       |  SELECT CAST(vec_id - nlist AS INT) AS cid, j, r$sl AS cent
       |  FROM routed CROSS JOIN js WHERE vec_id < nlist + $PqKs),
       |subv AS (
       |  SELECT vec_id, j, r$sl AS sv FROM routed CROSS JOIN js),
       |codes AS (
       |  SELECT vec_id, j, cid FROM (
       |    SELECT v.vec_id, v.j, c.cid,
       |      row_number() OVER (PARTITION BY v.vec_id, v.j ORDER BY
       |        list_sum(list_transform(generate_series(1, len(v.sv)),
       |          i -> (v.sv[i] - c.cent[i]) * (v.sv[i] - c.cent[i]))) ASC,
       |        c.cid) AS rn
       |    FROM subv v JOIN cb c USING (j))
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS probe_id, e AS qe FROM e0 CROSS JOIN st
       |  WHERE vec_id >= nlist + $PqKs AND vec_id < nlist + ${PqKs + PqNq}),
       |probesub AS (
       |  SELECT probe_id, j,
       |    qe[j * (len(qe) // $PqM) + 1 : (j + 1) * (len(qe) // $PqM)] AS qsv
       |  FROM probes CROSS JOIN js),
       |terms AS (
       |  SELECT p.probe_id, cd.vec_id, cd.j,
       |    list_sum(list_transform(generate_series(1, len(p.qsv)),
       |      i -> p.qsv[i] * c.cent[i])) AS term
       |  FROM codes cd
       |  JOIN cb c ON cd.j = c.j AND cd.cid = c.cid
       |  JOIN probesub p ON cd.j = p.j
       |  WHERE cd.vec_id <> p.probe_id),
       |adc AS (
       |  SELECT probe_id, vec_id, list_sum(list(term ORDER BY j)) AS adc0
       |  FROM terms GROUP BY 1, 2),
       |qc AS (
       |  SELECT p.probe_id, c.cid AS cell,
       |    list_sum(list_transform(generate_series(1, len(p.qe)),
       |      i -> p.qe[i] * c.ce[i])) AS qc
       |  FROM probes p CROSS JOIN cents c),
       |sc AS (
       |  SELECT a.probe_id, a.vec_id,
       |    ${Rounding.rSql("a.adc0 + q.qc", 4)} AS score
       |  FROM adc a
       |  JOIN routed t ON a.vec_id = t.vec_id
       |  JOIN qc q ON q.probe_id = a.probe_id AND q.cell = t.cell)
       |SELECT probe_id, vec_id, score FROM (
       |  SELECT probe_id, vec_id, score,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY score DESC, vec_id) AS rn
       |  FROM sc)
       |WHERE rn <= $PqTopK ORDER BY probe_id, vec_id""".stripMargin
  }

  // --- cluster × source mixture audit ---------------------------------------
  //
  // The diversity-audit primitive behind cluster-balanced curation
  // (SemDeDup / cluster-stratified sampling): assign every document's
  // embedding to a centroid, then report the cluster × source mixture —
  // which sources dominate which semantic clusters, and each source's
  // share of its cluster. K here is a REPORTING granularity (8), not an
  // index parameter; the trained, corpus-scaled clustering is
  // [[graft.retrieval.VectorIndex]]'s k-means — this query uses the
  // same first-K deterministic centroid convention as q_ann_ivf so the
  // assignment is SQL-expressible and the oracle independently
  // reproduces it. Plan: broadcast K centroids → narrow argmax per row
  // (min(struct) partial agg) → (cluster, source) hash agg — one small
  // shuffle at any corpus size. Share = count/cluster-total with both
  // operands from the SAME agg (exact integer division, rounded once).

  private val MixK = 8

  private def qClusterMix(s: SparkSession, dir: String): DataFrame = {
    val emb = embDouble(s, dir)
    val cents = emb.filter(col("vec_id") < MixK)
      .select(col("vec_id").as("cid"), col("e").as("ce"))
    val assigned = emb.filter(col("vec_id") >= MixK)
      .crossJoin(broadcast(cents))
      .withColumn("dot", expr(
        "aggregate(zip_with(e, ce, (a, b) -> a * b), 0D, (acc, x) -> acc + x)"))
      .groupBy("vec_id")
      .agg(min(struct(negate(col("dot")), col("cid"))).as("m"))
      .select(col("vec_id").as("doc_id"), col("m.cid").as("cluster"))
    val mix = assigned
      .join(t(s, dir, "documents").select("doc_id", "source"), "doc_id")
      .groupBy("cluster", "source").agg(count(lit(1)).as("n_docs"))
    val totals = mix.groupBy("cluster").agg(sum("n_docs").as("cluster_total"))
    mix.join(broadcast(totals), "cluster")
      .select(col("cluster"), col("source"), col("n_docs"),
        Rounding.r(col("n_docs").cast("double") / col("cluster_total"), 4)
          .as("share"))
      .orderBy("cluster", "source")
  }

  private val qClusterMixSql =
    s"""WITH e0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
       |  FROM embeddings),
       |cents AS (SELECT vec_id AS cid, e AS ce FROM e0 WHERE vec_id < $MixK),
       |assigned AS (
       |  SELECT vec_id AS doc_id, cid AS cluster FROM (
       |    SELECT v.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |        list_sum(list_transform(generate_series(1, len(v.e)),
       |          i -> v.e[i] * c.ce[i])) DESC, c.cid) AS rn
       |    FROM e0 v CROSS JOIN cents c WHERE v.vec_id >= $MixK)
       |  WHERE rn = 1),
       |mix AS (
       |  SELECT cluster, source, count(*) AS n_docs
       |  FROM assigned a JOIN documents d ON a.doc_id = d.doc_id
       |  GROUP BY 1, 2),
       |tot AS (SELECT cluster, sum(n_docs) AS cluster_total FROM mix GROUP BY 1)
       |SELECT m.cluster, m.source, CAST(m.n_docs AS BIGINT) AS n_docs,
       |  ${Rounding.rSql("m.n_docs::DOUBLE / t.cluster_total", 4)} AS share
       |FROM mix m JOIN tot t ON m.cluster = t.cluster
       |ORDER BY 1, 2""".stripMargin

  // --- DSIR importance weights (hashed n-gram data selection) ---------------
  //
  // Data Selection via Importance Resampling (Xie et al., NeurIPS 2023):
  // score each corpus document by how target-like its hashed n-gram
  // (unigram + bigram) feature distribution is, against a TARGET slice —
  // here source='src0', the curated-domain stand-in — versus the full
  // corpus as the background. The classic estimator sums log(p_t/p_s)
  // over grams; transcendental logs are not bit-reproducible across
  // engines, so the weight is the smoothed probability DIFFERENCE
  //
  //   w[b]  = (cnt_t[b]+1)/(T+B) − (cnt_s[b]+1)/(S+B)   (p̂_t − p̂_s)
  //   score = Σ_b c_doc[b] · w[b]
  //
  // — same selection ORDER semantics (target-like ⇒ positive). Each
  // division and product is a single exactly-rounded IEEE op, and the
  // per-doc Σ_b is an explicit b-ORDERED fold (collect→sort_array→
  // aggregate vs list(term ORDER BY b)→list_sum — at most B=256 terms
  // per doc), so the doubles agree bit-for-bit across engines and
  // partition schedules at ANY corpus size; only the displayed score
  // needs [[Rounding]]. (An earlier integer cross-multiplied form,
  // (ct+1)(S+B) − (cs+1)(T+B), was exact at test scale but its product
  // of two corpus-sized counts overflows int64 around 10¹² grams —
  // exactly the scale the query targets.) Plan shape at 100 TB: gram
  // explode is narrow; bucket stats collapse to B=256 rows by one
  // partial agg (map-side combine); the per-doc pass is one (doc_id, b)
  // partial agg joined against the BROADCAST 256-row weight table, then
  // the bounded per-doc fold — no shuffle wider than (doc_id, b),
  // nothing quadratic, the weight table is O(B) at any corpus size.

  private val DsirB = 256

  /** Unigrams + bigrams (occurrence-counted, NOT distinct — DSIR uses
    * the feature distribution, not the set).
    */
  private val dsirGramsExpr =
    "concat(ts, CASE WHEN size(ts) >= 2 THEN transform(sequence(0, size(ts)-2), " +
      "i -> concat_ws(' ', element_at(ts, i+1), element_at(ts, i+2))) " +
      "ELSE slice(ts, 1, 0) END)"

  private def qDsirWeights(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), simpleTokens(col("text")).as("ts"))
    val db = docs.filter(size(col("ts")) >= 1)
      .select(col("doc_id"), col("source"),
        explode(expr(dsirGramsExpr)).as("g"))
      .withColumn("b", pmod(md5Sid(col("g"), 8), lit(DsirB)))
      .select("doc_id", "source", "b")
    val isTgt = when(col("source") === "src0", 1L).otherwise(0L)
    val tot = db.agg(count(lit(1)).as("s_tot"), sum(isTgt).as("t_tot"))
    val wt = db.groupBy("b")
      .agg(count(lit(1)).as("cs"), sum(isTgt).as("ct"))
      .crossJoin(broadcast(tot))
      .select(col("b"),
        ((col("ct") + 1).cast("double") / (col("t_tot") + DsirB) -
          (col("cs") + 1).cast("double") / (col("s_tot") + DsirB)).as("w"))
    val scored = db.groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
      .join(broadcast(wt), "b")
      .withColumn("term", col("c") * col("w"))
      .groupBy("doc_id")
      .agg(orderedSum("b", "term").as("iw0"), sum("c").as("n_grams"))
      .select(col("doc_id"), Rounding.r(col("iw0") * 1e6, 4).as("iw_score"),
        col("n_grams"))
    t(s, dir, "documents").select("doc_id")
      .join(scored, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_grams")).na.fill(0.0, Seq("iw_score"))
      .orderBy("doc_id")
  }

  private val qDsirWeightsSql =
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ts
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, source,
       |    unnest(ts || CASE WHEN len(ts) >= 2 THEN list_transform(
       |      generate_series(1, len(ts)-1), i -> ts[i] || ' ' || ts[i+1])
       |      ELSE [] END) AS g
       |  FROM toks WHERE len(ts) >= 1),
       |db AS (
       |  SELECT doc_id, source,
       |    ${md5SidSql("g", 8)} % $DsirB AS b
       |  FROM grams),
       |tot AS (
       |  SELECT count(*) AS s_tot,
       |    sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS t_tot FROM db),
       |wt AS (
       |  SELECT b, (ct + 1)::DOUBLE / (t_tot + $DsirB)
       |    - (cs + 1)::DOUBLE / (s_tot + $DsirB) AS w
       |  FROM (SELECT b, count(*) AS cs,
       |      sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct
       |    FROM db GROUP BY 1) CROSS JOIN tot),
       |sc AS (
       |  SELECT doc_id, list_sum(list(term ORDER BY b)) AS iw0,
       |    CAST(sum(c) AS BIGINT) AS n_grams
       |  FROM (
       |    SELECT p.doc_id, p.b, p.c, p.c * w.w AS term
       |    FROM (SELECT doc_id, b, count(*) AS c FROM db GROUP BY 1, 2) p
       |    JOIN wt w USING (b))
       |  GROUP BY 1)
       |SELECT d.doc_id,
       |  coalesce(${Rounding.rSql("sc.iw0 * 1e6", 4)}, 0.0) AS iw_score,
       |  coalesce(sc.n_grams, 0) AS n_grams
       |FROM documents d LEFT JOIN sc USING (doc_id)
       |ORDER BY 1""".stripMargin

  // --- A6 visual-fusion aggregate (multimodal_embedder.py:249-271) ----------
  //
  // `fuse_embeddings`: mean of the visual embeddings (axis 0) concatenated
  // onto the text embedding; no visuals → text embedding unchanged. Here
  // each "document" owns 4 consecutive vectors: vec_id%4==0 is its text
  // embedding, %4∈{1,2} its visuals — except every 5th document, which has
  // none (exercises the no-visual branch). The element-wise mean is a
  // posexplode + (doc, dim) hash aggregation — partial-agg friendly at any
  // scale — reassembled in dimension order; outputs are scalar summaries
  // (dim, first/last, checksum) so the compare never depends on
  // engine-specific array-to-string formatting.

  private def qVisualFusion(s: SparkSession, dir: String): DataFrame = {
    val emb = embDouble(s, dir)
      .withColumn("doc_id", (col("vec_id") / 4).cast("long"))
    val text = emb.filter(pmod(col("vec_id"), lit(4)) === 0)
      .select(col("doc_id"), col("e").as("te"))
    val visuals = emb.filter(pmod(col("vec_id"), lit(4)).isin(1, 2) &&
        pmod(col("doc_id"), lit(5)) =!= 0)
      .select(col("doc_id"), posexplode(col("e")).as(Seq("i", "v")))
    val vavg = visuals.groupBy("doc_id", "i").agg(avg("v").as("m"))
      .groupBy("doc_id")
      .agg(expr("transform(array_sort(collect_list(struct(i, m))), x -> x.m)").as("vavg"))
    text.join(vavg, Seq("doc_id"), "left")
      .withColumn("fused",
        when(col("vavg").isNull, col("te")).otherwise(concat(col("te"), col("vavg"))))
      .select(col("doc_id"),
        size(col("fused")).as("dim"),
        Rounding.r(element_at(col("fused"), 1), 4).as("f_first"),
        Rounding.r(element_at(col("fused"), size(col("fused"))), 4).as("f_last"),
        Rounding.r(expr("aggregate(fused, 0D, (acc, v) -> acc + v)"), 4).as("checksum"))
      .orderBy("doc_id")
  }

  private val qVisualFusionSql =
    """WITH e AS (
      |  SELECT vec_id, vec_id // 4 AS doc_id,
      |    list_transform(embedding, x -> x::DOUBLE) AS e
      |  FROM embeddings),
      |t AS (SELECT doc_id, e AS te FROM e WHERE vec_id % 4 = 0),
      |vis AS (
      |  SELECT doc_id, e FROM e
      |  WHERE vec_id % 4 IN (1, 2) AND doc_id % 5 <> 0),
      |vexp AS (
      |  SELECT doc_id, u.i AS i, u.v AS v FROM (
      |    SELECT doc_id, unnest(list_transform(generate_series(1, len(e)),
      |      i -> {'i': i, 'v': e[i]})) AS u
      |    FROM vis) x),
      |vavg AS (
      |  SELECT doc_id, list(m ORDER BY i) AS vavg FROM (
      |    SELECT doc_id, i, avg(v) AS m FROM vexp GROUP BY 1, 2)
      |  GROUP BY 1),
      |f AS (
      |  SELECT t.doc_id,
      |    CASE WHEN vavg.vavg IS NULL THEN te
      |         ELSE list_concat(te, vavg.vavg) END AS fused
      |  FROM t LEFT JOIN vavg ON t.doc_id = vavg.doc_id)
      |SELECT doc_id, len(fused) AS dim,
      |  floor((fused[1]) * 1e4 + 0.5) / 1e4 AS f_first,
      |  floor((fused[len(fused)]) * 1e4 + 0.5) / 1e4 AS f_last,
      |  floor((list_sum(fused)) * 1e4 + 0.5) / 1e4 AS checksum
      |FROM f ORDER BY doc_id""".stripMargin

  // --- language ID (stopword-ratio heuristic) -------------------------------

  private val stopArray = typedLit(Tokenizer.StopWords.toSeq.sorted)

  private def qLangId(s: SparkSession, dir: String): DataFrame =
    sparkToks(s, dir)
      .withColumn("ratio", Rounding.r(
        size(filter(col("ts"), x => array_contains(stopArray, x))) /
          greatest(size(col("ts")), lit(1)).cast("double"), 5))
      .withColumn("predicted",
        when(col("ratio") >= 0.12, lit("en_like")).otherwise(lit("other")))
      .select("doc_id", "ratio", "predicted")
      .orderBy("doc_id")

  private val qLangIdSql =
    s"""WITH $TokensCte
       |SELECT doc_id,
       |  floor((len(list_filter(ts, x -> list_contains($stopListSql, x))) /
       |    greatest(len(ts), 1)::DOUBLE) * 1e5 + 0.5) / 1e5 AS ratio,
       |  CASE WHEN floor((len(list_filter(ts, x -> list_contains($stopListSql, x))) /
       |    greatest(len(ts), 1)::DOUBLE) * 1e5 + 0.5) / 1e5 >= 0.12
       |    THEN 'en_like' ELSE 'other' END AS predicted
       |FROM toks ORDER BY doc_id""".stripMargin

  // --- Cohen's kappa annotator agreement --------------------------------------
  //
  // The label-quality scalar of any annotation pipeline (Cohen 1960):
  // chance-corrected agreement between two labelers — here the corpus's
  // stored `lang` column (annotator B: en vs not) against the stopword-
  // ratio language-ID heuristic (annotator A: q_lang_id's en_like rule),
  // i.e. "how much better than chance does the cheap heuristic agree
  // with the metadata". The whole statistic reduces to the four
  // contingency cells — exact BIGINT counts from one narrow pass — and
  // kappa = (N·(n11+n00) − (a1·b1 + a0·b0)) / (N² − (a1·b1 + a0·b0)):
  // ONE double division of two exact integers at the end (exact while
  // N < ~3·10⁹; the audit runs on a probe sample beyond that). Plan:
  // single scan, single 4-cell aggregate, no shuffle beyond the final
  // 1-row agg. Runs over the ENRICHED corpus twin ([[enrichedDocs]]) —
  // on the raw synthetic corpus the statistic is degenerate (non-en docs
  // carry English tokens, so the heuristic scored BELOW chance, a
  // round-2 finding); the per-language pools + deterministic label noise
  // exercise the real path (all four cells populated, κ well above 0).

  private def qKappa(s: SparkSession, dir: String): DataFrame = {
    val lab = enrichedDocs(s, dir)
      .select(col("lang"), simpleTokens(col("text2")).as("ts"))
      .withColumn("a",
        when(Rounding.r(
          size(filter(col("ts"), x => array_contains(stopArray, x))) /
            greatest(size(col("ts")), lit(1)).cast("double"), 5) >= 0.12,
          1L).otherwise(0L))
      .withColumn("b", when(col("lang") === "en", 1L).otherwise(0L))
    val c = lab.agg(
      sum(col("a") * col("b")).as("n11"),
      sum(col("a") * (lit(1L) - col("b"))).as("n10"),
      sum((lit(1L) - col("a")) * col("b")).as("n01"),
      sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n00"))
    val n = col("n11") + col("n10") + col("n01") + col("n00")
    val chance = (col("n11") + col("n10")) * (col("n11") + col("n01")) +
      (col("n01") + col("n00")) * (col("n10") + col("n00"))
    c.select(col("n11"), col("n10"), col("n01"), col("n00"),
      Rounding.r(
        (n * (col("n11") + col("n00")) - chance).cast("double") /
          (n * n - chance).cast("double"), 6).as("kappa"))
  }

  private val qKappaSql = {
    val n = "(n11 + n10 + n01 + n00)"
    val chance = "((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))"
    s"""WITH $EnrichedCte,
       |lt AS (
       |  SELECT lang,
       |    list_filter(string_split_regex(lower(text2), '\\s+'), x -> x <> '') AS ts
       |  FROM enr),
       |lab AS (
       |  SELECT
       |    CASE WHEN floor((len(list_filter(ts, x -> list_contains($stopListSql, x))) /
       |        greatest(len(ts), 1)::DOUBLE) * 1e5 + 0.5) / 1e5 >= 0.12
       |      THEN 1 ELSE 0 END AS a,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS b
       |  FROM lt),
       |c AS (
       |  SELECT CAST(sum(a * b) AS BIGINT) AS n11,
       |    CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
       |    CAST(sum((1 - a) * b) AS BIGINT) AS n01,
       |    CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
       |  FROM lab)
       |SELECT n11, n10, n01, n00,
       |  ${Rounding.rSql(
          s"($n * (n11 + n00) - $chance)::DOUBLE / ($n * $n - $chance)::DOUBLE", 6)} AS kappa
       |FROM c""".stripMargin
  }

  // --- quality score (diversity / stopword / length components) ------------

  private def qQualityScore(s: SparkSession, dir: String): DataFrame =
    sparkToks(s, dir)
      .withColumn("n_toks", size(col("ts")))
      .withColumn("diversity",
        size(array_distinct(col("ts"))) / greatest(col("n_toks"), lit(1)).cast("double"))
      .withColumn("stop_ratio",
        size(filter(col("ts"), x => array_contains(stopArray, x))) /
          greatest(col("n_toks"), lit(1)).cast("double"))
      .withColumn("mean_len",
        expr("aggregate(ts, 0L, (acc, x) -> acc + length(x))") /
          greatest(col("n_toks"), lit(1)).cast("double"))
      .select(col("doc_id"), col("n_toks"),
        Rounding.r(col("diversity") * 0.4 + col("stop_ratio") * 0.3 +
          least(col("mean_len") / 10.0, lit(1.0)) * 0.3, 4).as("quality"))
      .orderBy("doc_id")

  private val qQualityScoreSql =
    s"""WITH $TokensCte,
       |m AS (
       |  SELECT doc_id, len(ts) AS n_toks,
       |    len(list_distinct(ts)) / greatest(len(ts), 1)::DOUBLE AS diversity,
       |    len(list_filter(ts, x -> list_contains($stopListSql, x))) /
       |      greatest(len(ts), 1)::DOUBLE AS stop_ratio,
       |    coalesce(list_sum(list_transform(ts, x -> len(x))), 0) /
       |      greatest(len(ts), 1)::DOUBLE AS mean_len
       |  FROM toks)
       |SELECT doc_id, n_toks,
       |  floor((diversity * 0.4 + stop_ratio * 0.3 +
       |    least(mean_len / 10.0, 1.0) * 0.3) * 1e4 + 0.5) / 1e4 AS quality
       |FROM m ORDER BY doc_id""".stripMargin

  // --- token counting (whitespace + BPE-ish regex) --------------------------

  private def qTokenCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("ws_toks", size(simpleTokens(col("text"))))
      .withColumn("bpe_toks",
        regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")))
      .groupBy("lang")
      .agg(sum("ws_toks").as("ws_tokens"), sum("bpe_toks").as("bpe_tokens"),
        count(lit(1)).as("n_docs"))
      .orderBy("lang")

  private val qTokenCountSql =
    """SELECT lang,
      |  CAST(sum(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''))) AS BIGINT) AS ws_tokens,
      |  CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS bpe_tokens,
      |  count(*) AS n_docs
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // --- Zipf-exponent fit of the token-frequency head -------------------------
  //
  // The corpus-health scalar every curation dashboard carries: fit
  // ln f_r ≈ intercept − slope·ln r over the top-R frequency head and
  // report the exponent (natural text ≈ 1; boilerplate- or spam-heavy
  // corpora drift away). The OLS moments are fixed-pointed per term at
  // 1e6 (`Rounding.fpSum` discipline — order-immune integer sums; the
  // integer cross moments stay far below 2^63) so slope and intercept
  // are bit-identical across engines and partitionings. Plan: one
  // tokenize + term-count shuffle (the q_token_tf shape), a TakeOrdered
  // top-R head, and all regression math on R rows.

  private val ZipfR = 100

  private def qZipfFit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = sparkToks(s, dir)
      .select(explode(col("ts")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("f"))
    val head = tf.orderBy(col("f").desc, col("tok")).limit(ZipfR)
      .withColumn("r",
        row_number().over(Window.orderBy(col("f").desc, col("tok"))))
      .withColumn("lx", floor(log(col("r").cast("double")) * 1e6 + 0.5).cast("long"))
      .withColumn("ly", floor(log(col("f").cast("double")) * 1e6 + 0.5).cast("long"))
    val m = head.agg(
      count(lit(1)).as("n"),
      sum("lx").as("sx"), sum("ly").as("sy"),
      sum(col("lx") * col("ly")).as("sxy"),
      sum(col("lx") * col("lx")).as("sxx"),
      max("f").as("top_freq"))
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val den = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    m.select(col("n"), col("top_freq"),
      Rounding.r(num / den, 4).as("slope"),
      Rounding.r(
        (col("sy").cast("double") / lit(1e6) -
          num / den * (col("sx").cast("double") / lit(1e6))) /
          col("n").cast("double"), 4).as("intercept"))
  }

  private val qZipfFitSql = {
    val num = "(n * sxy - sx * sy)::DOUBLE"
    val den = "(n * sxx - sx * sx)::DOUBLE"
    s"""WITH $TokensCte,
       |tf AS (
       |  SELECT u.t AS tok, count(*) AS f
       |  FROM (SELECT unnest(ts) AS t FROM toks) u GROUP BY 1),
       |head AS (
       |  SELECT tok, f, row_number() OVER (ORDER BY f DESC, tok) AS r
       |  FROM (SELECT * FROM tf ORDER BY f DESC, tok LIMIT $ZipfR)),
       |lm AS (
       |  SELECT f,
       |    CAST(floor(ln(r::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS lx,
       |    CAST(floor(ln(f::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS ly
       |  FROM head),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(lx) AS BIGINT) AS sx, CAST(sum(ly) AS BIGINT) AS sy,
       |    CAST(sum(lx * ly) AS BIGINT) AS sxy,
       |    CAST(sum(lx * lx) AS BIGINT) AS sxx,
       |    CAST(max(f) AS BIGINT) AS top_freq
       |  FROM lm)
       |SELECT n, top_freq,
       |  ${Rounding.rSql(s"$num / $den", 4)} AS slope,
       |  ${Rounding.rSql(
          s"(sy::DOUBLE / 1e6 - $num / $den * (sx::DOUBLE / 1e6)) / n::DOUBLE", 4)} AS intercept
       |FROM agg""".stripMargin
  }

  // --- term burstiness (Fano factor) ------------------------------------------
  //
  // Church & Gale's burstiness observation: content words are BURSTY —
  // when they appear they appear several times — while function words
  // spread uniformly; the variance-to-mean ratio of a term's
  // per-document count separates the two, which makes it a topical-term
  // detector no single-document statistic can replicate. Over ALL docs
  // (absent docs count 0) the Fano factor reduces to
  // VMR = (N·Σtf² − (Σtf)²) / (N·Σtf) — exact BIGINT numerator and
  // denominator from one postings aggregate plus a broadcast 1-row doc
  // count; ONE double division per term at the end. df ≥ 5 floors out
  // hapax noise. Plan: the q_token_tf shuffle shape, a term-grain agg,
  // TakeOrdered top-20.

  // int64 bound (round-5 audit): the numerator N·Σtf² is the binding
  // term — for a function word with df ≈ N and tf ≈ 10 it is ≈ 100·N²,
  // so BIGINT holds to N ≈ 3·10⁸ documents; at 10¹² docs it wraps by
  // ~10⁷. Past the bound the `WideStats` knob computes the tf moments
  // and final cross-products at DECIMAL(38,0) — exact to N ≈ 10¹⁸ —
  // same plan shape (`WideStatsSpec`).
  private def qBurstiness(s: SparkSession, dir: String): DataFrame = {
    val tf = sparkToks(s, dir)
      .select(col("doc_id"), explode(col("ts")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val nd = t(s, dir, "documents").agg(count(lit(1)).as("nn"))
    vmrTop(tf, nd)
  }

  /** Top-20 VMR over `(doc_id, tok, tf)` rows and a 1-row doc count —
    * the body of `q_burstiness`, factored so `WideStatsSpec` can drive
    * it past the BIGINT bound.
    */
  private[graft] def vmrTop(tf: DataFrame, nd: DataFrame): DataFrame =
    tf.groupBy("tok").agg(count(lit(1)).as("df"),
        WideStats.wsum(col("tf")).as("sx"),
        WideStats.wsumProd(col("tf"), col("tf")).as("sx2"))
      .filter(col("df") >= 5)
      .crossJoin(broadcast(nd))
      .select(col("tok"), col("df"), col("sx").as("total_tf"),
        Rounding.r(
          (WideStats.prod(col("nn"), col("sx2")) -
            WideStats.prod(col("sx"), col("sx"))).cast("double") /
            WideStats.prod(col("nn"), col("sx")).cast("double"), 6).as("vmr"))
      .orderBy(col("vmr").desc, col("tok")).limit(20)

  private val qBurstinessSql =
    s"""WITH $TokensCte,
       |tf AS (
       |  SELECT doc_id, t AS tok, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(ts) AS t FROM toks) u GROUP BY 1, 2),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
       |ag AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS df,
       |    CAST(sum(tf) AS BIGINT) AS sx, CAST(sum(tf * tf) AS BIGINT) AS sx2
       |  FROM tf GROUP BY 1)
       |SELECT tok, df, sx AS total_tf,
       |  ${Rounding.rSql(
          "((SELECT nn FROM nd) * sx2 - sx * sx)::DOUBLE / ((SELECT nn FROM nd) * sx)::DOUBLE",
          6)} AS vmr
       |FROM ag WHERE df >= 5
       |ORDER BY vmr DESC, tok LIMIT 20""".stripMargin

  // --- Hill tail-index estimator ----------------------------------------------
  //
  // Hill 1975: α̂ = k / Σ_{i≤k}(ln x_(i) − ln x_(k+1)) over the k
  // largest observations — the heavy-tail report card for the document-
  // length distribution (a small α means a few mega-documents dominate
  // storage and skew every per-partition budget; the number a 100 TB
  // layout planner actually wants next to the quantiles). Value-
  // deterministic: the top-(k+1) VALUE multiset is the same under any
  // tie order, and the log spacings fix-point at 1e9 so the sum is an
  // exact BIGINT; α is
  // one final division, NULL when the top values are all equal (zero
  // spacing). Plan: TakeOrdered top-51 on a narrow projection, then
  // 1-row math.

  private val HillK = 50

  private def qHillTail(s: SparkSession, dir: String): DataFrame = {
    val top = t(s, dir, "documents").select(col("n_chars"))
      .filter(col("n_chars") > 0)
      .orderBy(col("n_chars").desc).limit(HillK + 1)
      .withColumn("l",
        floor(log(col("n_chars").cast("double")) * 1e9 + 0.5).cast("long"))
    val ag = top.agg(sum("l").as("sl"), min("l").as("lk1"),
      min("n_chars").as("xk1"), count(lit(1)).as("n1"))
    val spacing = col("sl") - col("n1") * col("lk1")
    ag.select(lit(HillK.toLong).as("k"), col("xk1"),
      when(spacing > 0,
        Rounding.r(lit(HillK.toDouble) * lit(1e9) / spacing.cast("double"), 4))
        .otherwise(lit(null).cast("double")).as("alpha"))
  }

  private val qHillTailSql =
    s"""WITH tp AS (
       |  SELECT n_chars,
       |    CAST(floor(ln(n_chars::DOUBLE) * 1e9 + 0.5) AS BIGINT) AS l
       |  FROM documents WHERE n_chars > 0
       |  ORDER BY n_chars DESC LIMIT ${HillK + 1}),
       |ag AS (
       |  SELECT CAST(sum(l) AS BIGINT) AS sl, min(l) AS lk1,
       |    CAST(min(n_chars) AS BIGINT) AS xk1, CAST(count(*) AS BIGINT) AS n1
       |  FROM tp)
       |SELECT CAST($HillK AS BIGINT) AS k, xk1,
       |  ${Rounding.rSql(
          s"$HillK.0 * 1e9 / NULLIF(sl - n1 * lk1, 0)::DOUBLE", 4)} AS alpha
       |FROM ag""".stripMargin

  // --- Heaps'-law fit of vocabulary growth ------------------------------------
  //
  // Heaps 1978: V(N) ≈ K·N^β — how fast the vocabulary grows with the
  // corpus, the number that sizes every downstream dictionary, minhash
  // universe, and tokenizer vocab as the corpus scales 100×. Ten prefix
  // points by doc-id range (boundary_i = i·(max_id+1)/10 — id-range
  // prefixes need NO global ordering window: each term contributes its
  // min doc_id, each doc its token count, both bucketed by integer
  // division and cumulated over a 10-row grid join), then the same
  // fixed-point OLS as q_zipf_fit on (ln N_i, ln V_i). β is the Heaps
  // exponent (~0.5 for natural text), intercept = ln K. Runs over the
  // ENRICHED corpus twin ([[enrichedDocs]]): the raw synthetic corpus's
  // closed ~31-type vocabulary saturates in the first prefix (β = 0
  // measured, a round-2 finding); the injected w⌊√(16·doc_id+j)⌋ types
  // give the fit a genuinely open vocabulary (β ≈ ½ by construction).

  private def qHeapsFit(s: SparkSession, dir: String): DataFrame = {
    val toks = enrichedDocs(s, dir)
      .select(col("doc_id"), simpleTokens(col("text2")).as("ts"))
    val mx = t(s, dir, "documents").agg(max("doc_id").as("m"))
    val tokBkt = toks.crossJoin(broadcast(mx))
      .select(expr("((doc_id * 10) div (m + 1)) + 1").as("bkt"),
        size(col("ts")).cast("long").as("ntok"))
      .groupBy("bkt").agg(sum("ntok").as("toks"))
    val termBkt = toks.select(col("doc_id"), explode(col("ts")).as("tok"))
      .groupBy("tok").agg(min("doc_id").as("fo"))
      .crossJoin(broadcast(mx))
      .select(expr("((fo * 10) div (m + 1)) + 1").as("bkt"))
      .groupBy("bkt").agg(count(lit(1)).as("nv"))
    val grid = s.range(1, 11).select(col("id").as("i"))
    val nCum = grid.crossJoin(broadcast(tokBkt))
      .filter(col("bkt") <= col("i"))
      .groupBy("i").agg(sum("toks").as("nn"))
    val vCum = grid.crossJoin(broadcast(termBkt))
      .filter(col("bkt") <= col("i"))
      .groupBy("i").agg(sum("nv").as("vv"))
    val pts = nCum.join(vCum, "i")
      .filter(col("nn") > 0 && col("vv") > 0)
      .withColumn("lx", floor(log(col("nn").cast("double")) * 1e6 + 0.5).cast("long"))
      .withColumn("ly", floor(log(col("vv").cast("double")) * 1e6 + 0.5).cast("long"))
    val m = pts.agg(count(lit(1)).as("n"),
      sum("lx").as("sx"), sum("ly").as("sy"),
      sum(col("lx") * col("ly")).as("sxy"),
      sum(col("lx") * col("lx")).as("sxx"))
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val den = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    m.select(col("n").as("n_points"),
      Rounding.r(num / den, 4).as("beta"),
      Rounding.r(
        (col("sy").cast("double") / lit(1e6) -
          num / den * (col("sx").cast("double") / lit(1e6))) /
          col("n").cast("double"), 4).as("lnk"))
  }

  private val qHeapsFitSql = {
    val num = "(n * sxy - sx * sy)::DOUBLE"
    val den = "(n * sxx - sx * sx)::DOUBLE"
    s"""WITH $EnrichedCte,
       |toks AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text2), '\\s+'), x -> x <> '') AS ts
       |  FROM enr),
       |mx AS (SELECT max(doc_id) AS m FROM documents),
       |tokbkt AS (
       |  SELECT ((doc_id * 10) // ((SELECT m FROM mx) + 1)) + 1 AS bkt,
       |    CAST(sum(len(ts)) AS BIGINT) AS toks
       |  FROM toks GROUP BY 1),
       |termbkt AS (
       |  SELECT ((fo * 10) // ((SELECT m FROM mx) + 1)) + 1 AS bkt,
       |    CAST(count(*) AS BIGINT) AS nv
       |  FROM (
       |    SELECT t AS tok, min(doc_id) AS fo
       |    FROM (SELECT doc_id, unnest(ts) AS t FROM toks) u GROUP BY 1) f
       |  GROUP BY 1),
       |grid AS (SELECT unnest(generate_series(1, 10)) AS i),
       |ncum AS (
       |  SELECT i, CAST(sum(toks) AS BIGINT) AS nn
       |  FROM grid JOIN tokbkt ON bkt <= i GROUP BY 1),
       |vcum AS (
       |  SELECT i, CAST(sum(nv) AS BIGINT) AS vv
       |  FROM grid JOIN termbkt ON bkt <= i GROUP BY 1),
       |pts AS (
       |  SELECT CAST(floor(ln(nn::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS lx,
       |    CAST(floor(ln(vv::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS ly
       |  FROM ncum JOIN vcum USING (i) WHERE nn > 0 AND vv > 0),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(lx) AS BIGINT) AS sx, CAST(sum(ly) AS BIGINT) AS sy,
       |    CAST(sum(lx * ly) AS BIGINT) AS sxy,
       |    CAST(sum(lx * lx) AS BIGINT) AS sxx
       |  FROM pts)
       |SELECT n AS n_points,
       |  ${Rounding.rSql(s"$num / $den", 4)} AS beta,
       |  ${Rounding.rSql(
          s"(sy::DOUBLE / 1e6 - $num / $den * (sx::DOUBLE / 1e6)) / n::DOUBLE", 4)} AS lnk
       |FROM agg""".stripMargin
  }

  // --- document fingerprint (rolling 4-gram hash, min-sampled) --------------

  private def qDocFingerprint(s: SparkSession, dir: String): DataFrame = {
    val toks = sparkToks(s, dir)
    val pos = toks.select(col("doc_id"), posexplode(col("ts")).as(Seq("pos", "tok")))
      .withColumn("sid", md5Sid(col("tok"), 10))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    pos
      .withColumn("s1", lead("sid", 1).over(w))
      .withColumn("s2", lead("sid", 2).over(w))
      .withColumn("s3", lead("sid", 3).over(w))
      .filter(col("s3").isNotNull)
      .withColumn("h",
        (col("sid") + col("s1") * 31L + col("s2") * 961L + col("s3") * 29791L) % P31)
      .groupBy("doc_id")
      .agg(min("h").as("fingerprint"), count(lit(1)).as("n_grams"))
      .orderBy("doc_id")
  }

  private val qDocFingerprintSql =
    s"""WITH $TokensCte,
       |pos AS (
       |  SELECT doc_id, u.p AS pos, ${md5SidSql("u.tk", 10)} AS sid
       |  FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(generate_series(1, len(ts)),
       |        i -> {'p': i, 'tk': ts[i]})) AS u
       |    FROM toks) x),
       |grams AS (
       |  SELECT doc_id, sid,
       |    lead(sid, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS s1,
       |    lead(sid, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS s2,
       |    lead(sid, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS s3
       |  FROM pos)
       |SELECT doc_id,
       |  min((sid + s1 * 31 + s2 * 961 + s3 * 29791) % $P31) AS fingerprint,
       |  count(*) AS n_grams
       |FROM grams WHERE s3 IS NOT NULL
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- benchmark decontamination (n-gram overlap vs an eval set) ------------
  //
  // The standard pretraining hygiene op: flag corpus documents sharing any
  // token trigram with a held-out benchmark so eval questions never leak
  // into training data. The benchmark side is tiny at any corpus size
  // (eval suites are MBs against a 100 TB corpus), so its distinct
  // trigram set BROADCASTS — the corpus side stays one narrow scan +
  // broadcast-hash join, and the only shuffle is the per-doc hit count
  // (partial-agg, keyed on doc_id, bounded by doc length). Benchmark
  // membership here is a deterministic hash split (pmod 101 == 7, the
  // q_train_split discipline) standing in for a real eval table.

  private def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    // persisted: bench set + both corpus consumers re-use the shingling
    val tri = sparkToks(s, dir)
      .filter(size(col("ts")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(0, size(ts)-3), i -> concat_ws(' ', element_at(ts, i+1), element_at(ts, i+2), element_at(ts, i+3)))")))
        .as("tok"))
      .persist()
    val bench = tri.filter(pmod(col("doc_id"), lit(101)) === 7)
      .select("tok").distinct()
    val corpus = tri.filter(pmod(col("doc_id"), lit(101)) =!= 7)
    val totals = corpus.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val hits = corpus.join(broadcast(bench), "tok")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    hits.join(totals, "doc_id")
      .select(col("doc_id"), col("n_hits"), col("n_grams"),
        Rounding.r(col("n_hits") / col("n_grams").cast("double"), 5).as("contamination"))
      .orderBy("doc_id")
  }

  private def qDecontaminateSql: String =
    s"""WITH $TokensCte,
       |tri AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(ts)-2),
       |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))) AS tok
       |  FROM toks WHERE len(ts) >= 3),
       |bench AS (SELECT DISTINCT tok FROM tri WHERE doc_id % 101 = 7),
       |corpus AS (SELECT * FROM tri WHERE doc_id % 101 <> 7),
       |totals AS (SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY 1),
       |hits AS (
       |  SELECT c.doc_id, count(*) AS n_hits
       |  FROM corpus c JOIN bench b ON c.tok = b.tok GROUP BY 1)
       |SELECT h.doc_id, h.n_hits, t.n_grams,
       |  floor((h.n_hits / t.n_grams::DOUBLE) * 1e5 + 0.5) / 1e5 AS contamination
       |FROM hits h JOIN totals t ON h.doc_id = t.doc_id
       |ORDER BY h.doc_id""".stripMargin

  // --- incremental dedup via a broadcast Bloom filter -----------------------
  //
  // Deduplicating a NEW ingest batch against the historical corpus is the
  // incremental form of exact dedup — and the one place a plain anti-join
  // is a scale-killer: it shuffles the 100 TB history on every batch. The
  // Bloom pattern builds a fixed-size bit array over the history's
  // content hashes ONCE (one pass, partial bit_or aggregation into
  // 63-bit words — 63, not 64, because DuckDB rejects 1<<63 as BIGINT
  // overflow; the word table is KBs at any corpus size), broadcasts
  // it, and probes the batch with pure per-row math; only the ~1% of
  // batch rows the filter passes ever reach the residual exact join.
  // The filter is deterministic (k md5-derived bit positions), so DuckDB
  // reproduces it bit-for-bit and the oracle checks the false-positive
  // behavior itself, not just the exact-dup truth. Demo m=4096/k=3 —
  // production sizes m ~ 10 bits/key with the same plan shape.

  private val BloomBits = 4096
  private val BloomK = 3

  private def bloomPos(h: Column, j: Column): Column =
    pmod(md5Sid(concat(h, j.cast("string")), 12), lit(BloomBits.toLong))

  private def qBloomPrune(s: SparkSession, dir: String): DataFrame = {
    // identity = prefix-64 fingerprint, not the full-text hash: catches
    // the boilerplate-prefix duplicates the synthetic corpus actually
    // contains, so the oracle exercises hits, misses AND false positives
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), md5(substring(col("text"), 1, 64)).as("h"))
    val hist = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0).select("h").distinct()
    val js = explode(typedLit((0 until BloomK).toList)).as("j")
    val words = hist.select(col("h"), js)
      .select(bloomPos(col("h"), col("j")).as("p"))
      .select(expr("p DIV 63").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 63 AS INT))").as("m"))
      .groupBy("w").agg(expr("bit_or(m)").as("wd"))
    val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val probe = batch.select(col("doc_id"), col("h"), js)
      .select(col("doc_id"), col("h"), bloomPos(col("h"), col("j")).as("p"))
      .select(col("doc_id"), col("h"), expr("p DIV 63").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 63 AS INT))").as("m"))
      .join(broadcast(words), Seq("w"), "left")
      .select(col("doc_id"), col("h"),
        when(col("wd").isNotNull && (col("wd").bitwiseAND(col("m")) =!= 0), 1)
          .otherwise(0).as("hit"))
      .groupBy("doc_id", "h")
      .agg((sum("hit") === BloomK).cast("int").as("bloom_hit"))
    val exact = batch.join(hist.withColumnRenamed("h", "eh"),
        col("h") === col("eh"), "left")
      .select(col("doc_id"), col("eh").isNotNull.cast("int").as("exact_dup"))
    probe.join(exact, "doc_id")
      .select("doc_id", "bloom_hit", "exact_dup")
      .orderBy("doc_id")
  }

  private def qBloomPruneSql: String = {
    val posSql = (col: String) =>
      s"('0x' || substr(md5($col || CAST(j AS VARCHAR)), 1, 12))::BIGINT % $BloomBits"
    s"""WITH hist AS (
       |  SELECT DISTINCT md5(substr(text, 1, 64)) AS h
       |  FROM documents WHERE doc_id % 5 <> 0),
       |js AS (SELECT unnest(generate_series(0, ${BloomK - 1})) AS j),
       |hpos AS (SELECT ${posSql("h")} AS p FROM hist CROSS JOIN js),
       |words AS (
       |  SELECT p // 63 AS w, bit_or(1::BIGINT << CAST(p % 63 AS INT)) AS wd
       |  FROM hpos GROUP BY 1),
       |batch AS (
       |  SELECT doc_id, md5(substr(text, 1, 64)) AS h
       |  FROM documents WHERE doc_id % 5 = 0),
       |bpos AS (SELECT doc_id, h, ${posSql("h")} AS p FROM batch CROSS JOIN js),
       |probe AS (
       |  SELECT b.doc_id, b.h,
       |    CASE WHEN w.wd IS NOT NULL
       |      AND (w.wd & (1::BIGINT << CAST(b.p % 63 AS INT))) <> 0
       |      THEN 1 ELSE 0 END AS hit
       |  FROM bpos b LEFT JOIN words w ON b.p // 63 = w.w),
       |bh AS (
       |  SELECT doc_id, CASE WHEN sum(hit) = $BloomK THEN 1 ELSE 0 END AS bloom_hit
       |  FROM probe GROUP BY 1),
       |ex AS (
       |  SELECT b.doc_id,
       |    CASE WHEN EXISTS (SELECT 1 FROM hist x WHERE x.h = b.h)
       |      THEN 1 ELSE 0 END AS exact_dup
       |  FROM batch b)
       |SELECT bh.doc_id, bh.bloom_hit, ex.exact_dup
       |FROM bh JOIN ex ON bh.doc_id = ex.doc_id
       |ORDER BY bh.doc_id""".stripMargin
  }

  // --- within-document repetition signals (Gopher-style quality rules) ------
  //
  // Two classic repetition filters from large-corpus curation: the
  // fraction of a document's token trigrams that are duplicates, and the
  // share of its bigrams taken by the single most frequent bigram
  // (boilerplate and spam score high on both). The trigram side is a
  // pure per-row array projection — no shuffle at all; the bigram mode
  // needs one hash aggregation keyed on (doc_id, bigram) — partial-agg
  // friendly and bounded by document length, linear in the corpus.

  private def qRepetition(s: SparkSession, dir: String): DataFrame = {
    val toks = sparkToks(s, dir).filter(size(col("ts")) >= 3)
    val triStats = toks
      .select(col("doc_id"), expr(
        "transform(sequence(0, size(ts)-3), i -> concat_ws(' ', element_at(ts, i+1), element_at(ts, i+2), element_at(ts, i+3)))")
        .as("tri"))
      .select(col("doc_id"),
        Rounding.r((size(col("tri")) - size(array_distinct(col("tri")))) /
          size(col("tri")).cast("double"), 5).as("dup_tri_frac"))
    val bi = toks.select(col("doc_id"), explode(expr(
      "transform(sequence(0, size(ts)-2), i -> concat_ws(' ', element_at(ts, i+1), element_at(ts, i+2)))"))
      .as("tok"))
    val biStats = bi.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(Rounding.r(max(col("c")) / sum(col("c")).cast("double"), 5)
        .as("top_bigram_ratio"))
    triStats.join(biStats, "doc_id")
      .withColumn("flagged",
        (col("dup_tri_frac") > 0.30 || col("top_bigram_ratio") > 0.18).cast("int"))
      .orderBy("doc_id")
  }

  private def qRepetitionSql: String =
    s"""WITH $TokensCte,
       |t3 AS (
       |  SELECT doc_id, list_transform(generate_series(1, len(ts)-2),
       |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) AS tri
       |  FROM toks WHERE len(ts) >= 3),
       |tri_stats AS (
       |  SELECT doc_id,
       |    floor(((len(tri) - len(list_distinct(tri))) / len(tri)::DOUBLE) * 1e5 + 0.5) / 1e5
       |      AS dup_tri_frac
       |  FROM t3),
       |bi AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ts)-1),
       |    i -> ts[i] || ' ' || ts[i+1])) AS tok
       |  FROM toks WHERE len(ts) >= 3),
       |bc AS (SELECT doc_id, tok, count(*) AS c FROM bi GROUP BY 1, 2),
       |bi_stats AS (
       |  SELECT doc_id, floor((max(c) / sum(c)::DOUBLE) * 1e5 + 0.5) / 1e5 AS top_bigram_ratio
       |  FROM bc GROUP BY 1)
       |SELECT t.doc_id, t.dup_tri_frac, b.top_bigram_ratio,
       |  CASE WHEN t.dup_tri_frac > 0.30 OR b.top_bigram_ratio > 0.18
       |    THEN 1 ELSE 0 END AS flagged
       |FROM tri_stats t JOIN bi_stats b ON t.doc_id = b.doc_id
       |ORDER BY t.doc_id""".stripMargin

  // --- cumulative char offsets per source (A2 analog) -----------------------

  private def qPageOffsets(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("end_off", sum("n_chars").over(w))
      .withColumn("start_off", col("end_off") - col("n_chars"))
      .select("doc_id", "source", "start_off", "end_off")
      .orderBy("doc_id")
  }

  private val qPageOffsetsSql =
    """SELECT doc_id, source,
      |  CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id) - n_chars AS BIGINT) AS start_off,
      |  CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS end_off
      |FROM documents ORDER BY doc_id""".stripMargin

  // --- context formatting (F14) ---------------------------------------------

  private def qContextFormat(s: SparkSession, dir: String): DataFrame = {
    val top = t(s, dir, "documents")
      .orderBy(desc("n_chars"), col("doc_id")).limit(5)
      .withColumn("rn", row_number().over(
        Window.orderBy(desc("n_chars"), col("doc_id"))))
      .withColumn("line", format_string("[Source %d] (Page %d, Relevance: %d)\n%s",
        col("rn"), pmod(col("doc_id"), lit(50)), pmod(col("n_chars"), lit(100)),
        substring(col("text"), 1, 80)))
    top.agg(expr(
      "array_join(transform(array_sort(collect_list(struct(rn, line))), x -> x.line), '\n\n')")
      .as("context"))
  }

  private val qContextFormatSql =
    """SELECT string_agg(line, e'\n\n' ORDER BY rn) AS context FROM (
      |  SELECT row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rn,
      |    printf('[Source %d] (Page %d, Relevance: %d)',
      |      row_number() OVER (ORDER BY n_chars DESC, doc_id),
      |      doc_id % 50, n_chars % 100) || e'\n' || substr(text, 1, 80) AS line
      |  FROM documents ORDER BY n_chars DESC, doc_id LIMIT 5)""".stripMargin

  // --- scalar hash/encode functions (F10-F12, F15) --------------------------

  private def qHashFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("doc_id") < 100)
      .select(col("doc_id"),
        md5(col("text")).as("md5_hex"),
        sha2(col("text"), 256).as("sha256_hex"),
        // Spark's base64 emits MIME 76-char line chunking; normalize to
        // the unchunked canonical form DuckDB produces
        regexp_replace(base64(encode(col("text"), "UTF-8")), "[\\r\\n]", "").as("b64"),
        Rounding.r(greatest(lit(0.0),
          least(lit(1.0), lit(1.0) - col("n_chars") / 1000.0)), 5).as("similarity"))
      .orderBy("doc_id")

  private val qHashFuncsSql =
    """SELECT doc_id, md5(text) AS md5_hex, sha256(text) AS sha256_hex,
      |  base64(encode(text)) AS b64,
      |  floor((greatest(0.0, least(1.0, 1.0 - n_chars / 1000.0))) * 1e5 + 0.5) / 1e5 AS similarity
      |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin

  // --- LLM-expansion output parser (F13, query_expansion.py:229-267) --------
  //
  // Parses "Alternative N: ..." / "N. ..." / bare lines out of a response
  // blob, entirely with Catalyst array/string built-ins. The responses are
  // synthesized deterministically from document text (the reference mocks
  // the LLM in its tests too).

  private def qExpandParse(s: SparkSession, dir: String): DataFrame = {
    val resp = concat(
      lit("Alternative 1: "), substring(col("text"), 1, 25), lit("\n"),
      lit("2. "), substring(col("text"), 26, 25), lit("\n"),
      lit("   \n"), // blank line → skipped
      substring(col("text"), 51, 25), lit("\n"),
      lit("9: "), substring(col("text"), 76, 25),
      lit("\nAlternative 2:"), lit("\nAlternative x: keep me"))
    val parsed = expr(
      """filter(transform(split(resp, '\n'), l ->
        |  CASE
        |    WHEN trim(l) = '' THEN NULL
        |    WHEN trim(l) LIKE 'Alternative%' THEN
        |      CASE WHEN instr(trim(l), ':') > 0
        |             AND trim(substring(trim(l), instr(trim(l), ':') + 1)) <> ''
        |        THEN trim(substring(trim(l), instr(trim(l), ':') + 1))
        |        ELSE NULL END
        |    WHEN substring(trim(l), 1, 1) RLIKE '^[0-9]$' AND length(trim(l)) > 2
        |         AND substring(trim(l), 2, 2) IN ('. ', ': ')
        |      THEN nullif(trim(substring(trim(l), 4)), '')
        |    ELSE trim(l)
        |  END), x -> x IS NOT NULL)""".stripMargin)
    t(s, dir, "documents").filter(col("doc_id") < 50)
      .withColumn("resp", resp)
      .withColumn("vars", parsed)
      .select(col("doc_id"), posexplode(col("vars")).as(Seq("vidx", "variation")))
      .orderBy("doc_id", "vidx")
  }

  private val qExpandParseSql =
    """WITH r AS (
      |  SELECT doc_id,
      |    'Alternative 1: ' || substr(text, 1, 25) || chr(10) ||
      |    '2. ' || substr(text, 26, 25) || chr(10) ||
      |    '   ' || chr(10) ||
      |    substr(text, 51, 25) || chr(10) ||
      |    '9: ' || substr(text, 76, 25) ||
      |    chr(10) || 'Alternative 2:' || chr(10) || 'Alternative x: keep me' AS resp
      |  FROM documents WHERE doc_id < 50),
      |parsed AS (
      |  SELECT doc_id, list_filter(list_transform(string_split(resp, chr(10)), l ->
      |    CASE
      |      WHEN trim(l) = '' THEN NULL
      |      WHEN trim(l) LIKE 'Alternative%' THEN
      |        CASE WHEN strpos(trim(l), ':') > 0
      |               AND trim(substr(trim(l), strpos(trim(l), ':') + 1)) <> ''
      |          THEN trim(substr(trim(l), strpos(trim(l), ':') + 1))
      |          ELSE NULL END
      |      WHEN regexp_matches(substr(trim(l), 1, 1), '^[0-9]$') AND len(trim(l)) > 2
      |           AND substr(trim(l), 2, 2) IN ('. ', ': ')
      |        THEN nullif(trim(substr(trim(l), 4)), '')
      |      ELSE trim(l)
      |    END), x -> x IS NOT NULL) AS vars
      |  FROM r)
      |SELECT doc_id, u.i - 1 AS vidx, u.v AS variation FROM (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(vars)),
      |    i -> {'i': i, 'v': vars[i]})) AS u
      |  FROM parsed)
      |ORDER BY doc_id, vidx""".stripMargin

  // --- PDF image XObjects (ImageBlock path, parsing.py:20-29) ---------------
  //
  // Builds a REAL (uncompressed) PDF file per document — one text content
  // stream + one `/Subtype /Image` XObject whose dict carries dimensions
  // derived from n_chars and whose payload is the md5 hex of the text —
  // then runs the actual PdfFile.images object scan on it. The DuckDB
  // oracle recomputes the constructed values analytically, so the gate
  // verifies the parser RECOVERS exactly what was embedded (dict parse,
  // stream payload slicing, page association after the content stream).

  private def qImageBlocks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.extract.PdfFile
    val rows = t(s, dir, "documents").filter(col("doc_id") < 200)
      .select(col("doc_id"), col("n_chars"), md5(col("text")).as("h"))
      .as[(Long, Long, String)]
      .map { case (id, nChars, h) =>
        val w = 1 + nChars % 640
        val ht = 1 + (nChars * 7) % 480
        val cs = "BT /F1 12 Tf 72 700 Td (body text) Tj ET"
        val pdf = new StringBuilder()
          .append("%PDF-1.4\n")
          .append(s"3 0 obj << /Length ${cs.length} >> stream\n")
          .append(cs)
          .append("\nendstream endobj\n")
          .append(s"5 0 obj << /Subtype /Image /Width $w /Height $ht /Length 32 >> stream\n")
          .append(h)
          .append("\nendstream endobj\ntrailer << /Root 1 0 R >>\n")
          .toString
        val imgs = PdfFile.images(pdf.getBytes("ISO-8859-1"))
        val first = imgs.headOption
        (id,
          first.map(_.page).getOrElse(-1),
          first.map(_.width).getOrElse(-1),
          first.map(_.height).getOrElse(-1),
          first.map(_.format).getOrElse(""),
          first.map(i => new String(i.data, "ISO-8859-1")).getOrElse(""),
          imgs.size)
      }
      .toDF("doc_id", "page", "width", "height", "fmt", "img_data", "n_images")
    rows.orderBy("doc_id")
  }

  private val qImageBlocksSql =
    """SELECT doc_id, 0 AS page,
      |  CAST(1 + n_chars % 640 AS INT) AS width,
      |  CAST(1 + (n_chars * 7) % 480 AS INT) AS height,
      |  'raw' AS fmt, md5(text) AS img_data, 1 AS n_images
      |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin

  // --- gap-based sessionization (batch twin of streaming/Sessionize) --------

  private def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t(s, dir, "events")
      .withColumn("prev", lag("ts", 1).over(w))
      // ts is TIMESTAMP_NTZ in the parquet; session TZ is UTC so the
      // NTZ→LTZ cast is identity, and LTZ→double gives epoch seconds
      .withColumn("brk",
        when(col("prev").isNull ||
          (col("ts").cast("timestamp_ltz").cast("double") -
            col("prev").cast("timestamp_ltz").cast("double")) > 1800.0, 1)
          .otherwise(0))
      .withColumn("sess", sum("brk").over(w))
      .groupBy("user_id", "sess")
      .agg(
        date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max("ts"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        count(lit(1)).as("n_events"),
        Rounding.r(Rounding.fpSum(col("value"), 1e4), 4).as("total_value"))
      .drop("sess")
      .orderBy("user_id", "session_start")
  }

  private val qSessionizeSql =
    s"""SELECT user_id,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
      |  count(*) AS n_events,
      |  floor((${Rounding.fpSumSql("value", "1e4")}) * 1e4 + 0.5) / 1e4 AS total_value
      |FROM (
      |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sess
      |  FROM (
      |    SELECT *, CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) > 1800.0
      |      THEN 1 ELSE 0 END AS brk
      |    FROM (
      |      SELECT event_id, ts, user_id, value,
      |        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |      FROM events)))
      |GROUP BY user_id, sess
      |ORDER BY user_id, session_start""".stripMargin

  // --- multimodal plumbing (binary payload + batched decode stub) -----------

  private def qMultimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.Multimodal
    val kinds = Seq("image", "audio", "video")
    val media = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        Multimodal.MediaRow(id, kinds((id % 3).toInt),
          text.getBytes("UTF-8"), Map("src" -> "documents"))
      }
    Multimodal.extractFeatures(media).toDF()
      .select("doc_id", "media_type", "n_bytes", "sig", "width", "height", "n_frames")
      .orderBy("doc_id")
  }

  private val qMultimodalFeaturesSql =
    """SELECT doc_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
      |  octet_length(encode(text)) AS n_bytes,
      |  lower(substr(hex(encode(text)), 1, 16)) AS sig,
      |  CAST(1 + octet_length(encode(text)) % 1024 AS INT) AS width,
      |  CAST(1 + (octet_length(encode(text)) * 31) % 768 AS INT) AS height,
      |  CAST(CASE WHEN doc_id % 3 = 2
      |    THEN octet_length(encode(text)) % 7 + 1 ELSE 1 END AS INT) AS n_frames
      |FROM documents ORDER BY doc_id""".stripMargin

  // --- KMV distinct-count sketch --------------------------------------------
  //
  // k-minimum-values sketch of the distinct-token count per document
  // source ("a novel sketch" from the brief's operator list). The k
  // smallest normalized hash values of a set determine the estimator
  // (k-1)/max_k; unlike HLL, KMV is EXACTLY reproducible across engines
  // given the shared md5-prefix hash, so the estimate itself is
  // oracle-checked next to the exact truth. The k-min selection runs in
  // two partitioned levels — rank within (source, h mod 256) shards,
  // then rank the surviving ≤256·k candidates per source — so no task
  // ever sorts a whole source's distinct set (the single-window form
  // funnels each source through one task; the sharded form's final
  // window touches 256·k rows max, constant in corpus size).

  private val KmvK = 64
  private val KmvHexLen = 12 // h < 2^48; denominator below matches

  private def qKmvSketch(s: SparkSession, dir: String): DataFrame = {
    val denom = math.pow(2.0, 4.0 * KmvHexLen)
    val hashes = t(s, dir, "documents")
      .select(col("source"), explode(simpleTokens(col("text"))).as("tok"))
      .select(col("source"), col("tok"), md5Sid(col("tok"), KmvHexLen).as("h"))
    val distinctH = hashes.select("source", "h").distinct()
    val shardW = Window.partitionBy(col("source"), pmod(col("h"), lit(256)))
      .orderBy("h")
    val sourceW = Window.partitionBy("source").orderBy("h")
    val kmin = distinctH
      .withColumn("srn", row_number().over(shardW)).filter(col("srn") <= KmvK)
      .withColumn("rn", row_number().over(sourceW)).filter(col("rn") <= KmvK)
      .groupBy("source")
      .agg(max("h").as("hk"), count(lit(1)).as("kk"))
    val exact = hashes.groupBy("source")
      .agg(countDistinct("tok").as("exact_distinct"))
    kmin.join(exact, "source")
      .select(col("source"), col("exact_distinct"),
        when(col("kk") < KmvK, col("kk").cast("double"))
          .otherwise(Rounding.r(lit(KmvK - 1) / (col("hk") / denom), 4))
          .as("est_distinct"))
      .orderBy("source")
  }

  private val qKmvSketchSql = {
    val denom = BigDecimal(math.pow(2.0, 4.0 * KmvHexLen)).toBigInt.toString
    s"""WITH toks AS (
       |  SELECT source,
       |    unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |      x -> x <> '')) AS tok
       |  FROM documents),
       |h AS (
       |  SELECT DISTINCT source, ${md5SidSql("tok", KmvHexLen)} AS h FROM toks),
       |kmin AS (
       |  SELECT source, max(h) AS hk, count(*) AS kk FROM (
       |    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |    FROM h) WHERE rn <= $KmvK GROUP BY 1),
       |exact AS (
       |  SELECT source, count(DISTINCT tok) AS exact_distinct FROM toks GROUP BY 1)
       |SELECT kmin.source, exact.exact_distinct,
       |  CASE WHEN kk < $KmvK THEN kk::DOUBLE
       |    ELSE floor(((${KmvK - 1}) / (hk / $denom.0)) * 1e4 + 0.5) / 1e4 END AS est_distinct
       |FROM kmin JOIN exact ON kmin.source = exact.source
       |ORDER BY 1""".stripMargin
  }

  // --- KMV sketch SET ALGEBRA (union / intersection estimates) --------------
  //
  // The property that makes sketches the 100 TB tool is MERGEABILITY:
  // two sources' k-min sketches combine into the union's sketch without
  // touching the raw data again (merge the two k-min lists, re-take the
  // k smallest), and inclusion–exclusion then prices the intersection
  // (est_inter = estA + estB − estU — the standard KMV set-algebra
  // recipe). Everything derives from the shared md5-prefix hash and
  // integer selection, so the ESTIMATES are oracle-checked exactly, next
  // to the exact truths. Pairs are confined to the 3 lexicographically
  // smallest sources (a deterministic, corpus-size-independent choice);
  // per-pair state is ≤ 2k sketch rows — merging costs O(k log k)
  // whatever the corpus size, which is the point.
  private def qKmvAlgebra(s: SparkSession, dir: String): DataFrame = {
    val denom = math.pow(2.0, 4.0 * KmvHexLen)
    def est(hk: Column, kk: Column): Column =
      when(kk < KmvK, kk.cast("double"))
        .otherwise(lit(KmvK - 1) / (hk / denom))
    // item domain = bigram shingles (the unigram vocab of the synthetic
    // corpus is a few dozen tokens — below k, where the sketch would
    // degenerate to exact counting; bigrams give ~10k-scale sets so the
    // (k-1)/max_k estimator branch is genuinely exercised)
    val toks = t(s, dir, "documents")
      .select(col("source"), simpleTokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("source"), explode(expr(
        "transform(sequence(0, size(ts)-2), i -> concat_ws(' ', element_at(ts, i+1), element_at(ts, i+2)))"))
        .as("tok"))
    val srcs = toks.select("source").distinct()
      .orderBy("source").limit(3).persist()
    val st = toks.join(broadcast(srcs), "source")
      .select("source", "tok").distinct().persist()
    val mins = st
      .select(col("source"), md5Sid(col("tok"), KmvHexLen).as("h")).distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy("h")))
      .filter(col("rn") <= KmvK)
      .select("source", "h").persist()
    val perSrc = mins.groupBy("source")
      .agg(max("h").as("hk"), count(lit(1)).as("kk"))
    val pairs = srcs.toDF("sa")
      .join(srcs.toDF("sb"), col("sa") < col("sb")).persist()
    // merged union sketch: k smallest of the two k-min lists
    val uRows = pairs.join(mins.toDF("sa", "h"), "sa")
      .unionByName(pairs.join(mins.toDF("sb", "h"), "sb").select("sa", "sb", "h"))
      .select("sa", "sb", "h").distinct()
    val uk = uRows
      .withColumn("rn", row_number().over(
        Window.partitionBy("sa", "sb").orderBy("h")))
      .filter(col("rn") <= KmvK)
      .groupBy("sa", "sb").agg(max("h").as("hku"), count(lit(1)).as("kku"))
    // exact truths per pair
    val exactU = pairs.join(st.toDF("sa", "tok"), "sa")
      .unionByName(pairs.join(st.toDF("sb", "tok"), "sb").select("sa", "sb", "tok"))
      .groupBy("sa", "sb").agg(countDistinct("tok").as("exact_union"))
    val exactI = st.toDF("sa", "tok")
      .join(st.toDF("sb", "tok"), Seq("tok"))
      .filter(col("sa") < col("sb"))
      .groupBy("sa", "sb").agg(count(lit(1)).as("exact_inter"))
    uk.join(perSrc.toDF("sa", "hka", "kka"), "sa")
      .join(perSrc.toDF("sb", "hkb", "kkb"), "sb")
      .join(exactU, Seq("sa", "sb"))
      .join(exactI, Seq("sa", "sb"), "left").na.fill(0, Seq("exact_inter"))
      .select(col("sa").as("src_a"), col("sb").as("src_b"),
        col("exact_union"), col("exact_inter"),
        Rounding.r(est(col("hku"), col("kku")), 4).as("est_union"),
        Rounding.r(est(col("hka"), col("kka")) + est(col("hkb"), col("kkb"))
          - est(col("hku"), col("kku")), 4).as("est_inter"))
      .orderBy("src_a", "src_b")
  }

  private val qKmvAlgebraSql = {
    val denom = BigDecimal(math.pow(2.0, 4.0 * KmvHexLen)).toBigInt.toString
    def est(hk: String, kk: String): String =
      s"CASE WHEN $kk < $KmvK THEN $kk::DOUBLE ELSE (${KmvK - 1}) / ($hk / $denom.0) END"
    s"""WITH toks AS (
       |  SELECT source, unnest(list_transform(generate_series(1, len(ts)-1),
       |    i -> ts[i] || ' ' || ts[i+1])) AS tok
       |  FROM (SELECT source,
       |          list_filter(string_split_regex(lower(text), '\\s+'),
       |            x -> x <> '') AS ts
       |        FROM documents)
       |  WHERE len(ts) >= 2),
       |srcs AS (
       |  SELECT source FROM (SELECT DISTINCT source FROM toks)
       |  ORDER BY source LIMIT 3),
       |st AS (
       |  SELECT DISTINCT source, tok FROM toks JOIN srcs USING (source)),
       |mins AS (
       |  SELECT source, h FROM (
       |    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |    FROM (SELECT DISTINCT source, ${md5SidSql("tok", KmvHexLen)} AS h FROM st))
       |  WHERE rn <= $KmvK),
       |persrc AS (SELECT source, max(h) AS hk, count(*) AS kk FROM mins GROUP BY 1),
       |pairs AS (
       |  SELECT a.source AS sa, b.source AS sb
       |  FROM srcs a JOIN srcs b ON a.source < b.source),
       |u AS (
       |  SELECT DISTINCT sa, sb, h FROM (
       |    SELECT pairs.sa, pairs.sb, mins.h FROM pairs
       |      JOIN mins ON mins.source = pairs.sa
       |    UNION ALL
       |    SELECT pairs.sa, pairs.sb, mins.h FROM pairs
       |      JOIN mins ON mins.source = pairs.sb)),
       |uk AS (
       |  SELECT sa, sb, max(h) AS hku, count(*) AS kku FROM (
       |    SELECT sa, sb, h, row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
       |    FROM u) WHERE rn <= $KmvK GROUP BY 1, 2),
       |eu AS (
       |  SELECT sa, sb, CAST(count(DISTINCT tok) AS BIGINT) AS exact_union FROM (
       |    SELECT pairs.sa, pairs.sb, st.tok FROM pairs
       |      JOIN st ON st.source = pairs.sa
       |    UNION ALL
       |    SELECT pairs.sa, pairs.sb, st.tok FROM pairs
       |      JOIN st ON st.source = pairs.sb)
       |  GROUP BY 1, 2),
       |ei AS (
       |  SELECT a.source AS sa, b.source AS sb,
       |    CAST(count(*) AS BIGINT) AS exact_inter
       |  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT uk.sa AS src_a, uk.sb AS src_b, eu.exact_union,
       |  COALESCE(ei.exact_inter, 0) AS exact_inter,
       |  floor((${est("uk.hku", "uk.kku")}) * 1e4 + 0.5) / 1e4 AS est_union,
       |  floor((${est("pa.hk", "pa.kk")} + ${est("pb.hk", "pb.kk")}
       |    - ${est("uk.hku", "uk.kku")}) * 1e4 + 0.5) / 1e4 AS est_inter
       |FROM uk
       |JOIN persrc pa ON pa.source = uk.sa
       |JOIN persrc pb ON pb.source = uk.sb
       |JOIN eu ON eu.sa = uk.sa AND eu.sb = uk.sb
       |LEFT JOIN ei ON ei.sa = uk.sa AND ei.sb = uk.sb
       |ORDER BY 1, 2""".stripMargin
  }

  // --- HLL distinct-count sketch --------------------------------------------
  //
  // HyperLogLog register sketch of the distinct-token count per source —
  // the industry-standard sketch next to KMV above, made EXACTLY
  // reproducible cross-engine: registers are max-leading-zero ranks of
  // the shared md5-prefix hash (rank via `bin()` string length, identical
  // in Spark and DuckDB — no log2/clz), and the harmonic-mean denominator
  // is accumulated as an INTEGER sum of 2^(maxRho - rho) register weights
  // (max 2^49, inside int64) so summation order cannot perturb a float.
  // The raw estimate alpha·m²/Σ2^-M_j is one exact division at the end.
  // Scale shape: hash → narrow projection; registers → (source, bucket)
  // partial-agg groupBy bounded at m=256 rows per source; NO distinct
  // pass is needed at all (duplicate tokens collapse in the register max
  // — the property that makes HLL THE 100 TB distinct counter, vs KMV's
  // distinct-then-rank). Small-range linear counting (m·ln(m/V)) is
  // deliberately omitted — ln is not cross-engine exact; the raw-regime
  // estimate plus the V=zero_registers column is reported instead.
  // Exact truth rides alongside for the oracle to certify the error.

  private val HllM = 256 // registers (p = 8 bucket bits)
  private val HllHexLen = 12 // h < 2^48; 40 payload bits after bucketing
  private val HllMaxRho = 41 // rank when all 40 payload bits are zero

  private def qHllSketch(s: SparkSession, dir: String): DataFrame = {
    val alpha = 0.7213 / (1 + 1.079 / HllM)
    // estimate = alpha·m² / (S / 2^maxRho) with S the integer register sum
    val num = alpha * HllM * HllM * (1L << HllMaxRho).toDouble
    val hashed = t(s, dir, "documents")
      .select(col("source"), explode(simpleTokens(col("text"))).as("tok"))
      .select(col("source"), col("tok"), md5Sid(col("tok"), HllHexLen).as("h"))
    val regs = hashed
      .select(col("source"), pmod(col("h"), lit(HllM)).as("bucket"),
        expr(s"h div $HllM").as("w"))
      .withColumn("rho",
        when(col("w") === 0, lit(HllMaxRho))
          .otherwise(lit(HllMaxRho) - length(bin(col("w")))))
      .groupBy("source", "bucket").agg(max("rho").as("mj"))
    val sums = regs.groupBy("source")
      .agg(sum(expr(s"shiftleft(1L, cast($HllMaxRho - mj AS int))")).as("occ"),
        count(lit(1)).as("nocc"))
      .select(col("source"),
        (col("occ") + (lit(HllM.toLong) - col("nocc")) * lit(1L << HllMaxRho))
          .as("s_int"),
        (lit(HllM.toLong) - col("nocc")).as("zero_registers"))
    val exact = hashed.groupBy("source")
      .agg(countDistinct("tok").as("exact_distinct"))
    sums.join(exact, "source")
      .select(col("source"), col("exact_distinct"),
        Rounding.r(lit(num) / col("s_int").cast("double"), 4).as("est_distinct"),
        col("zero_registers"))
      .orderBy("source")
  }

  private val qHllSketchSql = {
    val alpha = 0.7213 / (1 + 1.079 / HllM)
    val num = alpha * HllM * HllM * (1L << HllMaxRho).toDouble
    s"""WITH toks AS (
       |  SELECT source,
       |    unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |      x -> x <> '')) AS tok
       |  FROM documents),
       |h AS (
       |  SELECT source, tok, ${md5SidSql("tok", HllHexLen)} AS h FROM toks),
       |regs AS (
       |  SELECT source, h % $HllM AS bucket,
       |    max(CASE WHEN h // $HllM = 0 THEN $HllMaxRho
       |      ELSE $HllMaxRho - length(bin(h // $HllM)) END) AS mj
       |  FROM h GROUP BY 1, 2),
       |sums AS (
       |  SELECT source,
       |    CAST(sum(1::BIGINT << CAST($HllMaxRho - mj AS INT)) AS BIGINT) AS occ,
       |    count(*) AS nocc
       |  FROM regs GROUP BY 1),
       |exact AS (
       |  SELECT source, count(DISTINCT tok) AS exact_distinct FROM toks GROUP BY 1)
       |SELECT sums.source, exact.exact_distinct,
       |  ${Rounding.rSql(
             s"$num / CAST(occ + ($HllM - nocc) * (1::BIGINT << $HllMaxRho) AS DOUBLE)", 4)}
       |    AS est_distinct,
       |  CAST($HllM - nocc AS BIGINT) AS zero_registers
       |FROM sums JOIN exact ON sums.source = exact.source
       |ORDER BY 1""".stripMargin
  }

  // --- HLL SET ALGEBRA: union via elementwise register max ------------------
  //
  // The HLL half of the sketch-algebra pair (q_kmv_algebra covers KMV):
  // the union of two sets' HLL sketches is EXACTLY the elementwise max of
  // their registers — the same merge the native `graft_hll` aggregate
  // executes in its merge() — so |A ∪ B| estimates from per-source
  // sketches with no second pass over raw data. Same bigram item domain
  // and 3-source restriction as q_kmv_algebra (cardinalities well above
  // the register count's degenerate zone), exact truths certified
  // alongside. Per-pair state is m=256 register rows; the union costs a
  // (pair, bucket)-keyed max — O(m) per pair at any corpus size.
  private def qHllUnion(s: SparkSession, dir: String): DataFrame = {
    val alpha = 0.7213 / (1 + 1.079 / HllM)
    val num = alpha * HllM * HllM * (1L << HllMaxRho).toDouble
    val toks = t(s, dir, "documents")
      .select(col("source"), simpleTokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("source"), explode(expr(
        "transform(sequence(0, size(ts)-2), i -> concat_ws(' ', element_at(ts, i+1), element_at(ts, i+2)))"))
        .as("tok"))
    val srcs = toks.select("source").distinct()
      .orderBy("source").limit(3).persist()
    val st = toks.join(broadcast(srcs), "source").persist()
    val regs = st
      .select(col("source"), md5Sid(col("tok"), HllHexLen).as("h"))
      .select(col("source"), pmod(col("h"), lit(HllM)).as("bucket"),
        expr(s"h div $HllM").as("w"))
      .withColumn("rho",
        when(col("w") === 0, lit(HllMaxRho))
          .otherwise(lit(HllMaxRho) - length(bin(col("w")))))
      .groupBy("source", "bucket").agg(max("rho").as("mj"))
      .persist()
    val pairs = srcs.toDF("sa")
      .join(srcs.toDF("sb"), col("sa") < col("sb")).persist()
    val uregs = pairs.join(regs.toDF("sa", "bucket", "mj"), "sa")
      .unionByName(pairs.join(regs.toDF("sb", "bucket", "mj"), "sb")
        .select("sa", "sb", "bucket", "mj"))
      .groupBy("sa", "sb", "bucket").agg(max("mj").as("mj"))
    val usums = uregs.groupBy("sa", "sb")
      .agg(sum(expr(s"shiftleft(1L, cast($HllMaxRho - mj AS int))")).as("occ"),
        count(lit(1)).as("nocc"))
    val exactU = pairs.join(st.toDF("sa", "tok"), "sa")
      .unionByName(pairs.join(st.toDF("sb", "tok"), "sb").select("sa", "sb", "tok"))
      .groupBy("sa", "sb").agg(countDistinct("tok").as("exact_union"))
    usums.join(exactU, Seq("sa", "sb"))
      .select(col("sa").as("src_a"), col("sb").as("src_b"), col("exact_union"),
        Rounding.r(lit(num) /
          (col("occ") + (lit(HllM.toLong) - col("nocc")) * lit(1L << HllMaxRho))
            .cast("double"), 4).as("est_union"),
        (lit(HllM.toLong) - col("nocc")).as("zero_registers"))
      .orderBy("src_a", "src_b")
  }

  private val qHllUnionSql = {
    val alpha = 0.7213 / (1 + 1.079 / HllM)
    val num = alpha * HllM * HllM * (1L << HllMaxRho).toDouble
    s"""WITH toks AS (
       |  SELECT source, unnest(list_transform(generate_series(1, len(ts)-1),
       |    i -> ts[i] || ' ' || ts[i+1])) AS tok
       |  FROM (SELECT source,
       |          list_filter(string_split_regex(lower(text), '\\s+'),
       |            x -> x <> '') AS ts
       |        FROM documents)
       |  WHERE len(ts) >= 2),
       |srcs AS (
       |  SELECT source FROM (SELECT DISTINCT source FROM toks)
       |  ORDER BY source LIMIT 3),
       |st AS (SELECT source, tok FROM toks JOIN srcs USING (source)),
       |regs AS (
       |  SELECT source, h % $HllM AS bucket,
       |    max(CASE WHEN h // $HllM = 0 THEN $HllMaxRho
       |      ELSE $HllMaxRho - length(bin(h // $HllM)) END) AS mj
       |  FROM (SELECT source, ${md5SidSql("tok", HllHexLen)} AS h FROM st)
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT a.source AS sa, b.source AS sb
       |  FROM srcs a JOIN srcs b ON a.source < b.source),
       |uregs AS (
       |  SELECT sa, sb, bucket, max(mj) AS mj FROM (
       |    SELECT pairs.sa, pairs.sb, regs.bucket, regs.mj FROM pairs
       |      JOIN regs ON regs.source = pairs.sa
       |    UNION ALL
       |    SELECT pairs.sa, pairs.sb, regs.bucket, regs.mj FROM pairs
       |      JOIN regs ON regs.source = pairs.sb)
       |  GROUP BY 1, 2, 3),
       |usums AS (
       |  SELECT sa, sb,
       |    CAST(sum(1::BIGINT << CAST($HllMaxRho - mj AS INT)) AS BIGINT) AS occ,
       |    count(*) AS nocc
       |  FROM uregs GROUP BY 1, 2),
       |eu AS (
       |  SELECT sa, sb, CAST(count(DISTINCT tok) AS BIGINT) AS exact_union FROM (
       |    SELECT pairs.sa, pairs.sb, st.tok FROM pairs
       |      JOIN st ON st.source = pairs.sa
       |    UNION ALL
       |    SELECT pairs.sa, pairs.sb, st.tok FROM pairs
       |      JOIN st ON st.source = pairs.sb)
       |  GROUP BY 1, 2)
       |SELECT usums.sa AS src_a, usums.sb AS src_b, eu.exact_union,
       |  ${Rounding.rSql(
             s"$num / CAST(occ + ($HllM - nocc) * (1::BIGINT << $HllMaxRho) AS DOUBLE)", 4)}
       |    AS est_union,
       |  CAST($HllM - nocc AS BIGINT) AS zero_registers
       |FROM usums JOIN eu ON eu.sa = usums.sa AND eu.sb = usums.sb
       |ORDER BY 1, 2""".stripMargin
  }

  // --- HLL over TIME: rolling 7-day distinct via register-max merge ---------
  //
  // The sketch-algebra-over-time composition: daily HLL register rows
  // (30×m state for a month, at ANY event volume) merge into each day's
  // TRAILING 7-DAY distinct-user count by an elementwise register max
  // over a RANGE window — the raw events are scanned once; the rolling
  // distinct never re-touches them. This is how dashboards price
  // "7-day actives" at 100 TB: count(DISTINCT) over a sliding window
  // re-scans the window's raw rows every day, while sketch rows make the
  // roll-up O(days × m). The window maxes over a DENSE (day × bucket)
  // grid (days is a tiny dimension; missing registers stay NULL and
  // count as zero registers), RANGE-framed on an integer day key so gap
  // days can't widen the frame. Exact daily/7-day truths ride alongside
  // (the 7-day exact via a 0..6-offset expansion — linear ×7, no range
  // join) so the oracle certifies the estimates' error.
  //
  // Registers are sized to the POPULATION regime (m = 32 ≪ n ≈ 150
  // daily users, n > 2.5m, α₃₂ = 0.697): the docs-family sketches count
  // thousands of bigrams and can afford m = 256, but raw HLL with m ≳ n
  // lands in the small-range zone where the standard correction is
  // linear counting — whose ln() is not cross-engine bit-exact, so the
  // repo's sketch discipline is "size m to the population" instead.

  private val HllDailyM = 32
  private val HllDailyMaxRho = 44 // 43 payload bits after 5 bucket bits

  private def qHllDaily(s: SparkSession, dir: String): DataFrame = {
    val alpha = 0.697 // standard HLL alpha for m = 32
    val num = alpha * HllDailyM * HllDailyM * (1L << HllDailyMaxRho).toDouble
    val ev = t(s, dir, "events")
      .select(to_date(col("ts")).as("d"), col("user_id"))
      .withColumn("dk", datediff(col("d"), lit("2020-01-01").cast("date")))
      .persist() // feeds registers, the day grid, and both exact truths
    val regs = ev
      .select(col("d"), col("dk"),
        md5Sid(col("user_id").cast("string"), HllHexLen).as("h"))
      .select(col("d"), col("dk"), pmod(col("h"), lit(HllDailyM)).as("bucket"),
        expr(s"h div $HllDailyM").as("w"))
      .withColumn("rho", when(col("w") === 0, lit(HllDailyMaxRho))
        .otherwise(lit(HllDailyMaxRho) - length(bin(col("w")))))
      .groupBy("d", "dk", "bucket").agg(max("rho").as("mj"))
    val days = ev.select("d", "dk").distinct()
    val grid = days.select(col("d"), col("dk"),
      explode(sequence(lit(0), lit(HllDailyM - 1))).as("bucket"))
    val win = Window.partitionBy("bucket").orderBy("dk").rangeBetween(-6, 0)
    val dense = grid
      .join(regs.select("dk", "bucket", "mj"), Seq("dk", "bucket"), "left")
      .withColumn("mj7", max("mj").over(win))
    def est(sInt: Column): Column = Rounding.r(lit(num) / sInt.cast("double"), 4)
    val daily = regs.groupBy("d").agg(
      sum(expr(s"shiftleft(1L, cast($HllDailyMaxRho - mj AS int))")).as("occ"),
      count(lit(1)).as("nocc"))
      .select(col("d"), est(col("occ") +
        (lit(HllDailyM.toLong) - col("nocc")) * lit(1L << HllDailyMaxRho)).as("est_daily"))
    val roll = dense.groupBy("d").agg(
      sum(when(col("mj7").isNotNull,
        expr(s"shiftleft(1L, cast($HllDailyMaxRho - mj7 AS int))"))
        .otherwise(lit(0L))).as("occ7"),
      count(col("mj7")).as("nocc7"))
      .select(col("d"), est(col("occ7") +
        (lit(HllDailyM.toLong) - col("nocc7")) * lit(1L << HllDailyMaxRho)).as("est_7d"))
    val exactDaily = ev.groupBy("d")
      .agg(countDistinct("user_id").as("exact_daily"))
    val exact7 = ev
      .select(explode(sequence(lit(0), lit(6))).as("o"), col("dk"), col("user_id"))
      .select((col("dk") + col("o")).as("dk"), col("user_id"))
      .join(days, "dk")
      .groupBy("d").agg(countDistinct("user_id").as("exact_7d"))
    exactDaily.join(daily, "d").join(exact7, "d").join(roll, "d")
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("exact_daily"), col("est_daily"), col("exact_7d"), col("est_7d"))
      .orderBy("day")
  }

  private val qHllDailySql = {
    val alpha = 0.697 // standard HLL alpha for m = 32
    val num = alpha * HllDailyM * HllDailyM * (1L << HllDailyMaxRho).toDouble
    def estSql(sInt: String): String =
      Rounding.rSql(s"$num / CAST($sInt AS DOUBLE)", 4)
    s"""WITH ev AS (
       |  SELECT CAST(ts AS DATE) AS d,
       |    date_diff('day', DATE '2020-01-01', CAST(ts AS DATE)) AS dk, user_id
       |  FROM events),
       |h AS (
       |  SELECT d, dk,
       |    ${md5SidSql("CAST(user_id AS VARCHAR)", HllHexLen)} AS h
       |  FROM ev),
       |regs AS (
       |  SELECT d, dk, h % $HllDailyM AS bucket,
       |    max(CASE WHEN h // $HllDailyM = 0 THEN $HllDailyMaxRho
       |      ELSE $HllDailyMaxRho - length(bin(h // $HllDailyM)) END) AS mj
       |  FROM h GROUP BY 1, 2, 3),
       |days AS (SELECT DISTINCT d, dk FROM ev),
       |grid AS (
       |  SELECT d, dk, unnest(generate_series(0, ${HllDailyM - 1})) AS bucket
       |  FROM days),
       |dense AS (
       |  SELECT g.d, g.dk, g.bucket,
       |    max(r.mj) OVER (PARTITION BY g.bucket ORDER BY g.dk
       |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS mj7
       |  FROM grid g LEFT JOIN regs r ON r.dk = g.dk AND r.bucket = g.bucket),
       |daily AS (
       |  SELECT d, ${estSql(
             s"sum(1::BIGINT << CAST($HllDailyMaxRho - mj AS INT)) + ($HllDailyM - count(*)) * (1::BIGINT << $HllDailyMaxRho)")}
       |    AS est_daily
       |  FROM regs GROUP BY 1),
       |roll AS (
       |  SELECT d, ${estSql(
             s"sum(CASE WHEN mj7 IS NOT NULL THEN 1::BIGINT << CAST($HllDailyMaxRho - mj7 AS INT) ELSE 0 END) + ($HllDailyM - count(mj7)) * (1::BIGINT << $HllDailyMaxRho)")}
       |    AS est_7d
       |  FROM dense GROUP BY 1),
       |ed AS (
       |  SELECT d, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_daily
       |  FROM ev GROUP BY 1),
       |e7 AS (
       |  SELECT days.d, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_7d
       |  FROM (SELECT dk + unnest(generate_series(0, 6)) AS dk, user_id FROM ev) x
       |  JOIN days ON days.dk = x.dk
       |  GROUP BY 1)
       |SELECT strftime(ed.d, '%Y-%m-%d') AS day, ed.exact_daily, daily.est_daily,
       |  e7.exact_7d, roll.est_7d
       |FROM ed JOIN daily ON daily.d = ed.d
       |JOIN e7 ON e7.d = ed.d JOIN roll ON roll.d = ed.d
       |ORDER BY day""".stripMargin
  }

  // --- embedding-spectrum audit (integer power iteration on the Gram) -------
  //
  // The embedding-collapse / anisotropy audit a curation pipeline runs
  // before trusting cosine geometry (Ethayarajh 2019; Mu & Viswanath
  // 2018 "all-but-the-top"): the share of total variance captured by the
  // top principal direction. Both the statistic and the direction come
  // from a THREE-STEP POWER ITERATION on the centered Gram matrix — run
  // entirely in int64 so it is bit-identical across engines where float
  // linear algebra would differ by accumulation order:
  //   q_ij = ⌊1000·e_ij + ½⌋   (fixed-point embeddings)
  //   c_ij = q_ij − (Σ_i q_ij div N)   (truncated-mean centering)
  //   G    = CᵀC   (one D²-bounded partial agg, the linear-probe shape)
  //   w ← G·w, rescaled to |w|∞ ≤ 2²⁰ by a truncating division each step
  // λ is the Rayleigh-free |G·w|∞/|w|∞ ratio and top_share = λ/tr(G) —
  // each ONE double division at the very end (IEEE-exact both engines).
  //
  // Scale shape (r5): ONE narrow N×D corpus pass. The centered Gram is
  // integer-EXACTLY derivable from the raw-moment pass —
  //   G = QᵀQ − μ·sᵀ − s·μᵀ + n·μ·μᵀ,  s_j = Σ q_ij,  μ_j = s_j div n
  // (exact because the truncated means are integers) — so the r4 plan's
  // separate means pass + broadcast-recenter scan collapses into a
  // single agg producing QᵀQ (graft_gram) and s (graft_vec_sum: |Σq| ≤
  // N·10³ is double-exact to N ≈ 9·10¹²) together. The D² = 4096-long
  // Gram is then a DRIVER value (bounded by construction — the
  // centroid-collect class, constant at any corpus size), and the
  // three power-iteration rounds run as driver integer loops with
  // Math.*Exact arithmetic — the same truncating `div`s, the same loud
  // overflow contract as the ANSI in-engine form they replace, and the
  // ~15 sub-second 64-row shuffle stages deleted (A/B: 2.72 → 0.49 s
  // min-over-3 at sf0.1; hashes unchanged vs the unchanged relational
  // DuckDB oracle). Int64 bound unchanged (g·w sums; N ≈ 10⁵ at
  // D = 64) — past that, train the Gram on a deterministic hash-sample
  // (the q_linear_probe remedy).

  private val SpecWScale = 1048576L // 2^20

  private def qEmbedSpectrum(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    import s.implicits._
    // fixed-point the vectors ROW-WISE (no explode): q_j = ⌊1000·e_j + ½⌋
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))")
        .as("qv"))
    // the one corpus pass: raw Gram QᵀQ + column sums + count, two
    // TypedImperativeAggregate buffers in the same partial agg
    val (qtq, sc) = emb.agg(
      call_function("graft_gram", col("qv")).as("qtq"),
      call_function("graft_vec_sum", col("qv").cast("array<double>")).as("sc"))
      .as[(Seq[Long], Seq[Double])].head()
    val n = if (sc.nonEmpty) sc.last.toLong else 0L
    require(n > 0, "q_embed_spectrum: empty embeddings table")
    val d = sc.length - 1
    val sums = Array.tabulate(d)(j => sc(j).toLong) // exact: |Σq| ≪ 2⁵³
    val mu = sums.map(_ / n) // Long / truncates toward zero, = Spark div
    import java.lang.Math.{addExact, multiplyExact, subtractExact}
    // centered Gram by the exact raw-moment identity
    val g = Array.ofDim[Long](d * d)
    var j = 0
    while (j < d) {
      var k = 0
      while (k < d) {
        g(j * d + k) = addExact(
          subtractExact(
            subtractExact(qtq(j * d + k), multiplyExact(mu(j), sums(k))),
            multiplyExact(mu(k), sums(j))),
          multiplyExact(n, multiplyExact(mu(j), mu(k))))
        k += 1
      }
      j += 1
    }
    var trace = 0L
    j = 0
    while (j < d) { trace = addExact(trace, g(j * d + j)); j += 1 }
    // three power-iteration rounds + the final multiply, driver integers
    def mul(w: Array[Long]): Array[Long] = Array.tabulate(d) { jj =>
      var acc = 0L
      var k = 0
      while (k < d) {
        acc = addExact(acc, multiplyExact(g(jj * d + k), w(k)))
        k += 1
      }
      acc
    }
    var w = Array.fill(d)(SpecWScale)
    for (_ <- 1 to 3) {
      val u = mul(w)
      val m = u.map(math.abs).max
      w = u.map(_ / (m / SpecWScale + 1L)) // same truncating div chain
    }
    val u4 = mul(w)
    val muv = u4.map(math.abs).max
    val mw = math.max(w.map(math.abs).max, 1L)
    // final λ / top_share as the SAME Spark double expressions as before
    // (IEEE-exact, oracle-paired); one 64-row local frame
    (0 until d).map(jj => (jj.toLong, g(jj * d + jj), w(jj)))
      .toDF("j", "var_dim", "w")
      .select(col("j"), col("var_dim"), col("w"),
        Rounding.r(lit(muv).cast("double") / lit(mw).cast("double"), 4)
          .as("lam"),
        Rounding.r((lit(muv).cast("double") / lit(mw).cast("double")) /
          lit(trace).cast("double"), 6).as("top_share"))
      .orderBy("j")
  }

  private val qEmbedSpectrumSql = {
    def iter(i: Int, prev: String): String =
      s"""u$i AS (
         |  SELECT g.j, CAST(sum(g.g * $prev.w) AS BIGINT) AS u
         |  FROM g JOIN $prev ON $prev.j = g.k GROUP BY 1),
         |w$i AS (
         |  SELECT j, u // ((SELECT max(abs(u)) FROM u$i) // $SpecWScale + 1) AS w
         |  FROM u$i)""".stripMargin
    s"""WITH q AS (
       |  SELECT vec_id, j - 1 AS j,
       |    -- CAST first: DuckDB keeps FLOAT * 1000.0 in FLOAT, whose
       |    -- rounding differs from Spark's FLOAT→DOUBLE promotion at ties
       |    CAST(floor(CAST(embedding[j] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS q
       |  FROM (SELECT vec_id, embedding,
       |          unnest(generate_series(1, len(embedding))) AS j
       |        FROM embeddings)),
       |mu AS (SELECT j, CAST(sum(q) AS BIGINT) // count(*) AS mu FROM q GROUP BY 1),
       |c AS (
       |  SELECT vec_id, q.j, q.q - mu.mu AS c FROM q JOIN mu USING (j)),
       |g AS (
       |  SELECT a.j AS j, b.j AS k, CAST(sum(a.c * b.c) AS BIGINT) AS g
       |  FROM c a JOIN c b USING (vec_id) GROUP BY 1, 2),
       |tr AS (SELECT CAST(sum(g) AS BIGINT) AS t FROM g WHERE j = k),
       |w0 AS (SELECT j, CAST($SpecWScale AS BIGINT) AS w FROM mu),
       |${iter(1, "w0")},
       |${iter(2, "w1")},
       |${iter(3, "w2")},
       |u4 AS (
       |  SELECT g.j, CAST(sum(g.g * w3.w) AS BIGINT) AS u
       |  FROM g JOIN w3 ON w3.j = g.k GROUP BY 1),
       |fin AS (
       |  SELECT (SELECT max(abs(u)) FROM u4) AS muv,
       |    greatest((SELECT max(abs(w)) FROM w3), 1) AS mw)
       |SELECT d.j, d.g AS var_dim, w3.w AS w,
       |  ${Rounding.rSql("muv / CAST(mw AS DOUBLE)", 4)} AS lam,
       |  ${Rounding.rSql("(muv / CAST(mw AS DOUBLE)) / CAST(t AS DOUBLE)", 6)}
       |    AS top_share
       |FROM (SELECT j, g FROM g WHERE j = k) d
       |JOIN w3 USING (j) CROSS JOIN fin CROSS JOIN tr
       |ORDER BY j""".stripMargin
  }

  // --- HLL as a NATIVE AGGREGATE (TypedImperativeAggregate) -----------------
  //
  // The same register math as `q_hll_sketch`, but computed by the custom
  // `graft_hll` Catalyst aggregate (functions/HllAgg.scala): per-group
  // state is a fixed 256-byte register array, duplicates collapse in the
  // map-side update, merge is an elementwise max — the shuffle carries
  // 256 bytes per (source × map partition) instead of q_hll_sketch's
  // (source, bucket) register rows, and a user gets the sketch in ANY
  // groupBy via one function call. The DuckDB oracle recomputes the
  // registers in pure SQL — certifying the aggregate's whole
  // update/merge/eval path, including that integer-sum determinism
  // survives Spark's partial-aggregation merge order.

  private def qHllAgg(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    t(s, dir, "documents")
      .select(col("source"), explode(simpleTokens(col("text"))).as("tok"))
      .select(col("source"), md5Sid(col("tok"), HllHexLen).as("h"))
      .groupBy("source")
      .agg(expr("graft_hll(h, 8)").as("sk"))
      .select(col("source"),
        Rounding.r(col("sk.est_distinct"), 4).as("est_distinct"),
        col("sk.zero_registers").as("zero_registers"))
      .orderBy("source")
  }

  private val qHllAggSql = {
    val alpha = 0.7213 / (1 + 1.079 / HllM)
    val num = alpha * HllM * HllM * (1L << HllMaxRho).toDouble
    s"""WITH toks AS (
       |  SELECT source,
       |    unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |      x -> x <> '')) AS tok
       |  FROM documents),
       |h AS (
       |  SELECT source, ${md5SidSql("tok", HllHexLen)} AS h FROM toks),
       |regs AS (
       |  SELECT source, h % $HllM AS bucket,
       |    max(CASE WHEN h // $HllM = 0 THEN $HllMaxRho
       |      ELSE $HllMaxRho - length(bin(h // $HllM)) END) AS mj
       |  FROM h GROUP BY 1, 2),
       |sums AS (
       |  SELECT source,
       |    CAST(sum(1::BIGINT << CAST($HllMaxRho - mj AS INT)) AS BIGINT) AS occ,
       |    count(*) AS nocc
       |  FROM regs GROUP BY 1)
       |SELECT source,
       |  ${Rounding.rSql(
             s"$num / CAST(occ + ($HllM - nocc) * (1::BIGINT << $HllMaxRho) AS DOUBLE)", 4)}
       |    AS est_distinct,
       |  CAST($HllM - nocc AS BIGINT) AS zero_registers
       |FROM sums
       |ORDER BY 1""".stripMargin
  }

  // --- sampled quantile estimation (deterministic bottom-k sample) ----------
  //
  // Approximate per-group quantiles from a BOUNDED deterministic sample:
  // the k docs with the smallest salted md5 hash form an exactly
  // reproducible uniform sample (the same order-independence trick as
  // KMV — GK/t-digest sketches are merge-order-dependent and can never be
  // hash-checked cross-engine), so the ESTIMATE itself is oracle-checked
  // next to the exact quantile. Bottom-k selection is two-level sharded
  // like KMV (no task ranks a whole source); the per-group state is ≤ k
  // rows, constant in corpus size — the 100 TB answer when the exact
  // percentile's value-histogram state (`q_length_quantiles`) is too wide.

  private val QSampK = 101

  private def qQuantileSample(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("source"), col("n_chars"), col("doc_id"),
        md5Sid(concat(lit("qsamp:"), col("doc_id")), 12).as("h"))
    val shardW = Window.partitionBy(col("source"), pmod(col("h"), lit(256)))
      .orderBy("h")
    val sourceW = Window.partitionBy("source").orderBy("h")
    val sample = docs
      .withColumn("srn", row_number().over(shardW)).filter(col("srn") <= QSampK)
      .withColumn("rn", row_number().over(sourceW)).filter(col("rn") <= QSampK)
    val est = sample.groupBy("source")
      .agg(sort_array(collect_list(struct(col("n_chars"), col("doc_id")))).as("sv"),
        count(lit(1)).as("m"))
      .select(col("source"), col("m"),
        expr("element_at(sv, CAST((m - 1) * 5 div 10 AS INT) + 1).n_chars").as("est_p50"),
        expr("element_at(sv, CAST((m - 1) * 9 div 10 AS INT) + 1).n_chars").as("est_p90"))
    val exact = t(s, dir, "documents").groupBy("source")
      .agg(expr("percentile(n_chars, array(0.5D, 0.9D))").as("qs"))
      .select(col("source"), element_at(col("qs"), 1).as("exact_p50"),
        element_at(col("qs"), 2).as("exact_p90"))
    est.join(exact, "source")
      .select(col("source"), col("m"), col("est_p50"), col("est_p90"),
        col("exact_p50"), col("exact_p90"))
      .orderBy("source")
  }

  private val qQuantileSampleSql = {
    val h = md5SidSql("'qsamp:' || CAST(doc_id AS VARCHAR)", 12)
    s"""WITH hashed AS (
       |  SELECT source, n_chars, doc_id, $h AS h FROM documents),
       |samp AS (
       |  SELECT source, n_chars, doc_id FROM (
       |    SELECT source, n_chars, doc_id,
       |      row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |    FROM hashed) WHERE rn <= $QSampK),
       |ranked AS (
       |  SELECT source, n_chars,
       |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS r,
       |    count(*) OVER (PARTITION BY source) AS m
       |  FROM samp),
       |est AS (
       |  SELECT source, CAST(max(m) AS BIGINT) AS m,
       |    CAST(max(CASE WHEN r = ((m - 1) * 5) // 10 + 1 THEN n_chars END) AS BIGINT) AS est_p50,
       |    CAST(max(CASE WHEN r = ((m - 1) * 9) // 10 + 1 THEN n_chars END) AS BIGINT) AS est_p90
       |  FROM ranked GROUP BY 1),
       |exact AS (
       |  SELECT source, quantile_cont(n_chars, 0.5) AS exact_p50,
       |    quantile_cont(n_chars, 0.9) AS exact_p90
       |  FROM documents GROUP BY 1)
       |SELECT est.source, m, est_p50, est_p90, exact_p50, exact_p90
       |FROM est JOIN exact ON est.source = exact.source
       |ORDER BY 1""".stripMargin
  }

  // --- training-set curation: split + mixing --------------------------------
  //
  // Hash-based assignment is the scale-correct way to split or sample a
  // corpus: no global shuffle, no random state, reproducible on any
  // engine — each row's fate is a pure function of its id. `frac(doc)`
  // is the md5-prefix hash normalized to [0,1).

  private def hashFrac(c: Column): Column =
    md5Sid(c.cast("string"), 12) / lit(math.pow(2.0, 48))

  private val hashFracSql =
    s"(${md5SidSql("doc_id::VARCHAR", 12)} / 281474976710656.0)"

  /** Deterministic stratified train/val/test split (90/5/5) with per-
    * (lang, split) counts and a mean-length balance check — the standard
    * "did the hash split bias anything" report.
    */
  private def qTrainSplit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("frac", hashFrac(col("doc_id")))
      .withColumn("split",
        when(col("frac") < 0.9, lit("train"))
          .when(col("frac") < 0.95, lit("val"))
          .otherwise(lit("test")))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), Rounding.r(avg("n_chars"), 2).as("avg_chars"))
      .orderBy("lang", "split")

  private val qTrainSplitSql =
    s"""WITH d AS (
       |  SELECT lang, n_chars, $hashFracSql AS frac FROM documents)
       |SELECT lang,
       |  CASE WHEN frac < 0.9 THEN 'train'
       |    WHEN frac < 0.95 THEN 'val' ELSE 'test' END AS split,
       |  count(*) AS n_docs, floor((avg(n_chars)) * 1e2 + 0.5) / 1e2 AS avg_chars
       |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Corpus mixing: per-source keep-rates (derived deterministically from
    * the source name here; weights from a mixing config in production)
    * applied as a hash-threshold downsample — reports target weight vs
    * achieved counts per source. Same narrow per-row shape at any scale.
    */
  private def qCorpusMix(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("w", Rounding.r(
        lit(0.2) + lit(0.6) * pmod(md5Sid(col("source"), 8), lit(100)) / 100.0, 4))
      .withColumn("keep", hashFrac(col("doc_id")) < col("w"))
      .groupBy("source")
      .agg(first("w").as("weight"), count(lit(1)).as("n_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy("source")

  private val qCorpusMixSql =
    s"""WITH d AS (
       |  SELECT source,
       |    floor((0.2 + 0.6 * ((${md5SidSql("source", 8)} % 100) / 100.0)) * 1e4 + 0.5) / 1e4 AS w,
       |    $hashFracSql AS frac
       |  FROM documents)
       |SELECT source, any_value(w) AS weight, count(*) AS n_total,
       |  CAST(sum(CASE WHEN frac < w THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  // --- α-temperature source mixing --------------------------------------------
  //
  // The multilingual sampling-temperature recipe (mBERT / XLM-R: sample
  // language ℓ ∝ n_ℓ^α, α = 0.5): raw per-language shares are flattened
  // by exponentiating counts with α, upweighting tail languages without
  // the uniform-mix extreme. α = 0.5 makes the weight an INTEGER —
  // isqrt(n), computed exactly as ⌊√n⌋ via a float sqrt plus a ±1
  // integer correction (both engines' floor(sqrt(n::DOUBLE)) can be off
  // by one at perfect-square boundaries; the correction makes the result
  // exact arithmetic, not float-trust). Shares are ppm via integer floor
  // division, so every reported number is BIGINT-exact. Plan: one
  // language-grain agg + a broadcast 1-row totals join — the document
  // table is touched once, narrow, at any scale.

  private def qAlphaMix(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "documents").groupBy("lang").agg(count(lit(1)).as("n"))
    val isq = floor(sqrt(col("n").cast("double"))).cast("long")
    val w = when((isq + lit(1L)) * (isq + lit(1L)) <= col("n"), isq + lit(1L))
      .when(isq * isq > col("n"), isq - lit(1L))
      .otherwise(isq)
    val withW = c.withColumn("w", w)
    val tot = withW.agg(sum("n").as("tn"), sum("w").as("tw"))
    withW.crossJoin(broadcast(tot))
      .select(col("lang"), col("n").as("n_docs"), col("w").as("w_sqrt"),
        expr("n * 1000000 div tn").as("share_raw_ppm"),
        expr("w * 1000000 div tw").as("share_temp_ppm"))
      .orderBy("lang")
  }

  private val qAlphaMixSql =
    s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
       |s AS (
       |  SELECT lang, n,
       |    CASE WHEN (CAST(floor(sqrt(n::DOUBLE)) AS BIGINT) + 1) * (CAST(floor(sqrt(n::DOUBLE)) AS BIGINT) + 1) <= n
       |      THEN CAST(floor(sqrt(n::DOUBLE)) AS BIGINT) + 1
       |      WHEN CAST(floor(sqrt(n::DOUBLE)) AS BIGINT) * CAST(floor(sqrt(n::DOUBLE)) AS BIGINT) > n
       |      THEN CAST(floor(sqrt(n::DOUBLE)) AS BIGINT) - 1
       |      ELSE CAST(floor(sqrt(n::DOUBLE)) AS BIGINT) END AS w
       |  FROM c),
       |tot AS (SELECT sum(n) AS tn, sum(w) AS tw FROM s)
       |SELECT lang, n AS n_docs, w AS w_sqrt,
       |  CAST(n * 1000000 // (SELECT tn FROM tot) AS BIGINT) AS share_raw_ppm,
       |  CAST(w * 1000000 // (SELECT tw FROM tot) AS BIGINT) AS share_temp_ppm
       |FROM s ORDER BY lang""".stripMargin

  /** The end-to-end curation funnel a training-data user actually runs,
    * as ONE declarative plan: exact dedup (first-wins per content hash) ∧
    * language gate (stopword ratio) ∧ quality gate (the q_quality_score
    * formula) ∧ length window ∧ train-split membership → per-source
    * selection report. Every stage is a narrow projection or one hash
    * shuffle (the dedup window partitions by md5(text)); composing them
    * in one plan lets Catalyst run all the per-row gates in a single
    * codegen'd pass over the scan.
    */
  private def qTrainingSelect(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(md5(col("text"))).orderBy("doc_id")
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"),
        simpleTokens(col("text")).as("ts"))
      .withColumn("first_of_dup", row_number().over(w) === 1)
      .withColumn("n_toks", size(col("ts")))
      .withColumn("stop_ratio",
        size(filter(col("ts"), x => array_contains(stopArray, x))) /
          greatest(col("n_toks"), lit(1)).cast("double"))
      .withColumn("quality", Rounding.r(
        size(array_distinct(col("ts"))) /
          greatest(col("n_toks"), lit(1)).cast("double") * 0.4 +
        col("stop_ratio") * 0.3 +
        least(expr("aggregate(ts, 0L, (acc, x) -> acc + length(x))") /
          greatest(col("n_toks"), lit(1)).cast("double") / 10.0, lit(1.0)) * 0.3, 4))
      .filter(col("first_of_dup") && col("stop_ratio") >= 0.06 &&
        col("quality") >= 0.40 && col("n_toks") >= 20 &&
        hashFrac(col("doc_id")) < 0.9)
      .groupBy("source")
      // avg over rounded DOUBLES is still an order-dependent float sum
      // (caught at sf0.1: a 1-ulp partial-agg difference landed on a
      // .5 rounding tie — 0.4366 vs 0.4365); quality is k/10⁴ by
      // construction, so recover the integer k per row, sum the longs
      // (order-immune), and divide once
      .agg(count(lit(1)).as("n_selected"), sum("n_toks").as("sum_tokens"),
        Rounding.r(
          sum(floor(col("quality") * lit(1e4) + lit(0.5)).cast("long")) /
            count(lit(1)) / lit(1e4), 4).as("avg_quality"))
      .orderBy("source")
  }

  private val qTrainingSelectSql =
    s"""WITH t0 AS (
       |  SELECT doc_id, source, text,
       |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ts,
       |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, source, rn, len(ts) AS n_toks,
       |    len(list_filter(ts, x -> list_contains($stopListSql, x))) /
       |      greatest(len(ts), 1)::DOUBLE AS stop_ratio,
       |    floor((
       |      len(list_distinct(ts)) / greatest(len(ts), 1)::DOUBLE * 0.4 +
       |      (len(list_filter(ts, x -> list_contains($stopListSql, x))) /
       |        greatest(len(ts), 1)::DOUBLE) * 0.3 +
       |      least(coalesce(list_sum(list_transform(ts, x -> len(x))), 0) /
       |        greatest(len(ts), 1)::DOUBLE / 10.0, 1.0) * 0.3) * 1e4 + 0.5) / 1e4 AS quality,
       |    $hashFracSql AS frac
       |  FROM t0)
       |SELECT source, count(*) AS n_selected,
       |  CAST(sum(n_toks) AS BIGINT) AS sum_tokens,
       |  floor(((CAST(sum(CAST(floor(quality * 1e4 + 0.5) AS BIGINT)) AS BIGINT)
       |    / count(*)) / 1e4) * 1e4 + 0.5) / 1e4 AS avg_quality
       |FROM m
       |WHERE rn = 1 AND stop_ratio >= 0.06 AND quality >= 0.40
       |  AND n_toks >= 20 AND frac < 0.9
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- corpus-frequency boilerplate scrub (CCNet-style) ---------------------

  /** Boilerplate / stopword scrub, the CCNet-style corpus-level rewrite:
    * rank tokens by document frequency, take the top-k as the boilerplate
    * set, and rewrite every document with those tokens removed.
    *
    * Scale shape (the reason this survives 100 TB): the df table is one
    * token-keyed hash aggregation (map-side partial agg — each task
    * pre-counts its shard's distinct (doc, token) pairs); the top-k cut
    * is a distributed TakeOrdered (k rows cross the wire per task, not
    * the vocabulary); the resulting stopword list is O(k) and rides a
    * 1-row broadcast; the rewrite itself is a narrow per-row projection
    * (`filter(ts, …)` against the broadcast array) — NO per-document
    * shuffle anywhere. A df-threshold variant is the same plan with the
    * limit replaced by `dfc > θ·N`; rank-based is used here because the
    * synthetic corpus vocabulary is uniformly frequent.
    */
  private def qBoilerplateScrub(s: SparkSession, dir: String): DataFrame = {
    val toks = sparkToks(s, dir)
    val top = toks
      .select(explode(array_distinct(col("ts"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("dfc"))
      .orderBy(col("dfc").desc, col("tok").asc)
      .limit(5)
      .agg(sort_array(collect_list("tok")).as("fl"))
    toks.crossJoin(broadcast(top))
      .select(col("doc_id"),
        size(filter(col("ts"), x => !array_contains(col("fl"), x)))
          .cast("long").as("n_kept"),
        size(filter(col("ts"), x => array_contains(col("fl"), x)))
          .cast("long").as("n_removed"),
        md5(concat_ws(" ",
          filter(col("ts"), x => !array_contains(col("fl"), x)))).as("scrub_md5"))
  }

  private val qBoilerplateScrubSql =
    s"""WITH $TokensCte,
       |df AS (
       |  SELECT tok, count(*) AS dfc
       |  FROM (SELECT doc_id, unnest(list_distinct(ts)) AS tok FROM toks)
       |  GROUP BY 1),
       |top5 AS (SELECT tok FROM df ORDER BY dfc DESC, tok LIMIT 5),
       |fl AS (SELECT coalesce(list(tok ORDER BY tok), []) AS fl FROM top5)
       |SELECT doc_id,
       |  CAST(len(list_filter(ts, x -> NOT list_contains(fl, x))) AS BIGINT) AS n_kept,
       |  CAST(len(list_filter(ts, x -> list_contains(fl, x))) AS BIGINT) AS n_removed,
       |  md5(array_to_string(list_filter(ts, x -> NOT list_contains(fl, x)), ' ')) AS scrub_md5
       |FROM toks, fl""".stripMargin

  // --- PII redaction --------------------------------------------------------

  /** Email / phone patterns kept inside the RE2-compatible subset (no
    * backreferences, no lookaround) so Spark's java.util.regex and the
    * DuckDB oracle's RE2 agree byte-for-byte.
    */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\+1-\\d{3}-\\d{4}"

  /** PII redaction over an enriched corpus: the synthetic documents carry
    * no PII, so the query first splices a deterministic email + E.164-ish
    * phone into each row (doc_id-derived — identical in both engines),
    * then counts and redacts them with `regexp_count`/`regexp_replace`.
    * Narrow per-row projection — codegen'd, no shuffle, any corpus size.
    * Output carries the match counts, a redacted prefix, and the md5 of
    * the full redacted text so the oracle checks the whole rewrite.
    */
  private def qPiiScrub(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("raw", concat(
        lit("contact user"), col("doc_id"), lit("@example.com or +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" "), col("text")))
      .withColumn("red",
        regexp_replace(regexp_replace(col("raw"), lit(EmailRe), lit("<EMAIL>")),
          lit(PhoneRe), lit("<PHONE>")))
      .select(col("doc_id"),
        regexp_count(col("raw"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("raw"), lit(PhoneRe)).cast("long").as("n_phones"),
        substring(col("red"), 1, 48).as("red_prefix"),
        md5(col("red")).as("red_md5"))

  private val qPiiScrubSql =
    s"""WITH r AS (
       |  SELECT doc_id,
       |    'contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-' ||
       |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ' || text AS raw
       |  FROM documents),
       |red AS (
       |  SELECT doc_id, raw,
       |    regexp_replace(regexp_replace(raw, '$EmailRe', '<EMAIL>', 'g'),
       |      '$PhoneRe', '<PHONE>', 'g') AS red
       |  FROM r)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(raw, '$EmailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(raw, '$PhoneRe')) AS BIGINT) AS n_phones,
       |  substr(red, 1, 48) AS red_prefix,
       |  md5(red) AS red_md5
       |FROM red""".stripMargin

  // --- exact per-group quantiles --------------------------------------------

  /** Per-source exact length quantiles (p25/p50/p75 + min/max/count) via
    * Spark's exact `percentile` aggregate. Scale note: exact percentile
    * keeps a value→count histogram per group with partial-aggregate
    * merging, so memory is O(distinct lengths per source) — bounded for
    * an integer length domain even at 100 TB. For continuous/unbounded
    * domains the same query swaps in `percentile_approx` (GK sketch).
    * Both engines interpolate at rank p·(n−1) with exact binary
    * fractions over integer inputs, so the doubles match bit-for-bit.
    */
  private def qLengthQuantiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy("source")
      .agg(expr("percentile(n_chars, array(0.25D, 0.5D, 0.75D))").as("qs"),
        min("n_chars").as("min_chars"), max("n_chars").as("max_chars"),
        count(lit(1)).as("n_docs"))
      .select(col("source"), element_at(col("qs"), 1).as("p25"),
        element_at(col("qs"), 2).as("p50"), element_at(col("qs"), 3).as("p75"),
        col("min_chars"), col("max_chars"), col("n_docs"))
      .orderBy("source")

  private val qLengthQuantilesSql =
    """SELECT source,
      |  quantile_cont(n_chars, 0.25) AS p25,
      |  quantile_cont(n_chars, 0.50) AS p50,
      |  quantile_cont(n_chars, 0.75) AS p75,
      |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
      |  count(*) AS n_docs
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // --- sequence packing (sample packing for pretraining) --------------------

  /** Sample packing: concatenate each source's documents in (doc_id)
    * order into fixed-capacity token windows (capacity 256 here) and
    * report, per source, the window count, how many documents straddle a
    * window boundary, and a checksum over every document's exact token
    * offset — the op that turns a curated corpus into fixed-length
    * training sequences.
    *
    * The token-offset prefix sum is computed in TWO sharded levels, the
    * same discipline as the KMV sketch: the wide running sum is windowed
    * per (source, shard) where shard = doc_id DIV 64 (floor is monotone
    * in doc_id, so shard ranges respect the pack order); shard totals —
    * one tiny row per shard — then get a per-source cumulative window and
    * broadcast-join back as base offsets. No task ever scans a whole
    * source's documents in one sorted partition, which is what the naive
    * `Window.partitionBy(source).orderBy(doc_id)` would do to a 100 TB
    * source. The DuckDB oracle computes the same offsets with the naive
    * single window — integer sums are associative, so the two agree
    * exactly, and `sum_off` checksums every per-document offset.
    */
  private def qSequencePack(s: SparkSession, dir: String): DataFrame = {
    val cap = 256L
    val docs = t(s, dir, "documents")
      .select(col("source"), col("doc_id"),
        size(simpleTokens(col("text"))).cast("long").as("n_toks"))
      .withColumn("shard", expr("doc_id DIV 64"))
    val wIn = Window.partitionBy("source", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inShard = docs.withColumn("cum", sum("n_toks").over(wIn))
    val wShard = Window.partitionBy("source").orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bases = docs.groupBy("source", "shard")
      .agg(sum("n_toks").as("shard_toks"))
      .withColumn("base", sum("shard_toks").over(wShard) - col("shard_toks"))
      .select("source", "shard", "base")
    inShard.join(broadcast(bases), Seq("source", "shard"))
      .withColumn("off", col("base") + col("cum") - col("n_toks"))
      .withColumn("spans",
        expr(s"(off + n_toks - 1) DIV $cap") - expr(s"off DIV $cap") + 1)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("sum_tokens"),
        sum(when(col("spans") > 1, 1L).otherwise(0L)).as("n_straddlers"),
        sum("off").as("sum_off"))
      .withColumn("n_windows", expr(s"(sum_tokens + ${cap - 1}) DIV $cap"))
      .select("source", "n_docs", "sum_tokens", "n_windows",
        "n_straddlers", "sum_off")
      .orderBy("source")
  }

  private val qSequencePackSql =
    s"""WITH d AS (
       |  SELECT source, doc_id,
       |    len(list_filter(string_split_regex(lower(text), '\\s+'),
       |      x -> x <> ''))::BIGINT AS n_toks
       |  FROM documents),
       |o AS (
       |  SELECT source, doc_id, n_toks,
       |    CAST(sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) - n_toks AS BIGINT) AS off
       |  FROM d)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(n_toks) AS BIGINT) AS sum_tokens,
       |  CAST((sum(n_toks) + 255) // 256 AS BIGINT) AS n_windows,
       |  CAST(sum(CASE WHEN (off + n_toks - 1) // 256 > off // 256
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers,
       |  CAST(sum(off) AS BIGINT) AS sum_off
       |FROM o GROUP BY 1 ORDER BY 1""".stripMargin

  // --- cross-document duplicated n-gram spans (exact substring dedup) -------
  //
  // The Lee et al. "Deduplicating Training Data Makes Language Models
  // Better" operator at token-n-gram granularity: find every maximal token
  // span that occurs more than once in the corpus and report, per
  // document, how much of it is duplicated text (the span-level complement
  // of the doc-level near-dup family above). Suffix arrays don't
  // distribute; the cluster-scale form is exactly this plan:
  //   (1) positional n-grams per document — a narrow array projection;
  //   (2) one hash aggregation counting occurrences per gram hash
  //       (partial-agg, linear in corpus tokens);
  //   (3) equi-join the df≥2 gram set back on the 48-bit gram hash —
  //       only duplicated grams survive downstream;
  //   (4) per-document interval merge of overlapping duplicated grams
  //       (gaps-and-islands over a doc-partitioned window, bounded by
  //       document length).
  // No stage is quadratic and no data reaches the driver. Gram identity
  // is the md5-prefix hash (`md5Sid`), so the shuffle carries 8-byte ids,
  // not n-token strings — identical in DuckDB, so a 48-bit collision
  // (negligible anyway) would still compare equal across engines.

  private val DupN = 8

  private def qDupSpans(s: SparkSession, dir: String): DataFrame = {
    val docs = sparkToks(s, dir)
      .select(col("doc_id"), col("ts"), size(col("ts")).cast("long").as("n_toks"))
    val grams = docs.filter(col("n_toks") >= DupN)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(ts)-${DupN - 1}), i -> struct(i AS p, concat_ws(' ', slice(ts, i, $DupN)) AS g))")).as("x"))
      .select(col("doc_id"), col("x.p").as("p"), md5Sid(col("x.g"), 12).as("gh"))
    val dup = grams.groupBy("gh").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select("gh")
    val ivs = grams.join(dup, "gh")
      .select(col("doc_id"), col("p").as("st"), (col("p") + lit(DupN - 1)).as("en"))
    val w = Window.partitionBy("doc_id").orderBy("st")
    val prevMax = max("en").over(w.rowsBetween(Window.unboundedPreceding, -1))
    val merged = ivs
      .withColumn("new_grp", when(prevMax.isNull || col("st") > prevMax, 1L).otherwise(0L))
      .withColumn("grp",
        sum("new_grp").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "grp")
      .agg((max("en") - min("st") + 1).as("len"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_spans"), sum("len").as("dup_tokens"))
    docs.select("doc_id", "n_toks")
      .join(merged, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .withColumn("dup_frac",
        when(col("n_toks") > 0,
          Rounding.r(col("dup_tokens") / col("n_toks").cast("double"), 5))
          .otherwise(lit(0.0)))
      .orderBy("doc_id")
  }

  private val qDupSpansSql =
    s"""WITH $TokensCte,
       |d AS (SELECT doc_id, ts, len(ts)::BIGINT AS n_toks FROM toks),
       |grams0 AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ts)-${DupN - 1}),
       |    i -> struct_pack(p := i, g := array_to_string(ts[i : i+${DupN - 1}], ' ')))) AS x
       |  FROM d WHERE n_toks >= $DupN),
       |grams AS (
       |  SELECT doc_id, x.p AS p,
       |    ('0x' || substr(md5(x.g), 1, 12))::BIGINT AS gh
       |  FROM grams0),
       |dup AS (SELECT gh FROM grams GROUP BY gh HAVING count(*) >= 2),
       |ivs AS (
       |  SELECT g.doc_id, g.p AS st, g.p + ${DupN - 1} AS en
       |  FROM grams g JOIN dup USING (gh)),
       |m1 AS (
       |  SELECT doc_id, st, en,
       |    max(en) OVER (PARTITION BY doc_id ORDER BY st
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
       |  FROM ivs),
       |m2 AS (
       |  SELECT doc_id, st, en,
       |    CASE WHEN prev_max IS NULL OR st > prev_max THEN 1 ELSE 0 END AS new_grp
       |  FROM m1),
       |m3 AS (
       |  SELECT doc_id, st, en,
       |    sum(new_grp) OVER (PARTITION BY doc_id ORDER BY st
       |      ROWS UNBOUNDED PRECEDING) AS grp
       |  FROM m2),
       |spans AS (
       |  SELECT doc_id, grp, max(en) - min(st) + 1 AS len
       |  FROM m3 GROUP BY 1, 2),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_dup_spans, sum(len) AS dup_tokens
       |  FROM spans GROUP BY 1)
       |SELECT d.doc_id, d.n_toks,
       |  CAST(coalesce(a.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       |  CAST(coalesce(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       |  CASE WHEN d.n_toks > 0
       |    THEN ${Rounding.rSql("coalesce(a.dup_tokens, 0) / d.n_toks::DOUBLE", 5)}
       |    ELSE 0.0 END AS dup_frac
       |FROM d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // --- Unicode NFC canonicalization (graft_nfc expression) ------------------
  //
  // Corpus canonicalization: without NFC, byte-level dedup/hashing treats
  // `e`+U+0301 and precomposed `é` as different documents. `graft_nfc` is
  // a codegen'd Catalyst expression (ICU-free, java.text.Normalizer) with
  // an isNormalized fast path — real corpora are overwhelmingly already
  // NFC, so the common row is a no-alloc scan. The oracle mirrors it with
  // DuckDB's nfc_normalize. The synthetic corpus is ASCII, so a
  // deterministic doc_id-keyed enrichment plants combining-mark sequences
  // both engines build byte-identically (chr() on the DuckDB side).

  private def qUnicodeNorm(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    t(s, dir, "documents")
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("Cafe"), lit("\u0301"), lit(" nai"), lit("\u0308"),
            lit("ve "), col("text")))
          .otherwise(col("text")).as("raw"))
      .select(col("doc_id"), col("raw"), expr("graft_nfc(raw)").as("norm"))
      .select(col("doc_id"),
        md5(col("norm")).as("norm_md5"),
        length(col("raw")).cast("long").as("len_raw"),
        length(col("norm")).cast("long").as("len_nfc"),
        (col("norm") =!= col("raw")).cast("int").as("changed"))
      .orderBy("doc_id")
  }

  private val qUnicodeNormSql =
    """WITH r AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0
      |      THEN 'Cafe' || chr(769) || ' nai' || chr(776) || 've ' || text
      |      ELSE text END AS raw
      |  FROM documents)
      |SELECT doc_id, md5(nfc_normalize(raw)) AS norm_md5,
      |  CAST(length(raw) AS BIGINT) AS len_raw,
      |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS len_nfc,
      |  CASE WHEN nfc_normalize(raw) <> raw THEN 1 ELSE 0 END AS changed
      |FROM r ORDER BY doc_id""".stripMargin

  // --- lexical commonness scoring (CCNet-style LM-filter analog) ------------
  //
  // CCNet ranks documents by language-model perplexity; the distributed
  // analog with exact cross-engine semantics scores each document by its
  // tokens' corpus frequency against a top-V unigram vocabulary:
  // rare-token-heavy and OOV-heavy documents (gibberish, mojibake, code
  // dumps in a text corpus) score low. All statistics are INTEGER sums
  // (no per-token logs), so the result is bit-exact in any engine and
  // immune to float summation order; production swaps the frequency table
  // for real LM surprisal without changing the plan.
  //
  // Plan at scale: unigram counts = one partial-agg (linear); top-V =
  // distributed TakeOrdered (V rows to the driver, V=4096 — KBs); vocab
  // BROADCASTS to a map-side left join; per-doc stats = one partial-agg
  // keyed on doc_id. The unbounded distinct-token space never shuffles
  // more than once and never sorts globally.

  private val VocabV = 4096

  private def qLexicalScore(s: SparkSession, dir: String): DataFrame = {
    val tok = sparkToks(s, dir).select(col("doc_id"), explode(col("ts")).as("tok"))
    val counts = tok.groupBy("tok").agg(count(lit(1)).as("c"))
    val vocab = counts.orderBy(col("c").desc, col("tok").asc).limit(VocabV)
    tok.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        sum(when(col("c").isNotNull, 1L).otherwise(0L)).as("in_vocab"),
        sum(coalesce(col("c"), lit(0L))).as("sum_freq"))
      .select(col("doc_id"), col("n_toks"), col("in_vocab"),
        Rounding.r(lit(1.0) - col("in_vocab") / col("n_toks").cast("double"), 5)
          .as("oov_rate"),
        Rounding.r(col("sum_freq") / col("n_toks").cast("double"), 3)
          .as("mean_tok_freq"))
      .orderBy("doc_id")
  }

  private val qLexicalScoreSql =
    s"""WITH $TokensCte,
       |tok AS (SELECT doc_id, unnest(ts) AS tok FROM toks),
       |counts AS (SELECT tok, count(*) AS c FROM tok GROUP BY 1),
       |vocab AS (SELECT tok, c FROM counts ORDER BY c DESC, tok LIMIT $VocabV),
       |agg AS (
       |  SELECT t.doc_id, count(*) AS n_toks,
       |    sum(CASE WHEN v.c IS NOT NULL THEN 1 ELSE 0 END) AS in_vocab,
       |    sum(coalesce(v.c, 0)) AS sum_freq
       |  FROM tok t LEFT JOIN vocab v USING (tok)
       |  GROUP BY 1)
       |SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
       |  CAST(in_vocab AS BIGINT) AS in_vocab,
       |  ${Rounding.rSql("1.0 - (in_vocab / n_toks::DOUBLE)", 5)} AS oov_rate,
       |  ${Rounding.rSql("sum_freq / n_toks::DOUBLE", 3)} AS mean_tok_freq
       |FROM agg ORDER BY doc_id""".stripMargin

  // --- count-min frequency sketch (heavy hitters) ----------------------------
  //
  // Completes the sketch trio: KMV estimates DISTINCT counts, the Bloom
  // filter answers MEMBERSHIP, count-min answers FREQUENCY — the
  // bounded-memory heavy-hitter primitive (Cormode & Muthukrishnan 2005)
  // a 100 TB token stream needs when the exact vocabulary agg is too hot
  // to keep. Sketch state is d×w counters (4×256 here = one broadcastable
  // KB-scale table at ANY corpus size) built by ONE partial-agg pass over
  // d replicated bucket keys; estimates are min over the d row counters,
  // with the one-sided guarantee est ≥ exact (collisions only ADD). The
  // md5-derived row hashes make the sketch bit-identical in DuckDB, so
  // the oracle checks estimates AND the overestimate property: the
  // output carries exact and estimated counts side by side.

  private val CmsD = 4
  private val CmsW = 256

  private def cmsBucket(r: Int, tok: Column): Column =
    pmod(md5Sid(concat(lit(r.toString), lit(":"), tok), 6), lit(CmsW))

  private def qCmsTopk(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(explode(simpleTokens(col("text"))).as("tok"))
      .persist() // one tokenize pass feeds the sketch AND the exact top-k
    // sketch build: d replicated (row, bucket) keys -> one partial agg
    val sketch = toks
      .select(explode(array((0 until CmsD).map(r =>
        struct(lit(r).as("r"), cmsBucket(r, col("tok")).as("b"))): _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("c"))
    // exact top-10 (the audit side: heavy hitters by true count)
    var top = toks.groupBy("tok").agg(count(lit(1)).as("exact"))
      .orderBy(desc("exact"), col("tok")).limit(10)
    // estimate = min over the d rows — d broadcast joins of a 10-row frame
    // against the KB-scale sketch
    (0 until CmsD).foreach { r =>
      top = top.withColumn(s"b$r", cmsBucket(r, col("tok")))
        .join(broadcast(sketch.filter(col("r") === r)
          .select(col("b").as(s"b$r"), col("c").as(s"c$r"))), s"b$r")
    }
    top.select(col("tok"), col("exact"),
      least((0 until CmsD).map(r => col(s"c$r")): _*).as("cms_est"))
      .orderBy(desc("exact"), col("tok"))
  }

  private def qCmsTopkSql: String = {
    val buckets = (0 until CmsD).map(r =>
      s"(${md5SidSql(s"'$r' || ':' || tok", 6)}) % $CmsW").toVector
    val joins = (0 until CmsD).map(r =>
      s"JOIN sketch s$r ON s$r.r = $r AND s$r.b = ${buckets(r).replace("tok", "top.tok")}")
      .mkString("\n")
    s"""WITH tok AS (
       |  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |    x -> x <> '')) AS tok
       |  FROM documents),
       |rb AS (
       |  ${(0 until CmsD).map(r =>
            s"SELECT $r AS r, ${buckets(r)} AS b FROM tok").mkString("\n  UNION ALL\n  ")}),
       |sketch AS (SELECT r, b, CAST(count(*) AS BIGINT) AS c FROM rb GROUP BY 1, 2),
       |top AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS exact FROM tok GROUP BY 1
       |  ORDER BY exact DESC, tok LIMIT 10)
       |SELECT top.tok, top.exact, least(${(0 until CmsD).map(r => s"s$r.c").mkString(", ")}) AS cms_est
       |FROM top
       |$joins
       |ORDER BY exact DESC, tok""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cms_topk" -> (qCmsTopk _),
    "q_lexical_score" -> (qLexicalScore _),
    "q_dup_spans" -> (qDupSpans _),
    "q_unicode_norm" -> (qUnicodeNorm _),
    "q_sequence_pack" -> (qSequencePack _),
    "q_boilerplate_scrub" -> (qBoilerplateScrub _),
    "q_pii_scrub" -> (qPiiScrub _),
    "q_length_quantiles" -> (qLengthQuantiles _),
    "q_training_select" -> (qTrainingSelect _),
    "q_train_split" -> (qTrainSplit _),
    "q_corpus_mix" -> (qCorpusMix _),
    "q_alpha_mix" -> (qAlphaMix _),
    "q_kmv_sketch" -> (qKmvSketch _),
    "q_hll_sketch" -> (qHllSketch _),
    "q_hll_agg" -> (qHllAgg _),
    "q_quantile_sample" -> (qQuantileSample _),
    "q_image_blocks" -> (qImageBlocks _),
    "q_multimodal_features" -> (qMultimodalFeatures _),
    "q_sessionize" -> (qSessionize _),
    "q_expand_parse" -> (qExpandParse _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_ngram_jaccard" -> (qNgramJaccard _),
    "q_containment" -> (qContainment _),
    "q_minhash_lsh" -> (qMinhashLsh _),
    "q_minhash_oph" -> (qMinhashOph _),
    "q_dedup_recall" -> (qDedupRecall _),
    "q_lsh_recall" -> (qLshRecall _),
    "q_cluster_rep" -> (qClusterRep _),
    "q_dedup_clusters" -> (qDedupClusters _),
    "q_soft_dedup" -> (qSoftDedup _),
    "q_triangles" -> (qTriangles _),
    "q_pagerank" -> (qPagerank _),
    "q_kmv_algebra" -> (qKmvAlgebra _),
    "q_hll_union" -> (qHllUnion _),
    "q_hll_daily" -> (qHllDaily _),
    "q_embed_spectrum" -> (qEmbedSpectrum _),
    "q_simhash" -> (qSimhash _),
    "q_simhash_hamming" -> (qSimhashHamming _),
    "q_ann_cosine_topk" -> (qAnnCosineTopk _),
    "q_ann_lsh_bucket" -> (qAnnLshBucket _),
    "q_ann_ivf" -> (qAnnIvf _),
    "q_ann_recall" -> (qAnnRecall _),
    "q_ann_pq" -> (qAnnPq _),
    "q_pq_recall" -> (qPqRecall _),
    "q_mmr_rerank" -> (qMmrRerank _),
    "q_sq8_quant" -> (qSq8Quant _),
    "q_ndcg_eval" -> (qNdcgEval _),
    "q_jl_project" -> (qJlProject _),
    "q_zipf_fit" -> (qZipfFit _),
    "q_rbo" -> (qRbo _),
    "q_ap_eval" -> (qApEval _),
    "q_kappa" -> (qKappa _),
    "q_textrank_keywords" -> (qTextrankKeywords _),
    "q_burstiness" -> (qBurstiness _),
    "q_hill_tail" -> (qHillTail _),
    "q_heaps_fit" -> (qHeapsFit _),
    "q_ngram_novelty" -> (qNgramNovelty _),
    "q_ann_ivfpq" -> (qAnnIvfPq _),
    "q_dsir_weights" -> (qDsirWeights _),
    "q_cluster_mix" -> (qClusterMix _),
    "q_embed_neardup" -> (qEmbedNeardup _),
    "q_hard_negatives" -> (qHardNegatives _),
    "q_embed_drift" -> (qEmbedDrift _),
    "q_visual_fusion" -> (qVisualFusion _),
    "q_lang_id" -> (qLangId _),
    "q_quality_score" -> (qQualityScore _),
    "q_token_count" -> (qTokenCount _),
    "q_doc_fingerprint" -> (qDocFingerprint _),
    "q_decontaminate" -> (qDecontaminate _),
    "q_bloom_prune" -> (qBloomPrune _),
    "q_repetition" -> (qRepetition _),
    "q_page_offsets" -> (qPageOffsets _),
    "q_context_format" -> (qContextFormat _),
    "q_hash_funcs" -> (qHashFuncs _))

  val oracles: Map[String, String] = Map(
    "q_cms_topk" -> qCmsTopkSql,
    "q_lexical_score" -> qLexicalScoreSql,
    "q_dup_spans" -> qDupSpansSql,
    "q_unicode_norm" -> qUnicodeNormSql,
    "q_sequence_pack" -> qSequencePackSql,
    "q_boilerplate_scrub" -> qBoilerplateScrubSql,
    "q_pii_scrub" -> qPiiScrubSql,
    "q_length_quantiles" -> qLengthQuantilesSql,
    "q_training_select" -> qTrainingSelectSql,
    "q_train_split" -> qTrainSplitSql,
    "q_corpus_mix" -> qCorpusMixSql,
    "q_alpha_mix" -> qAlphaMixSql,
    "q_kmv_sketch" -> qKmvSketchSql,
    "q_hll_sketch" -> qHllSketchSql,
    "q_hll_agg" -> qHllAggSql,
    "q_quantile_sample" -> qQuantileSampleSql,
    "q_image_blocks" -> qImageBlocksSql,
    "q_multimodal_features" -> qMultimodalFeaturesSql,
    "q_sessionize" -> qSessionizeSql,
    "q_expand_parse" -> qExpandParseSql,
    "q_dedup_exact" -> qDedupExactSql,
    "q_ngram_jaccard" -> qNgramJaccardSql,
    "q_containment" -> qContainmentSql,
    "q_minhash_lsh" -> qMinhashLshSql,
    "q_minhash_oph" -> qMinhashOphSql,
    "q_dedup_recall" -> qDedupRecallSql,
    "q_lsh_recall" -> qLshRecallSql,
    "q_cluster_rep" -> qClusterRepSql,
    "q_dedup_clusters" -> qDedupClustersSql,
    "q_soft_dedup" -> qSoftDedupSql,
    "q_triangles" -> qTrianglesSql,
    "q_pagerank" -> qPagerankSql,
    "q_kmv_algebra" -> qKmvAlgebraSql,
    "q_hll_union" -> qHllUnionSql,
    "q_hll_daily" -> qHllDailySql,
    "q_embed_spectrum" -> qEmbedSpectrumSql,
    "q_simhash" -> qSimhashSql,
    "q_simhash_hamming" -> qSimhashHammingSql,
    "q_ann_cosine_topk" -> qAnnCosineTopkSql,
    "q_ann_lsh_bucket" -> qAnnLshBucketSql,
    "q_ann_ivf" -> qAnnIvfSql,
    "q_ann_recall" -> qAnnRecallSql,
    "q_ann_pq" -> qAnnPqSql,
    "q_pq_recall" -> qPqRecallSql,
    "q_mmr_rerank" -> qMmrRerankSql,
    "q_sq8_quant" -> qSq8QuantSql,
    "q_ndcg_eval" -> qNdcgEvalSql,
    "q_jl_project" -> qJlProjectSql,
    "q_zipf_fit" -> qZipfFitSql,
    "q_rbo" -> qRboSql,
    "q_ap_eval" -> qApEvalSql,
    "q_kappa" -> qKappaSql,
    "q_textrank_keywords" -> qTextrankKeywordsSql,
    "q_burstiness" -> qBurstinessSql,
    "q_hill_tail" -> qHillTailSql,
    "q_heaps_fit" -> qHeapsFitSql,
    "q_ngram_novelty" -> qNgramNoveltySql,
    "q_ann_ivfpq" -> qAnnIvfPqSql,
    "q_dsir_weights" -> qDsirWeightsSql,
    "q_cluster_mix" -> qClusterMixSql,
    "q_embed_neardup" -> qEmbedNeardupSql,
    "q_hard_negatives" -> qHardNegativesSql,
    "q_embed_drift" -> qEmbedDriftSql,
    "q_visual_fusion" -> qVisualFusionSql,
    "q_lang_id" -> qLangIdSql,
    "q_quality_score" -> qQualityScoreSql,
    "q_token_count" -> qTokenCountSql,
    "q_doc_fingerprint" -> qDocFingerprintSql,
    "q_decontaminate" -> qDecontaminateSql,
    "q_bloom_prune" -> qBloomPruneSql,
    "q_repetition" -> qRepetitionSql,
    "q_page_offsets" -> qPageOffsetsSql,
    "q_context_format" -> qContextFormatSql,
    "q_hash_funcs" -> qHashFuncsSql)
}
