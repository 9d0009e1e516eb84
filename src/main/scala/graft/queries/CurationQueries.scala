package graft.queries

import graft.queries.BatteryHelpers.{TokensCte, cosSql, simpleTokens}
import graft.queries.Tables.t
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators beyond the reference — the document-quality
  * and redundancy audits a pretraining pipeline runs corpus-wide, each a
  * Catalyst-only plan with an exact DuckDB oracle.
  *
  * Scale notes (tested at sf, designed for 100 TB):
  *  - every per-document rule (`q_gopher_rules`) is a narrow codegen'd
  *    projection — zero shuffles;
  *  - paragraph dedup shuffles on the SEGMENT HASH (linear, partial-agg)
  *    then joins back on the same key — no pair space, no windows;
  *  - n-gram diversity is a two-level aggregation ((source, gram) then
  *    source) — the distinct count never funnels through one task;
  *  - collocation lift joins the bigram table to the unigram counts on
  *    the word key (linear shuffles; vocabulary ≪ corpus) and cuts with
  *    a distributed TakeOrdered;
  *  - SemDeDup's cost is Σ|cell|² by design (Abbas et al. 2023): the
  *    pairwise join is confined to centroid cells, never the corpus.
  *
  * Floats follow the repo's cross-engine discipline: IEEE primitives
  * only (mul/div/add/sqrt/floor — bit-identical in Spark and DuckDB),
  * no transcendentals (collocation strength is the raw likelihood RATIO,
  * monotone in PMI, instead of its log), `Rounding.r` on every reported
  * double, deterministic tie-breaks on every ordering.
  */
object CurationQueries {

  // --- Gopher document-quality rules (Rae et al. 2021, §A1.1) ---------------
  //
  // The standard document-level repetition-free quality gate: word-count
  // window, mean word length window, symbol-to-word ratio, bullet-/
  // ellipsis-line fractions, alphabetic-word fraction, minimum "essential
  // stopword" hits. One narrow pass over the corpus — each rule is a
  // per-row column expression, so the filter costs a single codegen'd
  // scan at any corpus size and composes with `q_training_select`'s
  // funnel for free.

  private val GopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  private def qGopherRules(s: SparkSession, dir: String): DataFrame = {
    val gopherStopArray = array(GopherStops.map(lit): _*)
    t(s, dir, "documents")
      .withColumn("ts", simpleTokens(col("text")))
      .withColumn("lines", filter(split(col("text"), "\n"), x => x =!= ""))
      .withColumn("n_words", size(col("ts")))
      .withColumn("dw", greatest(col("n_words"), lit(1)).cast("double"))
      .withColumn("dl", greatest(size(col("lines")), lit(1)).cast("double"))
      .withColumn("mean_wlen", Rounding.r(
        expr("aggregate(ts, 0L, (acc, x) -> acc + length(x))") / col("dw"), 4))
      .withColumn("alpha_frac", Rounding.r(
        size(filter(col("ts"), x => x.rlike("[a-z]"))) / col("dw"), 4))
      .withColumn("sym_ratio", Rounding.r(
        regexp_count(col("text"), lit("#|\\.\\.\\.")) / col("dw"), 4))
      .withColumn("bullet_frac", Rounding.r(
        size(filter(col("lines"), x => x.rlike("^[-*•]"))) / col("dl"), 4))
      .withColumn("ellipsis_frac", Rounding.r(
        size(filter(col("lines"), x => x.rlike("(\\.\\.\\.|…)$"))) / col("dl"), 4))
      .withColumn("n_stop",
        size(array_intersect(array_distinct(col("ts")), gopherStopArray)))
      .withColumn("pass",
        (col("n_words") >= 50 && col("n_words") <= 100000 &&
          col("mean_wlen") >= 3.0 && col("mean_wlen") <= 10.0 &&
          col("sym_ratio") < 0.1 && col("bullet_frac") < 0.9 &&
          col("ellipsis_frac") < 0.3 && col("alpha_frac") > 0.8 &&
          col("n_stop") >= 2).cast("int"))
      .select("doc_id", "n_words", "mean_wlen", "alpha_frac", "sym_ratio",
        "bullet_frac", "ellipsis_frac", "n_stop", "pass")
      .orderBy("doc_id")
  }

  private val qGopherRulesSql = {
    val stops = GopherStops.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH $TokensCte,
       |li AS (
       |  SELECT doc_id, text,
       |    list_filter(string_split(text, chr(10)), x -> x <> '') AS lines
       |  FROM documents),
       |m AS (
       |  SELECT t.doc_id,
       |    len(ts) AS n_words,
       |    greatest(len(ts), 1)::DOUBLE AS dw,
       |    greatest(len(lines), 1)::DOUBLE AS dl,
       |    ${Rounding.rSql("coalesce(list_sum(list_transform(ts, x -> len(x))), 0) / greatest(len(ts), 1)::DOUBLE", 4)} AS mean_wlen,
       |    ${Rounding.rSql("len(list_filter(ts, x -> regexp_matches(x, '[a-z]'))) / greatest(len(ts), 1)::DOUBLE", 4)} AS alpha_frac,
       |    ${Rounding.rSql("len(regexp_extract_all(text, '#|\\.\\.\\.')) / greatest(len(ts), 1)::DOUBLE", 4)} AS sym_ratio,
       |    ${Rounding.rSql("len(list_filter(lines, x -> regexp_matches(x, '^[-*•]'))) / greatest(len(lines), 1)::DOUBLE", 4)} AS bullet_frac,
       |    ${Rounding.rSql("len(list_filter(lines, x -> regexp_matches(x, '(\\.\\.\\.|…)$$'))) / greatest(len(lines), 1)::DOUBLE", 4)} AS ellipsis_frac,
       |    len(list_intersect(list_distinct(ts), $stops)) AS n_stop
       |  FROM toks t JOIN li ON t.doc_id = li.doc_id)
       |SELECT doc_id, n_words, mean_wlen, alpha_frac, sym_ratio, bullet_frac,
       |  ellipsis_frac, n_stop,
       |  CASE WHEN n_words >= 50 AND n_words <= 100000
       |    AND mean_wlen >= 3.0 AND mean_wlen <= 10.0
       |    AND sym_ratio < 0.1 AND bullet_frac < 0.9
       |    AND ellipsis_frac < 0.3 AND alpha_frac > 0.8
       |    AND n_stop >= 2 THEN 1 ELSE 0 END AS pass
       |FROM m ORDER BY doc_id""".stripMargin
  }

  // --- paragraph-level exact dedup (RefinedWeb / Falcon discipline) ---------
  //
  // Document-level dedup misses the boilerplate that repeats INSIDE
  // otherwise-unique documents (footers, license blurbs, nav text); the
  // standard fix hashes each segment and drops/flags segments whose
  // corpus document-frequency is ≥ 2. Plan: explode → distinct
  // (doc, hash) → hash-partial-agg df per segment → equi-join back on
  // the hash → per-doc counters. Every stage is linear in segments; the
  // join key is the 128-bit digest, so skew is bounded by the most
  // duplicated segment (exactly the thing being measured). The synthetic
  // corpus has no natural cross-doc segments, so a deterministic footer
  // is appended to every 5th doc in BOTH engines (the `q_pii_scrub`
  // enrichment discipline) to exercise hits and misses.

  private val Footer =
    "The quick brown boilerplate footer appears across many documents in this corpus"

  private def qParagraphDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").withColumn("text2",
      when(col("doc_id") % 5 === 0, concat(col("text"), lit(". " + Footer)))
        .otherwise(col("text")))
    val segs = docs
      .select(col("doc_id"), explode(split(col("text2"), "\\. ")).as("seg"))
      .filter(length(col("seg")) >= 20)
      .select(col("doc_id"), md5(col("seg")).as("h"))
      .distinct()
    val df = segs.groupBy("h").agg(count(lit(1)).as("df"))
    val tot = segs.groupBy("doc_id").agg(count(lit(1)).as("n_segs"))
    val dup = segs.join(df.filter(col("df") >= 2), "h")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    tot.join(dup, Seq("doc_id"), "left")
      .withColumn("n_dup", coalesce(col("n_dup"), lit(0L)))
      .withColumn("dup_frac",
        Rounding.r(col("n_dup") / col("n_segs").cast("double"), 4))
      .select("doc_id", "n_segs", "n_dup", "dup_frac")
      .orderBy("doc_id")
  }

  private val qParagraphDedupSql =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 0 THEN text || '. $Footer' ELSE text END AS text2
       |  FROM documents),
       |segs AS (
       |  SELECT DISTINCT doc_id, md5(seg) AS h
       |  FROM (SELECT doc_id, unnest(string_split(text2, '. ')) AS seg FROM d)
       |  WHERE len(seg) >= 20),
       |df AS (SELECT h, count(*) AS df FROM segs GROUP BY 1),
       |tot AS (SELECT doc_id, count(*) AS n_segs FROM segs GROUP BY 1),
       |dup AS (
       |  SELECT doc_id, count(*) AS n_dup
       |  FROM segs JOIN df USING (h) WHERE df.df >= 2 GROUP BY 1)
       |SELECT t.doc_id, t.n_segs,
       |  coalesce(u.n_dup, 0) AS n_dup,
       |  ${Rounding.rSql("coalesce(u.n_dup, 0) / t.n_segs::DOUBLE", 4)} AS dup_frac
       |FROM tot t LEFT JOIN dup u ON t.doc_id = u.doc_id
       |ORDER BY t.doc_id""".stripMargin

  // --- exact-substring near-dup audit (ExactSubstr, diagonal-run form) ------
  //
  // Document- and paragraph-level dedup both miss VERBATIM SPANS copied
  // between otherwise-distinct documents — the signal ExactSubstr dedup
  // (Lee et al. 2021, "Deduplicating Training Data Makes Language Models
  // Better") removes with a corpus suffix array. The distributed form
  // here gets the same answer without one: positioned k-char grams
  // (stride 1 — linear in characters, the same volume class as
  // tokenization), a document-frequency cap that bounds the inverted-
  // index self-join at Σdf² (RefinedWeb's df discipline), and the
  // classic DIAGONAL-RUN identity — grams of a shared substring of
  // length L land on one (doc_a, doc_b, pos_a − pos_b) diagonal as
  // L − k + 1 CONSECUTIVE positions, so islands-of-consecutive-pa per
  // diagonal recover every maximal common substring ≥ k exactly. The
  // per-diagonal window is bounded by actually-shared content, never
  // by document size. The audit window is the trailing `CsWin` chars
  // (a knob — production runs the full text; the plan is identical);
  // planted passages ride the enrichment discipline: every even doc
  // gets a group-keyed aperiodic tail (md5 hex, so every gram inside
  // it is group-unique and survives the df cap) shared by the ~8 even
  // docs of its doc_id div 16 group.

  private val CsK = 20 // gram width = minimum detectable common substring
  private val CsMin = 40 // report maximal runs >= this many chars
  // per-doc audit window (suffix). SPARK_GRAFT_CS_WIN overrides for
  // measurement (≤ 0 = FULL TEXT — the production mode; read at object
  // init, so the DuckDB oracle below interpolates the SAME value and
  // the pair stays hash-comparable at any window). Measured at sf0.1:
  // full text = 1.6× the gram/pair volume of the 240-char default and
  // 3.36 s vs 2.47 s min-over-3 — (sub)linear in characters, as the
  // scale story asserts (VERDICT r4 #3; BASELINE.md round-5 table).
  private[graft] val CsWin = sys.env.get("SPARK_GRAFT_CS_WIN").map(_.toInt)
    .map(w => if (w <= 0) Int.MaxValue / 4 else w).getOrElse(240)
  private val CsDfCap = 64 // drop grams occurring more often corpus-wide

  private def qCommonSubstring(s: SparkSession, dir: String): DataFrame = {
    val gid = expr("CAST(doc_id div 16 AS STRING)")
    val docs = t(s, dir, "documents")
      .withColumn("text2",
        when(col("doc_id") % 2 === 0,
          concat(col("text"), lit(" sp"), gid, lit("-"),
            md5(concat(lit("pass"), gid)), md5(concat(lit("sage"), gid))))
          .otherwise(col("text")))
      .withColumn("w",
        when(length(col("text2")) > CsWin,
          expr(s"substring(text2, length(text2) - ${CsWin - 1}, $CsWin)"))
          .otherwise(col("text2")))
      .filter(length(col("w")) >= CsK)
    // grams key the shuffle as their raw 20-char strings: an md5-id
    // variant (8 B/row) was A/B-profiled 6.5 s vs 4.0 s — 1.1M per-gram
    // md5 calls cost more than the string bytes save at this gram width;
    // revisit only if the gram key widens
    val grams = docs
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, length(w) - ${CsK - 1}), i -> substring(w, i, $CsK))")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("g"))
    // df via ONE exchange: a count-only window partitioned by g tags
    // every gram row with its corpus-wide occurrence count in the same
    // shuffle the self-join needs anyway (keep stays hash(g)-partitioned
    // in cache, so the join below re-uses the exchange) — replacing the
    // r4 groupBy(g) + join-back pair of exchanges over the full gram
    // table (A/B: 4.41 → 2.47 s min-over-3 at sf0.1; the grams persist
    // fell out entirely, it fed only the two sides this fusion merged).
    // Scale note: the window's per-g partition is bounded only above
    // the filter — a pathological gram with df ≫ cap still fits one
    // task (count-only frame, no per-row state), and the df cap keeps
    // everything downstream at Σdf² as before.
    val keep = grams
      .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
      .filter(col("df").between(2, CsDfCap))
      .select("doc_id", "pos", "g")
      .persist()
    val pairs = keep.as("a")
      .join(keep.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))
    val w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    pairs.withColumn("diag", col("pa") - col("pb"))
      .withColumn("isl", col("pa") - row_number().over(w))
      .groupBy("doc_a", "doc_b", "diag", "isl")
      .agg((count(lit(1)) + lit(CsK - 1).cast("long")).as("run_len"))
      .filter(col("run_len") >= CsMin)
      .groupBy("doc_a", "doc_b")
      .agg(max("run_len").as("max_run"), count(lit(1)).as("n_runs"))
      .orderBy("doc_a", "doc_b")
  }

  private val qCommonSubstringSql =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 2 = 0 THEN text || ' sp' ||
       |      CAST(doc_id // 16 AS VARCHAR) || '-' ||
       |      md5('pass' || CAST(doc_id // 16 AS VARCHAR)) ||
       |      md5('sage' || CAST(doc_id // 16 AS VARCHAR))
       |    ELSE text END AS text2
       |  FROM documents),
       |wd AS (
       |  SELECT doc_id,
       |    CASE WHEN length(text2) > $CsWin
       |      THEN substr(text2, length(text2) - ${CsWin - 1}, $CsWin)
       |      ELSE text2 END AS w
       |  FROM d),
       |g AS (
       |  SELECT doc_id, u.p AS pos, u.s AS g FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(generate_series(1, length(w) - ${CsK - 1}),
       |        i -> {'p': i, 's': substr(w, i, $CsK)})) AS u
       |    FROM wd WHERE length(w) >= $CsK) z),
       |dfc AS (SELECT g, count(*) AS df FROM g GROUP BY 1),
       |k AS (
       |  SELECT g.doc_id, g.pos, g.g
       |  FROM g JOIN dfc USING (g) WHERE dfc.df BETWEEN 2 AND $CsDfCap),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
       |  FROM k a JOIN k b ON a.g = b.g AND a.doc_id < b.doc_id),
       |r AS (
       |  SELECT doc_a, doc_b, pa - pb AS diag,
       |    pa - row_number() OVER (
       |      PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS isl
       |  FROM p),
       |runs AS (
       |  SELECT doc_a, doc_b, diag, isl,
       |    CAST(count(*) + ${CsK - 1} AS BIGINT) AS run_len
       |  FROM r GROUP BY 1, 2, 3, 4)
       |SELECT doc_a, doc_b, CAST(max(run_len) AS BIGINT) AS max_run,
       |  count(*) AS n_runs
       |FROM runs WHERE run_len >= $CsMin
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- corpus n-gram diversity audit ----------------------------------------
  //
  // Distinct-trigram ratio per source: the corpus-level self-repetition
  // signal (a source whose ratio collapses is template spam). Two-level
  // aggregation — (source, trigram) partial-agg counts, then a per-source
  // rollup — so the distinct count is computed without `countDistinct`'s
  // per-group state or any single-task funnel.

  private def qNgramDiversity(s: SparkSession, dir: String): DataFrame = {
    val tri = t(s, dir, "documents")
      .select(col("source"), simpleTokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 3)
      .select(col("source"), explode(expr(
        "transform(sequence(0, size(ts)-3), i -> concat_ws(' ', element_at(ts, i+1), element_at(ts, i+2), element_at(ts, i+3)))"))
        .as("tri"))
    tri.groupBy("source", "tri").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(count(lit(1)).as("distinct_trigrams"), sum("c").as("total_trigrams"))
      .withColumn("diversity", Rounding.r(
        col("distinct_trigrams") / col("total_trigrams").cast("double"), 4))
      .select("source", "distinct_trigrams", "total_trigrams", "diversity")
      .orderBy("source")
  }

  private val qNgramDiversitySql =
    """WITH toks AS (
      |  SELECT source,
      |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
      |  FROM documents),
      |tri AS (
      |  SELECT source, unnest(list_transform(
      |    generate_series(1, len(ts)-2), i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS tri
      |  FROM toks WHERE len(ts) >= 3),
      |g AS (SELECT source, tri, count(*) AS c FROM tri GROUP BY 1, 2)
      |SELECT source, count(*) AS distinct_trigrams,
      |  CAST(sum(c) AS BIGINT) AS total_trigrams,
      |  floor((count(*) / sum(c)::DOUBLE) * 1e4 + 0.5) / 1e4 AS diversity
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  // --- collocation mining (PMI-ranked bigrams) -------------------------------
  //
  // Corpus collocations: bigrams whose observed frequency beats the
  // independence expectation. Strength is the raw likelihood ratio
  // `lift = P(ab) / (P(a)·P(b))` — MONOTONE in PMI (= ln lift) but free
  // of `ln`, whose libm rounding differs across engines; every op left
  // is an IEEE primitive both engines execute bit-identically. Plan:
  // unigram + bigram hash aggs (partial), two equi-joins of the bigram
  // table against the unigram counts on the word key (vocabulary ≪
  // corpus; AQE broadcasts when it fits), distributed TakeOrdered cut.

  private def qCollocations(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), simpleTokens(col("text")).as("ts"))
    val uni = toks.select(explode(col("ts")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val bi = toks.filter(size(col("ts")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(ts)-2), i -> struct(element_at(ts, i+1) AS w1, element_at(ts, i+2) AS w2))"))
        .as("b"))
      .select(col("b.w1"), col("b.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .filter(col("c2") >= 3)
    val nu = uni.agg(sum("cw").as("nu"))
    val nb = toks.filter(size(col("ts")) >= 2)
      .agg(sum(size(col("ts")) - 1).cast("long").as("nb"))
    bi.join(uni.withColumnRenamed("w", "w1").withColumnRenamed("cw", "ca"), "w1")
      .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("cw", "cb"), "w2")
      .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
      .withColumn("lift", Rounding.r(
        (col("c2").cast("double") / col("nb")) /
          ((col("ca").cast("double") / col("nu")) * (col("cb").cast("double") / col("nu"))), 4))
      .select("w1", "w2", "c2", "lift")
      .orderBy(desc("lift"), col("w1"), col("w2"))
      .limit(20)
  }

  private val qCollocationsSql =
    s"""WITH $TokensCte,
       |uni AS (SELECT unnest(ts) AS w FROM toks),
       |cu AS (SELECT w, count(*) AS cw FROM uni GROUP BY 1),
       |bi AS (
       |  SELECT unnest(list_transform(generate_series(1, len(ts)-1),
       |    i -> {'w1': ts[i], 'w2': ts[i+1]})) AS b
       |  FROM toks WHERE len(ts) >= 2),
       |cb AS (
       |  SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS c2
       |  FROM bi GROUP BY 1, 2 HAVING count(*) >= 3),
       |nu AS (SELECT CAST(sum(cw) AS BIGINT) AS nu FROM cu),
       |nb AS (SELECT CAST(sum(len(ts) - 1) AS BIGINT) AS nb FROM toks WHERE len(ts) >= 2)
       |SELECT cb.w1, cb.w2, cb.c2,
       |  ${Rounding.rSql("(cb.c2::DOUBLE / nb.nb) / ((a.cw::DOUBLE / nu.nu) * (b.cw::DOUBLE / nu.nu))", 4)} AS lift
       |FROM cb
       |JOIN cu a ON cb.w1 = a.w
       |JOIN cu b ON cb.w2 = b.w
       |CROSS JOIN nu CROSS JOIN nb
       |ORDER BY lift DESC, cb.w1, cb.w2 LIMIT 20""".stripMargin

  // --- SemDeDup (Abbas et al. 2023): semantic near-dup pruning --------------
  //
  // Embedding-space dedup that exact/MinHash hashing cannot see: cluster
  // the corpus (deterministic centroid seeding shared with `q_ann_ivf`,
  // nlist ~ √N so cells stay √N-sized), then compare pairs ONLY within a
  // cell — Σ|cell|² total work, the paper's own cost model — and drop
  // the larger id of any pair with cosine ≥ τ. The isotropic synthetic
  // vectors have no natural near-dups (max pair cosine ≈ 0.44), so every
  // 50th vector gets a deterministic perturbed twin (+0.05 on the first
  // coordinate, IEEE-exact in both engines) to exercise real hits under
  // a τ = 0.99 gate. Twins whose perturbation flips the argmax cell land
  // in different cells and are (deterministically, in both engines)
  // missed — the paper's own known failure mode at cluster boundaries;
  // on isotropic vectors the cell margins are thin, so a fraction of
  // twins splits (38/100 caught at sf0.1). Real embedding corpora
  // cluster, widening margins; the miss rate is what `q_ann_recall`-style
  // audits exist to measure.

  private def qSemDedup(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val emb0 = t(s, dir, "embeddings").select(col("vec_id"),
      expr("transform(embedding, x -> cast(x AS double))").as("e"))
    val aug = emb0.unionByName(
      emb0.filter(col("vec_id") % 50 === 0).select(
        (col("vec_id") + lit(100000L)).as("vec_id"),
        expr("transform(e, (x, i) -> IF(i = 0, x + cast(0.05 AS double), x))").as("e")))
    val stats = aug.agg(count(lit(1)).as("n"))
      .withColumn("nlist", greatest(lit(8L), floor(sqrt(col("n")))))
    val cents = emb0.crossJoin(broadcast(stats))
      .filter(col("vec_id") < col("nlist"))
      .select(col("vec_id").as("cid"), col("e").as("ce"))
    val assigned = aug.crossJoin(broadcast(cents))
      .withColumn("ccos", expr("graft_cosine(e, ce)"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(desc("ccos"), col("cid"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("e"), col("cid").as("cell"))
    val a = assigned.select(col("vec_id").as("keep_vec"), col("e").as("ea"), col("cell"))
    val b = assigned.select(col("vec_id").as("drop_vec"), col("e").as("eb"), col("cell"))
    a.join(b, Seq("cell")).filter(col("keep_vec") < col("drop_vec"))
      .withColumn("cos", expr("graft_cosine(ea, eb)"))
      .filter(col("cos") >= 0.99)
      .select(col("keep_vec"), col("drop_vec"), col("cell"),
        Rounding.r(col("cos"), 4).as("cos"))
      .orderBy("keep_vec", "drop_vec")
  }

  private val qSemDedupSql =
    s"""WITH e0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
       |  FROM embeddings),
       |aug AS (
       |  SELECT vec_id, e FROM e0
       |  UNION ALL
       |  SELECT vec_id + 100000 AS vec_id,
       |    list_transform(generate_series(1, len(e)),
       |      i -> CASE WHEN i = 1 THEN e[i] + 0.05 ELSE e[i] END) AS e
       |  FROM e0 WHERE vec_id % 50 = 0),
       |st AS (SELECT greatest(8, CAST(floor(sqrt(count(*))) AS BIGINT)) AS nlist FROM aug),
       |cents AS (SELECT vec_id AS cid, e AS ce FROM e0 CROSS JOIN st WHERE vec_id < nlist),
       |scored AS (
       |  SELECT aug.vec_id, aug.e, cents.cid,
       |    row_number() OVER (PARTITION BY aug.vec_id ORDER BY
       |      ${cosSql("aug.e", "cents.ce")} DESC, cents.cid) AS rn
       |  FROM aug CROSS JOIN cents),
       |assigned AS (SELECT vec_id, e, cid AS cell FROM scored WHERE rn = 1)
       |SELECT a.vec_id AS keep_vec, b.vec_id AS drop_vec, a.cell,
       |  ${Rounding.rSql(cosSql("a.e", "b.e"), 4)} AS cos
       |FROM assigned a JOIN assigned b
       |  ON a.cell = b.cell AND a.vec_id < b.vec_id
       |WHERE ${cosSql("a.e", "b.e")} >= 0.99
       |ORDER BY keep_vec, drop_vec""".stripMargin

  // --- blocked fuzzy matching (entity-resolution / fuzzy-key dedup) ---------
  //
  // Edit-distance matching that hashing cannot see (typo'd titles, OCR
  // noise, near-identical keys). The standard blocked-ER shape: a cheap
  // deterministic blocking key (8-char prefix of the normalized title)
  // confines the quadratic Levenshtein stage to Σ|block|² candidate
  // pairs, and a block-size cap — `max(32, N/50)`, the `q_ngram_jaccard`
  // df-cap discipline — drops template-spam blocks that would otherwise
  // blow the pair space up at corpus scale (a dropped block is boilerplate
  // by definition, not a fuzzy-match candidate). Levenshtein itself has
  // identical unit-cost semantics in Spark and DuckDB, so the oracle
  // checks the distances exactly.

  private def qFuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    // persisted: the 48-byte (doc_id, ttl, blk) projection feeds the
    // block-size agg AND both sides of the pair join — one decode of the
    // wide text column total instead of three
    val t0 = t(s, dir, "documents")
      .select(col("doc_id"), lower(substring(col("text"), 1, 40)).as("ttl"))
      .withColumn("blk", substring(col("ttl"), 1, 8))
      .persist()
    val bc = t0.groupBy("blk").agg(count(lit(1)).as("bc"))
    // corpus size from the block counts (no re-scan of documents)
    val n = bc.agg(sum("bc").as("n"))
    val sized = t0.join(bc, "blk").crossJoin(broadcast(n))
      .filter(col("bc") <= greatest(lit(32.0), col("n") / lit(50.0)))
    val a = sized.select(col("blk"), col("doc_id").as("doc_a"), col("ttl").as("ta"))
    val b = sized.select(col("blk"), col("doc_id").as("doc_b"), col("ttl").as("tb"))
    a.join(b, Seq("blk")).filter(col("doc_a") < col("doc_b"))
      // banded DP with early abandon: O(len·k) per pair instead of
      // O(len²); returns -1 above the threshold, so the filter keeps
      // exactly the rows the unbounded form kept with dist <= 5
      .withColumn("dist", levenshtein(col("ta"), col("tb"), 5))
      .filter(col("dist") >= 0)
      .select("doc_a", "doc_b", "dist")
      .orderBy("doc_a", "doc_b")
  }

  private val qFuzzyMatchSql =
    """WITH t AS (
      |  SELECT doc_id, lower(substr(text, 1, 40)) AS ttl,
      |    substr(lower(substr(text, 1, 40)), 1, 8) AS blk
      |  FROM documents),
      |n AS (SELECT count(*) AS n FROM t),
      |bc AS (SELECT blk, count(*) AS c FROM t GROUP BY 1),
      |s AS (
      |  SELECT t.doc_id, t.ttl, t.blk FROM t
      |  JOIN bc ON t.blk = bc.blk CROSS JOIN n
      |  WHERE bc.c <= greatest(32.0, n.n / 50.0))
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  levenshtein(a.ttl, b.ttl) AS dist
      |FROM s a JOIN s b ON a.blk = b.blk AND a.doc_id < b.doc_id
      |WHERE levenshtein(a.ttl, b.ttl) <= 5
      |ORDER BY doc_a, doc_b""".stripMargin

  // --- BPE merge learning (tokenizer vocabulary induction) ------------------
  //
  // The canonical tokenizer-training primitive (Sennrich et al. 2016):
  // repeatedly find the corpus-wide most frequent adjacent token pair and
  // merge it. Trained the way WordPiece/BPE trainers actually scale — over
  // the WORD-FREQUENCY table (zipf-bounded vocabulary of word types), not
  // the raw token stream, so after the first aggregation each round touches
  // |vocab| rows regardless of corpus size. Per round: one keyed partial
  // agg (pair counts) + a distributed TakeOrdered(1) + a broadcast-apply
  // narrow pass. Nothing quadratic, nothing driver-side.
  //
  // Exact cross-engine trick: a word's tokenization is kept as a single
  // string `_t1__t2__..._tn_` (tokens double-separator-joined, single
  // separators at the ends). A token-level adjacent pair (x, y) then
  // occurs iff the string `_x__y_` occurs, and the greedy leftmost
  // non-overlapping merge BPE specifies is EXACTLY what literal
  // `replace()` executes in both Spark and DuckDB — `_a__a__a__a_` with
  // pair `_a__a_` -> `_aa__aa_`, boundaries intact, no cross-token false
  // matches (`_b__c_` never matches inside `_ab__cd_`). Tokens are
  // [a-z]+ so the separator is unambiguous.

  /** Apply one learned merge to every `tok`, preserving all other columns
    * (the encode path carries the word key through the rounds).
    */
  private def bpeApplyKeyed(toks: DataFrame, best: DataFrame): DataFrame =
    toks.crossJoin(broadcast(best.select(col("p").as("bp"))))
      .withColumn("tok", expr(
        "replace(tok, bp, concat('_', replace(substring(bp, 2, length(bp)-2), '__', ''), '_'))"))
      .drop("bp")

  private def bpeApply(toks: DataFrame, best: DataFrame): DataFrame =
    bpeApplyKeyed(toks, best).select("tok", "wc")

  private def bpePairs(toks: DataFrame): DataFrame =
    toks
      .withColumn("a", split(expr("substring(tok, 2, length(tok)-2)"), "__"))
      .filter(size(col("a")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(a)-2)," +
          " i -> concat('_', element_at(a, i+1), '__', element_at(a, i+2), '_'))")).as("p"),
        col("wc"))
      .groupBy("p").agg(sum("wc").as("freq"))

  private def bpeBest(pairs: DataFrame): DataFrame =
    pairs.orderBy(desc("freq"), asc("p")).limit(1)

  private def qBpeMerges(s: SparkSession, dir: String): DataFrame = {
    val words = t(s, dir, "documents")
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      .filter(length(col("word")).between(2, 12))
      .groupBy("word").agg(count(lit(1)).as("wc"))
    // chars double-separator-joined: "the" -> "_t__h__e_"
    val t0 = words.select(
      expr("substring(concat('_', regexp_replace(word, '(.)', '$1__')), 1, length(word)*3)").as("tok"),
      col("wc"))
      .persist()
    var toks = t0
    val rounds = (1 to 3).map { r =>
      val best = bpeBest(bpePairs(toks)).persist()
      val row = best.select(lit(r).as("round"),
        expr("replace(substring(p, 2, length(p)-2), '__', ' ')").as("pair"),
        col("freq"))
      toks = bpeApply(toks, best).persist()
      row
    }
    rounds.reduce(_.unionAll(_)).orderBy("round")
  }

  private val qBpeMergesSql = {
    def round(i: Int): String =
      s"""pc$i AS (
         |  SELECT p, CAST(sum(wc) AS BIGINT) AS freq FROM (
         |    SELECT unnest(list_transform(generate_series(1, len(a)-1),
         |      j -> '_' || a[j] || '__' || a[j+1] || '_')) AS p, wc
         |    FROM (SELECT string_split(substr(tok, 2, length(tok)-2), '__') AS a, wc
         |          FROM t${i - 1})
         |    WHERE len(a) >= 2)
         |  GROUP BY 1),
         |b$i AS (SELECT p, freq FROM pc$i ORDER BY freq DESC, p LIMIT 1),
         |t$i AS (
         |  SELECT replace(tok, (SELECT p FROM b$i),
         |    '_' || replace(substr((SELECT p FROM b$i), 2,
         |      length((SELECT p FROM b$i)) - 2), '__', '') || '_') AS tok, wc
         |  FROM t${i - 1})""".stripMargin
    s"""WITH words AS (
       |  SELECT word, count(*) AS wc FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |    FROM documents)
       |  WHERE length(word) BETWEEN 2 AND 12 GROUP BY 1),
       |t0 AS (
       |  SELECT substr('_' || regexp_replace(word, '(.)', '\\1__', 'g'),
       |                1, length(word)*3) AS tok, wc
       |  FROM words),
       |${round(1)},
       |${round(2)},
       |${round(3)}
       |SELECT round, replace(substr(p, 2, length(p)-2), '__', ' ') AS pair, freq
       |FROM (SELECT 1 AS round, p, freq FROM b1 UNION ALL
       |      SELECT 2, p, freq FROM b2 UNION ALL
       |      SELECT 3, p, freq FROM b3)
       |ORDER BY round""".stripMargin
  }

  // --- BPE encode: apply the learned merges to the corpus -------------------
  //
  // The OTHER half of the tokenizer lifecycle: after q_bpe_merges learns
  // the merge table, this query ENCODES the corpus with it and reports the
  // per-source compression (chars = token count before any merge, tokens =
  // after 3 merge rounds, saved = their difference). Same scale shape as
  // training: the merges are learned once over the zipf-bounded word-TYPE
  // vocabulary, each round re-tokenizes |vocab| rows (never the corpus),
  // and the corpus-side cost is ONE (source, word) aggregation plus a
  // vocabulary-sized equi-join back — the raw text is scanned exactly once
  // regardless of merge count. All-integer outputs; the merge sequence is
  // byte-identical to q_bpe_merges' by construction (shared helpers).
  private def qBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val srcWords = t(s, dir, "documents")
      .select(col("source"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      .filter(length(col("word")).between(2, 12))
      .groupBy("source", "word").agg(count(lit(1)).as("cnt"))
      .persist()
    var enc = srcWords.groupBy("word").agg(sum("cnt").as("wc"))
      .select(col("word"),
        expr("substring(concat('_', regexp_replace(word, '(.)', '$1__')), 1, length(word)*3)").as("tok"),
        col("wc"))
      .persist()
    (1 to 3).foreach { _ =>
      val best = bpeBest(bpePairs(enc.select("tok", "wc"))).persist()
      enc = bpeApplyKeyed(enc, best).persist()
    }
    val tokCount = enc.select(col("word"),
      expr("(length(tok) - length(replace(tok, '__', ''))) div 2 + 1")
        .cast("long").as("ntok"))
    srcWords.join(tokCount, "word")
      .groupBy("source")
      .agg(sum("cnt").as("words"),
        sum(col("cnt") * length(col("word"))).as("chars"),
        sum(col("cnt") * col("ntok")).as("tokens"))
      .select(col("source"), col("words"), col("chars"), col("tokens"),
        (col("chars") - col("tokens")).as("saved"))
      .orderBy("source")
  }

  private val qBpeEncodeSql = {
    // word-carrying twin of qBpeMergesSql's round(): same pair counting and
    // greedy replace, but t_i keeps the word key for the encode join-back.
    def round(i: Int): String =
      s"""pc$i AS (
         |  SELECT p, CAST(sum(wc) AS BIGINT) AS freq FROM (
         |    SELECT unnest(list_transform(generate_series(1, len(a)-1),
         |      j -> '_' || a[j] || '__' || a[j+1] || '_')) AS p, wc
         |    FROM (SELECT string_split(substr(tok, 2, length(tok)-2), '__') AS a, wc
         |          FROM t${i - 1})
         |    WHERE len(a) >= 2)
         |  GROUP BY 1),
         |b$i AS (SELECT p, freq FROM pc$i ORDER BY freq DESC, p LIMIT 1),
         |t$i AS (
         |  SELECT word, replace(tok, (SELECT p FROM b$i),
         |    '_' || replace(substr((SELECT p FROM b$i), 2,
         |      length((SELECT p FROM b$i)) - 2), '__', '') || '_') AS tok, wc
         |  FROM t${i - 1})""".stripMargin
    s"""WITH sw AS (
       |  SELECT source, word, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |    FROM documents)
       |  WHERE length(word) BETWEEN 2 AND 12 GROUP BY 1, 2),
       |vocab AS (SELECT word, CAST(sum(cnt) AS BIGINT) AS wc FROM sw GROUP BY 1),
       |t0 AS (
       |  SELECT word, substr('_' || regexp_replace(word, '(.)', '\\1__', 'g'),
       |                1, length(word)*3) AS tok, wc
       |  FROM vocab),
       |${round(1)},
       |${round(2)},
       |${round(3)},
       |tc AS (
       |  SELECT word,
       |    (length(tok) - length(replace(tok, '__', ''))) // 2 + 1 AS ntok
       |  FROM t3)
       |SELECT source, CAST(sum(cnt) AS BIGINT) AS words,
       |  CAST(sum(cnt * length(word)) AS BIGINT) AS chars,
       |  CAST(sum(cnt * ntok) AS BIGINT) AS tokens,
       |  CAST(sum(cnt * length(word)) - sum(cnt * ntok) AS BIGINT) AS saved
       |FROM sw JOIN tc USING (word)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // --- trained linear quality probe (in-engine learning) --------------------
  //
  // The quality-classifier recipe every pretraining pipeline runs (CCNet /
  // LLaMA-style: label a seed, train a linear probe on hashed features,
  // score the corpus) — trained IN the engine. The least-squares solve
  // w = (XᵀX)⁻¹ Xᵀy is approximated by the order-2 Neumann truncation
  //   w  ∝  2λ·a − G·a,   a = Xᵀy,  G = XᵀX,  λ = N·D ≥ ||G||
  // which needs only INTEGER tensor aggregates (a: D-vector, G: D×D) —
  // order-independent and bit-identical across engines, where float GD
  // sums would differ by accumulation order. Training state is O(D²)
  // regardless of corpus size; the feature pass is one (doc, bucket)
  // distinct + a D²-bounded pair agg; scoring is a broadcast-sized join
  // back on the bucket key. |v_j| ≤ 3·D·N² bounds int64 up to N ≈ 4·10⁸
  // docs — past that, train a/G on a deterministic hash-sample (the
  // standard probe practice; same remedy as q_dsir_weights).

  private def md5Bucket(c: Column, buckets: Int): Column =
    pmod(conv(substring(md5(c), 1, 6), 16, 10).cast("long"), lit(buckets))

  private val ProbeD = 16

  /** (doc_id, y, score) for the whole corpus — shared by the probe's
    * top-k query and its AUC evaluation.
    */
  private[graft] def probeScores(s: SparkSession, dir: String): DataFrame = Shared("probeScores", s, dir) {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), explode(simpleTokens(col("text"))).as("tok"))
      .persist() // feeds features AND labels — one tokenize pass
    // hashed binary features: x_ij = 1 iff doc i has a token in bucket j
    val feats = toks
      .select(col("doc_id"), md5Bucket(col("tok"), ProbeD).as("j"))
      .distinct().persist() // both sides of the Gram pair join + scoring
    // weak seed label: "contains the top English stopword"
    val labels = toks.groupBy("doc_id")
      .agg(max(when(col("tok") === "the", 1L).otherwise(0L)).as("y"))
    val n = labels.agg(count(lit(1)).as("n"))
    val a = feats.join(labels.filter(col("y") === 1), "doc_id")
      .groupBy("j").agg(count(lit(1)).as("a"))
    val g = feats.join(feats.select(col("doc_id"), col("j").as("k")), "doc_id")
      .groupBy("j", "k").agg(count(lit(1)).as("g"))
    val ga = g.join(a.select(col("j").as("k"), col("a").as("ak")), "k")
      .groupBy("j").agg(sum(col("g") * col("ak")).as("ga"))
    val v = a.join(ga, Seq("j"), "full").crossJoin(broadcast(n))
      .select(col("j"),
        (lit(2L) * col("n") * lit(ProbeD.toLong) * coalesce(col("a"), lit(0L)) -
          coalesce(col("ga"), lit(0L))).as("v"))
    feats.join(v, "j")
      .groupBy("doc_id").agg(sum("v").as("score"))
      .join(labels, "doc_id")
      .select("doc_id", "y", "score")
  }

  private def qLinearProbe(s: SparkSession, dir: String): DataFrame =
    probeScores(s, dir)
      .orderBy(desc("score"), col("doc_id")).limit(20)
      .select("doc_id", "y", "score")

  private val ProbeCtes =
    s"""$TokensCte,
       |tok AS (SELECT doc_id, unnest(ts) AS tok FROM toks),
       |feats AS (
       |  SELECT DISTINCT doc_id,
       |    ('0x' || substr(md5(tok), 1, 6))::BIGINT % $ProbeD AS j
       |  FROM tok),
       |labels AS (
       |  SELECT doc_id, CAST(max(CASE WHEN tok = 'the' THEN 1 ELSE 0 END) AS BIGINT) AS y
       |  FROM tok GROUP BY 1),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM labels),
       |a AS (
       |  SELECT j, CAST(count(*) AS BIGINT) AS a FROM feats
       |  JOIN labels USING (doc_id) WHERE y = 1 GROUP BY 1),
       |g AS (
       |  SELECT f1.j AS j, f2.j AS k, CAST(count(*) AS BIGINT) AS g
       |  FROM feats f1 JOIN feats f2 USING (doc_id) GROUP BY 1, 2),
       |ga AS (
       |  SELECT g.j, CAST(sum(g.g * a.a) AS BIGINT) AS ga
       |  FROM g JOIN a ON g.k = a.j GROUP BY 1),
       |v AS (
       |  SELECT COALESCE(a.j, ga.j) AS j,
       |    2 * n.n * $ProbeD * COALESCE(a.a, 0) - COALESCE(ga.ga, 0) AS v
       |  FROM a FULL JOIN ga ON a.j = ga.j CROSS JOIN n),
       |scores AS (
       |  SELECT s.doc_id, labels.y, s.score FROM (
       |    SELECT feats.doc_id, CAST(sum(v.v) AS BIGINT) AS score
       |    FROM feats JOIN v USING (j) GROUP BY 1) s
       |  JOIN labels USING (doc_id))""".stripMargin

  private val qLinearProbeSql =
    s"""WITH $ProbeCtes
       |SELECT doc_id, y, score FROM scores
       |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  // Exact AUC of the probe, in-engine (the evaluate leg of the
  // train → score → evaluate loop): Mann-Whitney U over a DETERMINISTIC
  // md5-ordered eval sample — a distributed TakeOrdered of bounded size,
  // so the global rank window is bounded (the withRank contract) at any
  // corpus size, which is how probe eval actually runs at 100 TB.
  // Ties break by doc_id (a fixed convention both engines execute
  // identically; integer scores tie often). All integer arithmetic:
  // U = Σ r_pos − P(P+1)/2, auc_micros = ⌊10⁶·U/(P·N)⌋.

  private val AucEvalSize = 2000

  private def qProbeAuc(s: SparkSession, dir: String): DataFrame = {
    val eval0 = probeScores(s, dir)
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .limit(AucEvalSize)
    val ranked = eval0.withColumn("r", row_number().over(
      Window.orderBy(col("score"), col("doc_id"))).cast("long"))
    ranked.agg(
      sum(when(col("y") === 1, 1L).otherwise(0L)).as("pos"),
      sum(when(col("y") === 0, 1L).otherwise(0L)).as("neg"),
      sum(when(col("y") === 1, col("r")).otherwise(0L)).as("rsum"))
      .select(col("pos"), col("neg"),
        expr("rsum - (pos * (pos + 1)) div 2").as("u"),
        expr("(1000000 * (rsum - (pos * (pos + 1)) div 2)) div (pos * neg)")
          .as("auc_micros"))
  }

  private val qProbeAucSql =
    s"""WITH $ProbeCtes,
       |eval AS (
       |  SELECT * FROM scores ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |  LIMIT $AucEvalSize),
       |ranked AS (
       |  SELECT y, CAST(row_number() OVER (ORDER BY score, doc_id) AS BIGINT) AS r
       |  FROM eval),
       |agg AS (
       |  SELECT CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
       |    CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg,
       |    CAST(sum(CASE WHEN y = 1 THEN r ELSE 0 END) AS BIGINT) AS rsum
       |  FROM ranked)
       |SELECT pos, neg, rsum - (pos * (pos + 1)) // 2 AS u,
       |  (1000000 * (rsum - (pos * (pos + 1)) // 2)) // (pos * neg) AS auc_micros
       |FROM agg""".stripMargin

  // --- TF-IDF keyword extraction (per-document top-3 terms) -----------------
  //
  // The classic document-keyword operator, idf'd with the ln-free Okapi
  // numerator (N − df + 0.5)/(df + 0.5) — monotone in the usual log-idf, so
  // the RANKING is identical, while staying inside the IEEE primitives both
  // engines execute bit-identically (the q_collocations discipline). Plan:
  // one (doc, term) tf agg (persisted — it feeds the df agg AND the score
  // join), a vocabulary-sized df join on the term key (linear), the corpus
  // count as a broadcast 1-row crossJoin, then a per-document window whose
  // rank<=3 cut pushes map-side as a WindowGroupLimit — the window is
  // bounded by each document's vocabulary, never corpus-wide.
  private def qTfidfKeywords(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val tf = docs
      .select(col("doc_id"), explode(simpleTokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persist()
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") *
          ((col("n") - col("df")).cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("term").asc)))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("term"),
        Rounding.r(col("score"), 4).as("score"))
      .orderBy("doc_id", "rnk")
  }

  private val qTfidfKeywordsSql =
    s"""WITH $TokensCte,
       |tf AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
       |    SELECT doc_id, unnest(ts) AS term FROM toks)
       |  GROUP BY 1, 2),
       |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |scored AS (
       |  SELECT doc_id, term,
       |    CAST(tf AS DOUBLE) * (CAST(n - df AS DOUBLE) + 0.5)
       |      / (CAST(df AS DOUBLE) + 0.5) AS score
       |  FROM tf JOIN df USING (term) CROSS JOIN n),
       |ranked AS (
       |  SELECT doc_id, term, score,
       |    row_number() OVER (PARTITION BY doc_id
       |                       ORDER BY score DESC, term) AS rnk
       |  FROM scored)
       |SELECT doc_id, rnk, term, ${Rounding.rSql("score", 4)} AS score
       |FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin

  // --- length↔token-count correlation audit ---------------------------------
  //
  // Pearson r between document character length and whitespace token count,
  // per source — the corpus-stats sanity audit (a source whose length/token
  // relationship diverges has a tokenization or extraction problem). All
  // five moments (Σx, Σy, Σx², Σy², Σxy) are BIGINT sums — order-immune —
  // and r is ONE final double expression over them (casts exact, mul/div/
  // sqrt correctly rounded). Plan: a single narrow scan into a partial+
  // final hash agg keyed on source; |sources| output rows at any corpus
  // size.
  //
  // int64 bound (round-5 audit — the r4 comment bounded only the SUMS):
  // the binding term is the FINAL cross-product n·sxx ≤ n²·x_max², not
  // Σx² ≤ n·x_max² — BIGINT holds to n ≈ 3·10⁶ docs per source at
  // x_max 10³ chars (the r4-stated 10¹⁰ was the sum bound alone; the
  // product wraps four orders earlier). Past that the `WideStats` knob
  // (SPARK_GRAFT_DECIMAL38=1) computes the moments and final products
  // at DECIMAL(38,0) — exact to n ≈ 3·10¹⁶ — with the same plan shape
  // (`WideStatsSpec` pins parity below the bound and BigInt-exactness
  // above it, where the default path throws under ANSI).
  private def qCorrelation(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("source"),
      col("n_chars").as("x"),
      size(simpleTokens(col("text"))).cast("long").as("y"))
    pearsonBySource(d)
  }

  /** Per-source Pearson r over `(source, x, y)` rows — the body of
    * `q_correlation`, factored so `WideStatsSpec` can drive it past the
    * BIGINT bound on synthetic pairs.
    */
  private[graft] def pearsonBySource(d: DataFrame): DataFrame =
    d.groupBy("source").agg(
      count(lit(1)).as("n"),
      WideStats.wsum(col("x")).as("sx"), WideStats.wsum(col("y")).as("sy"),
      WideStats.wsumProd(col("x"), col("x")).as("sxx"),
      WideStats.wsumProd(col("y"), col("y")).as("syy"),
      WideStats.wsumProd(col("x"), col("y")).as("sxy"))
      .select(col("source"), col("n"),
        Rounding.r(
          (WideStats.prod(col("n"), col("sxy")) -
            WideStats.prod(col("sx"), col("sy"))).cast("double") /
            (sqrt((WideStats.prod(col("n"), col("sxx")) -
              WideStats.prod(col("sx"), col("sx"))).cast("double")) *
              sqrt((WideStats.prod(col("n"), col("syy")) -
                WideStats.prod(col("sy"), col("sy"))).cast("double"))),
          6).as("pearson_r"))
      .orderBy("source")

  private val qCorrelationSql =
    s"""WITH d AS (
       |  SELECT source, n_chars AS x,
       |    CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
       |                         s -> s <> '')) AS BIGINT) AS y
       |  FROM documents),
       |m AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * x) AS BIGINT) AS sxx,
       |    CAST(sum(y * y) AS BIGINT) AS syy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy
       |  FROM d GROUP BY 1)
       |SELECT source, n,
       |  ${Rounding.rSql(
        "CAST(n * sxy - sx * sy AS DOUBLE) / " +
          "(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * " +
          "sqrt(CAST(n * syy - sy * sy AS DOUBLE)))", 6)} AS pearson_r
       |FROM m ORDER BY source""".stripMargin

  // --- token-budget weighted Bernoulli sampling ------------------------------
  //
  // The corpus-mixing downsampler: keep each document independently with
  // probability proportional to its weight (n_chars — the token-count
  // proxy this schema carries), targeting an EXPECTED budget of
  // SampleBudget documents. Weighted Poisson/Bernoulli sampling is THE
  // way a mixing recipe takes "2.1 epochs of source A, 0.4 of source B"
  // out of a 100 TB corpus: per-row decision, no sort, no global rank.
  // The keep test h/2^32 < K·w/Σw uses one 32-bit md5 prefix of the
  // doc id as the uniform draw, and every operand is an integer-valued
  // double (exact to 2^53 — petachar corpora) flowing through identical
  // IEEE multiply/divide/compare in both engines, so the decision is
  // deterministic and cross-engine bit-identical: the SAMPLE ITSELF is
  // oracle-checked, not just its size. Plan: one broadcast total + one
  // codegen'd linear scan; rows with K·w ≥ Σw have p = 1 (always kept).

  private val SampleBudget = 50

  private def qWeightedSample(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val tot = docs.agg(sum("n_chars").cast("double").as("tot"))
    docs.crossJoin(broadcast(tot))
      .withColumn("h",
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("double"))
      .filter(col("h") / lit(4294967296.0) <
        lit(SampleBudget.toDouble) * col("n_chars") / col("tot"))
      .select(col("doc_id"), col("n_chars"),
        Rounding.r(least(lit(1.0),
          lit(SampleBudget.toDouble) * col("n_chars") / col("tot")), 6).as("p"))
      .orderBy("doc_id")
  }

  private def qWeightedSampleSql: String =
    s"""WITH tt AS (SELECT sum(n_chars)::DOUBLE AS tot FROM documents),
       |d AS (
       |  SELECT doc_id, n_chars,
       |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT::DOUBLE AS h,
       |    tot
       |  FROM documents CROSS JOIN tt)
       |SELECT doc_id, n_chars,
       |  ${Rounding.rSql(s"least(1.0, $SampleBudget.0 * n_chars / tot)", 6)} AS p
       |FROM d
       |WHERE h / 4294967296.0 < $SampleBudget.0 * n_chars / tot
       |ORDER BY doc_id""".stripMargin

  // --- bigram-LM fluency scoring (CCNet/KenLM-lite) --------------------------
  //
  // The other half of CCNet's LM filter next to q_lexical_score's
  // OOV/commonness signal: score each document by the mean transition
  // probability of its bigrams under a corpus-trained bigram model —
  // templated/repetitive text scores high, token salad scores low.
  // p(w2|w1) = C(w1 w2) / C(w1·) with C(w1·) counting bigram CONTEXTS
  // (occurrences of w1 that start a bigram), both counted over this same
  // corpus in the same job. Cross-engine float discipline: each
  // position's probability is fixed-pointed to floor(c12·10⁶/c1) — an
  // exact integer both engines agree on (c12·10⁶ stays below 2^53) — so
  // the per-doc score is an ORDER-IMMUNE integer sum; one double
  // division at the end. Plan: one position pass, two linear count aggs
  // (the "training"), two key-joins back (each position matches exactly
  // one count row — probe-side Zipf skew is AQE's skew-split case, the
  // build side is one row per key), one per-doc agg. Every stage linear
  // in tokens at any corpus size.

  private def qLmScore(s: SparkSession, dir: String): DataFrame = {
    // persisted: the position table feeds the bigram count, the context
    // count, and the scoring join
    val pos = t(s, dir, "documents")
      .select(col("doc_id"), simpleTokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(ts)-2),
          |  i -> struct(element_at(ts, i+1) AS w1, element_at(ts, i+2) AS w2))"""
          .stripMargin)).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .persist()
    val c12 = pos.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = pos.groupBy("w1").agg(count(lit(1)).as("c1"))
    pos.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .select(col("doc_id"),
        floor(col("c12") * lit(1e6) / col("c1")).cast("long").as("fp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("fp").cast("long").as("score_fp"))
      .select(col("doc_id"), col("n_bigrams"), col("score_fp"),
        Rounding.r(col("score_fp") / col("n_bigrams") / lit(1e6), 6).as("mean_p"))
      .orderBy("doc_id")
  }

  private def qLmScoreSql: String =
    s"""WITH $TokensCte,
       |pos AS (
       |  SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
       |    SELECT doc_id, unnest(list_transform(generate_series(1, len(ts)-1),
       |      i -> {'w1': ts[i], 'w2': ts[i+1]})) AS u
       |    FROM toks WHERE len(ts) >= 2) x),
       |c12 AS (SELECT w1, w2, count(*) AS c12 FROM pos GROUP BY 1, 2),
       |c1 AS (SELECT w1, count(*) AS c1 FROM pos GROUP BY 1),
       |sc AS (
       |  SELECT p.doc_id,
       |    CAST(floor(b.c12 * 1e6 / u.c1) AS BIGINT) AS fp
       |  FROM pos p
       |  JOIN c12 b ON b.w1 = p.w1 AND b.w2 = p.w2
       |  JOIN c1 u ON u.w1 = p.w1),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_bigrams,
       |    CAST(sum(fp) AS BIGINT) AS score_fp
       |  FROM sc GROUP BY 1)
       |SELECT doc_id, n_bigrams, score_fp,
       |  ${Rounding.rSql("(score_fp / n_bigrams) / 1e6", 6)} AS mean_p
       |FROM agg ORDER BY doc_id""".stripMargin

  // --- incremental aggregate maintenance (mergeable per-source stats) --------
  //
  // The stats-table discipline at 100 TB: NEVER re-scan history to
  // refresh corpus statistics — keep a tiny per-source stats table of
  // MERGEABLE aggregates (count/sum/min/max are semigroup ops; distinct
  // rides q_hll_agg's registers) and fold each ingest batch's delta agg
  // into it with a key join. This query runs the exact maintenance plan:
  // the "history" partition's agg stands for the stored table (at scale
  // it is READ, not recomputed — the history scan here exists only so
  // the oracle can check the merged result end-to-end), the delta agg is
  // the per-batch work, and the merge is a source-keyed full-outer join
  // over two vocabulary-sized tables. Merged output provably equals a
  // full recompute because every stat is associative-commutative.

  private def qIncrStats(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    def agg(df: DataFrame) = df.groupBy("source").agg(
      count(lit(1)).as("n"), sum("n_chars").as("sc"),
      min("n_chars").as("mn"), max("n_chars").as("mx"))
    val hist = agg(docs.filter(col("doc_id") % 4 =!= 0))
      .toDF("source", "nh", "sh", "mnh", "mxh")
    val delta = agg(docs.filter(col("doc_id") % 4 === 0))
      .toDF("source", "nd", "sd", "mnd", "mxd")
    hist.join(delta, Seq("source"), "full_outer")
      .select(col("source"),
        (coalesce(col("nh"), lit(0L)) + coalesce(col("nd"), lit(0L)))
          .cast("long").as("n_docs"),
        (coalesce(col("sh"), lit(0L)) + coalesce(col("sd"), lit(0L)))
          .cast("long").as("sum_chars"),
        least(coalesce(col("mnh"), col("mnd")), coalesce(col("mnd"), col("mnh")))
          .cast("long").as("min_chars"),
        greatest(coalesce(col("mxh"), col("mxd")), coalesce(col("mxd"), col("mxh")))
          .cast("long").as("max_chars"))
      .orderBy("source")
  }

  private def qIncrStatsSql: String =
    s"""WITH h AS (
       |  SELECT source, count(*) AS nh, sum(n_chars) AS sh,
       |    min(n_chars) AS mnh, max(n_chars) AS mxh
       |  FROM documents WHERE doc_id % 4 <> 0 GROUP BY 1),
       |d AS (
       |  SELECT source, count(*) AS nd, sum(n_chars) AS sd,
       |    min(n_chars) AS mnd, max(n_chars) AS mxd
       |  FROM documents WHERE doc_id % 4 = 0 GROUP BY 1)
       |SELECT coalesce(h.source, d.source) AS source,
       |  CAST(coalesce(nh, 0) + coalesce(nd, 0) AS BIGINT) AS n_docs,
       |  CAST(coalesce(sh, 0) + coalesce(sd, 0) AS BIGINT) AS sum_chars,
       |  CAST(least(coalesce(mnh, mnd), coalesce(mnd, mnh)) AS BIGINT) AS min_chars,
       |  CAST(greatest(coalesce(mxh, mxd), coalesce(mxd, mxh)) AS BIGINT) AS max_chars
       |FROM h FULL OUTER JOIN d ON h.source = d.source
       |ORDER BY source""".stripMargin

  // --- declarative data-quality constraint checks (Deequ-style) --------------
  //
  // The pre-ingest gate a 100 TB pipeline runs on every batch before the
  // expensive stages touch it: a CHECK SUITE — uniqueness, completeness,
  // domain membership, column consistency, referential integrity —
  // evaluated in as few passes as the checks allow and reported as one
  // (check, n_violations) table that either blocks the run or lands in
  // the metrics store. Plan shapes are the cheapest each check class
  // admits: completeness/consistency/domain checks fold into ONE shared
  // conditional-count scan (zero shuffles); uniqueness is a key-hash agg
  // (partial-agg, linear); referential integrity is a key-distinct +
  // left-anti join (two linear shuffles) — never a window, never a
  // collect. Violation COUNTS (not samples) keep the output O(checks).

  private def qDataChecks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val events = t(s, dir, "events")
    val orders = t(s, dir, "orders")
    val custs = t(s, dir, "customer")
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    // one shared scan: every per-row predicate of a table in one pass
    val rowChecks = docs.agg(
      cnt(col("text").isNull || length(col("text")) === 0).as("doc_text_empty"),
      cnt(col("n_chars") =!= length(col("text"))).as("doc_nchars_mismatch"),
      cnt(!col("lang").isin("en", "de", "fr", "es", "pt")).as("doc_lang_domain"))
    val evChecks = events.agg(
      cnt(col("user_id").isNull).as("event_user_null"),
      cnt(col("value") < 0).as("event_value_negative"))
    val dupDocs = docs.groupBy("doc_id").agg(count(lit(1)).as("c"))
      .agg(cnt(col("c") > 1).as("doc_id_dup_keys"))
    val orphans = orders.select(col("o_custkey").as("k")).distinct()
      .join(custs.select(col("c_custkey").as("k")), Seq("k"), "left_anti")
      .agg(count(lit(1)).as("order_orphan_custkeys"))
    def unpivot(df: DataFrame): DataFrame = {
      val cols = df.columns
      df.select(explode(array(cols.map(c =>
        struct(lit(c).as("check"), col(c).cast("long").as("n_violations"))): _*))
        .as("kv")).select(col("kv.check"), col("kv.n_violations"))
    }
    unpivot(rowChecks).unionByName(unpivot(evChecks))
      .unionByName(unpivot(dupDocs)).unionByName(unpivot(orphans))
      .orderBy("check")
  }

  private def qDataChecksSql: String =
    s"""WITH rc AS (
       |  SELECT
       |    CAST(sum(CASE WHEN text IS NULL OR len(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS doc_text_empty,
       |    CAST(sum(CASE WHEN n_chars <> len(text) THEN 1 ELSE 0 END) AS BIGINT) AS doc_nchars_mismatch,
       |    CAST(sum(CASE WHEN lang NOT IN ('en','de','fr','es','pt') THEN 1 ELSE 0 END) AS BIGINT) AS doc_lang_domain
       |  FROM documents),
       |ec AS (
       |  SELECT
       |    CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS event_user_null,
       |    CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) AS event_value_negative
       |  FROM events),
       |dd AS (
       |  SELECT CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS doc_id_dup_keys
       |  FROM (SELECT doc_id, count(*) AS c FROM documents GROUP BY 1)),
       |oo AS (
       |  SELECT CAST(count(*) AS BIGINT) AS order_orphan_custkeys FROM (
       |    SELECT DISTINCT o_custkey FROM orders
       |    WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)))
       |SELECT 'doc_text_empty' AS "check", doc_text_empty AS n_violations FROM rc
       |UNION ALL SELECT 'doc_nchars_mismatch', doc_nchars_mismatch FROM rc
       |UNION ALL SELECT 'doc_lang_domain', doc_lang_domain FROM rc
       |UNION ALL SELECT 'event_user_null', event_user_null FROM ec
       |UNION ALL SELECT 'event_value_negative', event_value_negative FROM ec
       |UNION ALL SELECT 'doc_id_dup_keys', doc_id_dup_keys FROM dd
       |UNION ALL SELECT 'order_orphan_custkeys', order_orphan_custkeys FROM oo
       |ORDER BY "check"""".stripMargin

  // --- normalization-aware exact dedup (CCNet-style) ------------------------
  //
  // Wenzek et al. 2020 (CCNet) dedups on NORMALIZED text — lowercase,
  // digits to a placeholder, punctuation stripped — because web near-copies
  // differ in exactly those surface features. This query measures the
  // uplift: per source, how many docs join a duplicate group under the
  // normalized hash that the raw hash missed. The normalization chain is
  // codegen'd built-ins end-to-end (NFC → lower → digits→0 → strip \p{P}
  // → collapse \s+ → trim; no accent fold — ICU accent tables differ
  // across engines, the rest is IEEE-free byte-deterministic string work).
  // Plan shape: two linear hash-key aggs (raw md5, norm md5) joined back
  // on their own keys — the exact-dedup discipline twice, no pair space.
  // Deterministic enrichment exercises the contrast: %13 ids get an exact
  // copy (raw-dup AND norm-dup), %7 ids get two punctuation/digit variants
  // (norm-dup ONLY — '*** 123 ***' and ',,, 456 !!' both normalize to
  // ' 000').

  /** The CCNet-ish normalization column (Spark side; oracle mirrors it
    * operation-for-operation with DuckDB's `nfc_normalize`).
    */
  private def ccnetNorm(c: Column): Column =
    trim(regexp_replace(regexp_replace(regexp_replace(
      lower(call_function("graft_nfc", c)),
      "[0-9]", "0"), "\\p{P}", ""), "\\s+", " "))

  private def enrichedDocs(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
    base
      .unionAll(base.filter(col("doc_id") % 13 === 0).select(
        (col("doc_id") + 10000000L).as("doc_id"), col("source"), col("text")))
      .unionAll(base.filter(col("doc_id") % 7 === 0).select(
        (col("doc_id") + 20000000L).as("doc_id"), col("source"),
        concat(col("text"), lit("\n*** 123 ***")).as("text")))
      .unionAll(base.filter(col("doc_id") % 7 === 0).select(
        (col("doc_id") + 30000000L).as("doc_id"), col("source"),
        concat(col("text"), lit(" ,,, 456 !!")).as("text")))
  }

  private def qNormDedup(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val h = enrichedDocs(s, dir)
      .select(col("source"), md5(col("text")).as("rh"),
        md5(ccnetNorm(col("text"))).as("nh"))
    val rdf = h.groupBy("rh").agg(count(lit(1)).as("rc"))
    val ndf = h.groupBy("nh").agg(count(lit(1)).as("nc"))
    h.join(rdf, "rh").join(ndf, "nh")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rc") >= 2, 1L).otherwise(0L)).as("raw_dup"),
        sum(when(col("nc") >= 2, 1L).otherwise(0L)).as("norm_dup"))
      .select(col("source"), col("n_docs"), col("raw_dup"), col("norm_dup"),
        (col("norm_dup") - col("raw_dup")).as("uplift"))
      .orderBy("source")
  }

  private val NormSqlExpr =
    """trim(regexp_replace(regexp_replace(regexp_replace(
      |  lower(nfc_normalize(text)), '[0-9]', '0', 'g'), '\p{P}', '', 'g'),
      |  '\s+', ' ', 'g'))""".stripMargin

  private val qNormDedupSql =
    s"""WITH en AS (
       |  SELECT doc_id, source, text FROM documents
       |  UNION ALL SELECT doc_id + 10000000, source, text
       |    FROM documents WHERE doc_id % 13 = 0
       |  UNION ALL SELECT doc_id + 20000000, source, text || chr(10) || '*** 123 ***'
       |    FROM documents WHERE doc_id % 7 = 0
       |  UNION ALL SELECT doc_id + 30000000, source, text || ' ,,, 456 !!'
       |    FROM documents WHERE doc_id % 7 = 0),
       |h AS (SELECT source, md5(text) AS rh, md5($NormSqlExpr) AS nh FROM en),
       |rdf AS (SELECT rh, CAST(count(*) AS BIGINT) AS rc FROM h GROUP BY 1),
       |ndf AS (SELECT nh, CAST(count(*) AS BIGINT) AS nc FROM h GROUP BY 1)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN rc >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS raw_dup,
       |  CAST(sum(CASE WHEN nc >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS norm_dup,
       |  CAST(sum(CASE WHEN nc >= 2 THEN 1 ELSE 0 END)
       |     - sum(CASE WHEN rc >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS uplift
       |FROM h JOIN rdf USING (rh) JOIN ndf USING (nh)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- pairwise source divergence (total-variation distance) ----------------
  //
  // The corpus-mix drift audit: for every source pair, the total-variation
  // distance between unigram distributions, TV = ½ Σ_t |p₁(t) − p₂(t)|.
  // Cross-multiplying by the token totals keeps it INTEGER-EXACT until one
  // final division: TV·2N₁N₂ = Σ_shared |c₁N₂ − c₂N₁| + (N₁−S₁)N₂ +
  // (N₂−S₂)N₁ where S_i sums the shared-token counts — so tokens present
  // in only one source are priced by the CLOSED FORM, never materialized.
  // Plan: one (source, tok) partial agg, a vocab-keyed self-join (≤ |pairs|
  // rows per token, sources are a tiny dimension), two broadcast joins for
  // the totals, one pair agg. Int64 holds to N₁N₂·10⁶ < 2⁶³ (≈ 10⁵ docs
  // per source at this doc length); past that the micros scale drops or
  // the sums move to DECIMAL — documented, not silent.

  private def qSourceDivergence(s: SparkSession, dir: String): DataFrame = {
    val cnt = t(s, dir, "documents")
      .select(col("source"), explode(simpleTokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      .persist() // both sides of the pair join + the totals agg
    val tot = cnt.groupBy("source").agg(sum("c").as("n"))
    val pairs = cnt.as("a")
      .join(cnt.select(col("source").as("s2"), col("tok"), col("c").as("c2")),
        Seq("tok"))
      .filter(col("source") < col("s2"))
      .join(broadcast(tot.select(col("source"), col("n").as("n1"))), "source")
      .join(broadcast(tot.select(col("source").as("s2"), col("n").as("n2"))), "s2")
    pairs.groupBy(col("source").as("s1"), col("s2"))
      .agg(min("n1").as("n1"), min("n2").as("n2"),
        count(lit(1)).as("shared_toks"),
        sum(abs(col("c") * col("n2") - col("c2") * col("n1"))).as("sd"),
        sum("c").as("sc1"), sum("c2").as("sc2"))
      .select(col("s1"), col("s2"), col("n1"), col("n2"), col("shared_toks"),
        expr("""(1000000 * (sd + (n1 - sc1) * n2 + (n2 - sc2) * n1))
                 div (2 * n1 * n2)""").as("tv_micros"))
      .orderBy("s1", "s2")
  }

  private val qSourceDivergenceSql =
    s"""WITH $TokensCte,
       |st AS (
       |  SELECT d.source, unnest(t.ts) AS tok
       |  FROM toks t JOIN documents d ON t.doc_id = d.doc_id),
       |cnt AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c FROM st GROUP BY 1, 2),
       |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
       |pair AS (
       |  SELECT a.source AS s1, b.source AS s2, a.c AS c1, b.c AS c2,
       |    t1.n AS n1, t2.n AS n2
       |  FROM cnt a JOIN cnt b ON a.tok = b.tok AND a.source < b.source
       |  JOIN tot t1 ON t1.source = a.source
       |  JOIN tot t2 ON t2.source = b.source),
       |agg AS (
       |  SELECT s1, s2, min(n1) AS n1, min(n2) AS n2,
       |    CAST(count(*) AS BIGINT) AS shared_toks,
       |    CAST(sum(abs(c1 * n2 - c2 * n1)) AS BIGINT) AS sd,
       |    CAST(sum(c1) AS BIGINT) AS sc1, CAST(sum(c2) AS BIGINT) AS sc2
       |  FROM pair GROUP BY 1, 2)
       |SELECT s1, s2, n1, n2, shared_toks,
       |  (1000000 * (sd + (n1 - sc1) * n2 + (n2 - sc2) * n1)) // (2 * n1 * n2)
       |    AS tv_micros
       |FROM agg ORDER BY s1, s2""".stripMargin

  // --- vocabulary head coverage ---------------------------------------------
  //
  // The tokenizer-sizing signal: what fraction of each source's running
  // tokens does the global top-K vocabulary cover? (The Zipf head-mass
  // curve every vocab-size decision reads.) Plan: (source, tok) partial
  // agg → vocab-sized global agg → distributed TakeOrdered(K) with a
  // deterministic (count desc, tok) tie-break → O(K) broadcast back onto
  // the per-source counts. Integer-exact coverage in micros. K = 8 here
  // because the synthetic corpus draws from a ~31-token vocabulary — the
  // head-mass number is only informative with K below the vocab size; a
  // real corpus uses K = target tokenizer vocab (32k/64k), same plan.

  private val VocabK = 8

  private def qVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val cnt = t(s, dir, "documents")
      .select(col("source"), explode(simpleTokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      .persist() // feeds the global vocab agg AND the coverage join
    val top = cnt.groupBy("tok").agg(sum("c").as("g"))
      .orderBy(desc("g"), col("tok")).limit(VocabK)
      .select("tok")
    val cov = cnt.join(broadcast(top), "tok")
      .groupBy("source").agg(sum("c").as("covered"))
    cnt.groupBy("source").agg(sum("c").as("n_toks"))
      .join(cov, Seq("source"), "left")
      .select(col("source"), col("n_toks"),
        coalesce(col("covered"), lit(0L)).as("covered"),
        expr("(1000000 * coalesce(covered, 0L)) div n_toks").as("coverage_micros"))
      .orderBy("source")
  }

  private val qVocabCoverageSql =
    s"""WITH $TokensCte,
       |st AS (
       |  SELECT d.source, unnest(t.ts) AS tok
       |  FROM toks t JOIN documents d ON t.doc_id = d.doc_id),
       |cnt AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c FROM st GROUP BY 1, 2),
       |top AS (
       |  SELECT tok FROM (SELECT tok, CAST(sum(c) AS BIGINT) AS g FROM cnt GROUP BY 1)
       |  ORDER BY g DESC, tok LIMIT $VocabK),
       |cov AS (
       |  SELECT source, CAST(sum(c) AS BIGINT) AS covered
       |  FROM cnt JOIN top USING (tok) GROUP BY 1),
       |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_toks FROM cnt GROUP BY 1)
       |SELECT source, n_toks, COALESCE(covered, 0) AS covered,
       |  (1000000 * COALESCE(covered, 0)) // n_toks AS coverage_micros
       |FROM tot LEFT JOIN cov USING (source) ORDER BY source""".stripMargin

  // --- probe calibration curve ----------------------------------------------
  //
  // The third leg of the train → score → evaluate loop (after
  // q_linear_probe and q_probe_auc): a DECILE CALIBRATION of the trained
  // probe — positives rate per score decile over the same deterministic
  // md5-ordered eval sample, the reliability diagram a curator reads
  // before trusting the probe's threshold. The global ntile window is
  // bounded by the eval cut (the withRank contract); rates are integer
  // micros, ties in score break on doc_id in both engines.

  private def qProbeCalibration(s: SparkSession, dir: String): DataFrame = {
    val eval0 = probeScores(s, dir)
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .limit(AucEvalSize)
    eval0
      .withColumn("decile", ntile(10).over(
        Window.orderBy(col("score"), col("doc_id"))))
      .groupBy("decile")
      .agg(count(lit(1)).as("n"),
        sum(col("y")).as("pos"))
      .select(col("decile"), col("n"), col("pos"),
        expr("(1000000 * pos) div n").as("pos_rate_micros"))
      .orderBy("decile")
  }

  private val qProbeCalibrationSql =
    s"""WITH $ProbeCtes,
       |eval AS (
       |  SELECT * FROM scores ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |  LIMIT $AucEvalSize),
       |d AS (
       |  SELECT y, CAST(ntile(10) OVER (ORDER BY score, doc_id) AS INT) AS decile
       |  FROM eval)
       |SELECT decile, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos,
       |  (1000000 * CAST(sum(y) AS BIGINT)) // CAST(count(*) AS BIGINT)
       |    AS pos_rate_micros
       |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  // --- split-conformal gating threshold (finite-sample FPR guarantee) -------
  //
  // The probe quartet's deployment step: turning a score column into a
  // GATE with a guarantee. Split conformal (Vovk): hash-split the scored
  // corpus 50/50 into calibration/test, take the k-th LARGEST
  // calibration-NEGATIVE score with k = ⌊α(n+1)⌋ as the threshold — then
  // by exchangeability a fresh negative exceeds it with probability
  // ≤ k/(n+1) ≤ α, a distribution-free false-positive bound no
  // cross-validated threshold gives. Everything is integer rank-picks on
  // the probe's BIGINT scores (no floats until the reported rates).
  // The k-th-largest pick runs over the DISTINCT-SCORE value grain
  // (counts collapse per score first, cumulate, pick the value whose
  // cumulative range covers k — the q_mann_whitney/q_spearman rank
  // convention): the round-2 form ranked every calibration-negative ROW
  // through one unpartitioned window — corpus-sized, the exact
  // single-task funnel PlanGuardSpec's battery-wide window check now
  // rejects (it caught this one). The threshold then broadcasts to gate
  // the test side in one narrow pass.

  private val ConfAlphaPct = 10 // α = 0.10

  private def qConformal(s: SparkSession, dir: String): DataFrame = {
    val scored = probeScores(s, dir)
      .withColumn("grp",
        when(pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 8),
          16, 10).cast("long"), lit(100L)) < 50, "cal").otherwise("test"))
      .persist()
    val calNeg = scored.filter(col("grp") === "cal" && col("y") === 0)
    val nNeg = calNeg.agg(count(lit(1)).as("n_cal_neg"))
    // k-th largest via the distinct-score grain: the window sorts one row
    // per distinct score, never one per calibration row
    val grain = calNeg.groupBy("score").agg(count(lit(1)).as("c"))
    val wv = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val thr = grain
      .withColumn("cb", coalesce(sum("c").over(wv), lit(0L)))
      .crossJoin(broadcast(nNeg))
      .withColumn("k", expr(s"($ConfAlphaPct * (n_cal_neg + 1)) div 100"))
      .filter(col("cb") < col("k") && col("k") <= col("cb") + col("c"))
      .select(col("score").as("thresh"), col("n_cal_neg"))
    scored.filter(col("grp") === "test")
      .crossJoin(broadcast(thr))
      .agg(
        first("n_cal_neg").as("n_cal_neg"), first("thresh").as("thresh"),
        sum(when(col("y") === 0, 1L).otherwise(0L)).as("n_test_neg"),
        sum(when(col("y") === 1, 1L).otherwise(0L)).as("n_test_pos"),
        sum(when(col("y") === 0 && col("score") > col("thresh"), 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("y") === 1 && col("score") > col("thresh"), 1L)
          .otherwise(0L)).as("tp"))
      .select(lit(ConfAlphaPct.toLong).as("alpha_pct"),
        col("n_cal_neg"), col("thresh"), col("n_test_neg"), col("n_test_pos"),
        col("fp"), col("tp"),
        expr("(1000000 * fp) div n_test_neg").as("fpr_micros"),
        expr("(1000000 * tp) div n_test_pos").as("tpr_micros"))
  }

  // --- McNemar's paired test (which quality gate is better?) ------------------
  //
  // The statistically honest way to compare two classifiers evaluated
  // on the SAME documents: unpaired accuracy deltas double-count the
  // shared easy cases, McNemar looks only at the DISCORDANT pairs —
  // b = docs the probe gets right and the length gate wrong, c = the
  // reverse; the test statistic (b−c)²/(b+c) is chi-square(1) under
  // the no-difference null. Here: classifier A = the in-engine linear
  // probe thresholded at its rank-picked median score (at 100 TB the
  // median swaps for approx_percentile, the q_mad_outliers note),
  // classifier B = the q_wilson_ci length gate, truth = the probe
  // family's seed label. Every count is an exact BIGINT; the statistic
  // fix-points at 1e6.

  private def qMcnemar(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sc0 = probeScores(s, dir).persist()
    val nN = sc0.agg(count(lit(1))).head.getLong(0)
    val tau = sc0
      .withColumn("rk", row_number().over(
        Window.orderBy(col("score"), col("doc_id"))))
      .filter(col("rk") === lit((nN + 1) / 2))
      .select(col("score").as("tau"))
    sc0.crossJoin(broadcast(tau))
      .join(t(s, dir, "documents").select("doc_id", "n_chars"), "doc_id")
      .withColumn("pa", (col("score") > col("tau")).cast("long"))
      .withColumn("pb", col("n_chars").between(120, 2000).cast("long"))
      .withColumn("aok", (col("pa") === col("y")).cast("long"))
      .withColumn("bok", (col("pb") === col("y")).cast("long"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("aok") === 1 && col("bok") === 0, 1L).otherwise(0L)).as("b"),
        sum(when(col("aok") === 0 && col("bok") === 1, 1L).otherwise(0L)).as("c"),
        sum(when(col("aok") === 1 && col("bok") === 1, 1L).otherwise(0L))
          .as("both_ok"))
      .withColumn("stat_fp", expr(
        "CASE WHEN b + c > 0 THEN ((b - c) * (b - c) * 1000000L) div (b + c) ELSE 0L END"))
  }

  private val qMcnemarSql =
    s"""WITH $ProbeCtes,
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM scores),
       |tau AS (
       |  SELECT score AS tau FROM (
       |    SELECT score, row_number() OVER (ORDER BY score, doc_id) AS rk
       |    FROM scores)
       |  WHERE rk = (SELECT (n + 1) // 2 FROM nn)),
       |d AS (
       |  SELECT s.doc_id, s.y,
       |    CASE WHEN s.score > (SELECT tau FROM tau) THEN 1 ELSE 0 END AS pa,
       |    CASE WHEN doc.n_chars BETWEEN 120 AND 2000 THEN 1 ELSE 0 END AS pb
       |  FROM scores s JOIN documents doc ON s.doc_id = doc.doc_id),
       |ag AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END) AS BIGINT) AS b,
       |    CAST(sum(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END) AS BIGINT) AS c,
       |    CAST(sum(CASE WHEN pa = y AND pb = y THEN 1 ELSE 0 END) AS BIGINT)
       |      AS both_ok
       |  FROM d)
       |SELECT n, b, c, both_ok,
       |  CAST(CASE WHEN b + c > 0
       |    THEN ((b - c) * (b - c) * 1000000) // (b + c) ELSE 0 END AS BIGINT)
       |    AS stat_fp
       |FROM ag""".stripMargin

  private val qConformalSql =
    s"""WITH $ProbeCtes,
       |sp AS (
       |  SELECT doc_id, y, score,
       |    CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       |      % 100 < 50 THEN 'cal' ELSE 'test' END AS grp
       |  FROM scores),
       |cn AS (SELECT doc_id, score FROM sp WHERE grp = 'cal' AND y = 0),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_cal_neg FROM cn),
       |th AS (
       |  SELECT r.score AS thresh, nn.n_cal_neg FROM (
       |    SELECT score,
       |      CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rk
       |    FROM cn) r, nn
       |  WHERE r.rk = ($ConfAlphaPct * (nn.n_cal_neg + 1)) // 100),
       |ag AS (
       |  SELECT any_value(th.n_cal_neg) AS n_cal_neg,
       |    any_value(th.thresh) AS thresh,
       |    CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_test_neg,
       |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_test_pos,
       |    CAST(sum(CASE WHEN y = 0 AND score > th.thresh THEN 1 ELSE 0 END)
       |      AS BIGINT) AS fp,
       |    CAST(sum(CASE WHEN y = 1 AND score > th.thresh THEN 1 ELSE 0 END)
       |      AS BIGINT) AS tp
       |  FROM sp, th WHERE grp = 'test')
       |SELECT CAST($ConfAlphaPct AS BIGINT) AS alpha_pct, n_cal_neg, thresh,
       |  n_test_neg, n_test_pos, fp, tp,
       |  (1000000 * fp) // n_test_neg AS fpr_micros,
       |  (1000000 * tp) // n_test_pos AS tpr_micros
       |FROM ag""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bpe_encode" -> (qBpeEncode _),
    "q_tfidf_keywords" -> (qTfidfKeywords _),
    "q_correlation" -> (qCorrelation _),
    "q_linear_probe" -> (qLinearProbe _),
    "q_probe_auc" -> (qProbeAuc _),
    "q_bpe_merges" -> (qBpeMerges _),
    "q_fuzzy_match" -> (qFuzzyMatch _),
    "q_gopher_rules" -> (qGopherRules _),
    "q_paragraph_dedup" -> (qParagraphDedup _),
    "q_common_substring" -> (qCommonSubstring _),
    "q_ngram_diversity" -> (qNgramDiversity _),
    "q_collocations" -> (qCollocations _),
    "q_semdedup" -> (qSemDedup _),
    "q_weighted_sample" -> (qWeightedSample _),
    "q_lm_score" -> (qLmScore _),
    "q_incr_stats" -> (qIncrStats _),
    "q_data_checks" -> (qDataChecks _),
    "q_norm_dedup" -> (qNormDedup _),
    "q_source_divergence" -> (qSourceDivergence _),
    "q_vocab_coverage" -> (qVocabCoverage _),
    "q_probe_calibration" -> (qProbeCalibration _),
    "q_conformal" -> (qConformal _),
    "q_mcnemar" -> (qMcnemar _))

  val oracles: Map[String, String] = Map(
    "q_bpe_encode" -> qBpeEncodeSql,
    "q_tfidf_keywords" -> qTfidfKeywordsSql,
    "q_correlation" -> qCorrelationSql,
    "q_linear_probe" -> qLinearProbeSql,
    "q_probe_auc" -> qProbeAucSql,
    "q_bpe_merges" -> qBpeMergesSql,
    "q_fuzzy_match" -> qFuzzyMatchSql,
    "q_gopher_rules" -> qGopherRulesSql,
    "q_paragraph_dedup" -> qParagraphDedupSql,
    "q_common_substring" -> qCommonSubstringSql,
    "q_ngram_diversity" -> qNgramDiversitySql,
    "q_collocations" -> qCollocationsSql,
    "q_semdedup" -> qSemDedupSql,
    "q_weighted_sample" -> qWeightedSampleSql,
    "q_lm_score" -> qLmScoreSql,
    "q_incr_stats" -> qIncrStatsSql,
    "q_data_checks" -> qDataChecksSql,
    "q_norm_dedup" -> qNormDedupSql,
    "q_source_divergence" -> qSourceDivergenceSql,
    "q_vocab_coverage" -> qVocabCoverageSql,
    "q_probe_calibration" -> qProbeCalibrationSql,
    "q_conformal" -> qConformalSql,
    "q_mcnemar" -> qMcnemarSql)
}
