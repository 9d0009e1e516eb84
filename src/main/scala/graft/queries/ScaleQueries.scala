package graft.queries

import graft.queries.BatteryHelpers.{sqL2Long, sqL2LongSql}
import graft.queries.Tables.t
import graft.queries.TrainingDataQueries.{FpCte, bandCollisions,
  embFixed, lshJoinSql, lshPairDistsCtes, lshPairsCte}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-infrastructure operators: the clustering, layout, and reporting
  * primitives a 100 TB corpus build runs around the curation core —
  * each one a Catalyst-only plan with an exact DuckDB oracle twin.
  *
  * Scale notes (tested at sf, designed for 100 TB):
  *  - `q_grouping_sets` computes all requested subtotal grains in ONE
  *    pass (Spark expands grouping sets inside a single hash aggregate —
  *    no per-grain rescan of the corpus);
  *  - `q_winnowing` is linear in characters: one narrow k-gram explode,
  *    one per-doc window (partitioned — never a global sort), one
  *    hash-keyed self-join on the fingerprint digest (RefinedWeb-style
  *    df-join, skew bounded by the most-shared fingerprint);
  *  - `q_kmeans` is the canonical distributed Lloyd step: the k-row
  *    centroid table BROADCASTS (the corpus never moves), assignment is
  *    a map-side argmin, and the centroid update is a (cluster, dim)
  *    partial-agg — integer/fixed-point throughout so results are
  *    bit-identical cross-engine AND order-immune across partitionings;
  *  - `q_url_canonical` is a narrow projection (Spark's codegen'd
  *    `parse_url`) into one domain-keyed partial agg.
  *
  * Floats follow the repo's cross-engine discipline (see
  * [[graft.queries.Rounding]]): fixed-point integers for anything summed
  * across rows, `Rounding.r` on every reported double.
  */
object ScaleQueries {

  // --- grouping-sets subtotal report (one-pass multi-grain rollup) ----------
  //
  // The corpus-reporting grain trio (lang × source, lang, source) as ONE
  // aggregate via GROUPING SETS — distinct from q_cube/q_rollup, which
  // compute the full lattice/prefix chain; here the grains are an
  // arbitrary subset (the grand total deliberately excluded) and
  // `grouping_id()` disambiguates subtotal rows from real 'ALL' groups.

  private def qGroupingSets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupingSets(
        Seq(Seq(col("lang"), col("source")), Seq(col("lang")), Seq(col("source"))),
        col("lang"), col("source"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
      .select(coalesce(col("lang"), lit("ALL")).as("lang"),
        coalesce(col("source"), lit("ALL")).as("source"),
        col("gid"), col("n_docs"), col("chars"))
      .orderBy("gid", "lang", "source")

  private val qGroupingSetsSql =
    """SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
      |  CAST(GROUPING(lang, source) AS BIGINT) AS gid,
      |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM documents
      |GROUP BY GROUPING SETS ((lang, source), (lang), (source))
      |ORDER BY gid, lang, source""".stripMargin

  // --- winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003) --------------
  //
  // The MOSS document-fingerprinting scheme: hash every character k-gram,
  // slide a window of w consecutive hashes, keep the MINIMUM of each
  // window (rightmost on ties — the "robust" variant), dedupe the kept
  // (hash, position) pairs. Guarantees any shared substring of length
  // ≥ k + w − 1 yields at least one shared fingerprint — the exact-match
  // detector between q_doc_fingerprint's single min-hash and q_dup_spans'
  // full span table. The rightmost-tie argmin travels as ONE integer key
  // (hash·2²¹ + (2²⁰−1 − pos)) so both engines pick the identical
  // fingerprint without struct-ordering semantics. The synthetic corpus
  // has no natural shared substrings, so a deterministic footer is
  // appended to every 7th doc in BOTH engines (the q_paragraph_dedup
  // enrichment discipline) to exercise cross-doc sharing.

  private val WinnowFooter =
    "shared boilerplate span planted for winnowing overlap detection"
  private val WinK = 8 // k-gram length (chars)
  private val WinW = 4 // winnowing window (hashes)

  private def qWinnowing(s: SparkSession, dir: String): DataFrame = {
    // fingerprinting rides the fused graft_winnow expression — the
    // relational form (k-gram explode → window min → distinct) is
    // spec-pinned set-equal per document (WinnowExprParitySpec) and the
    // DuckDB oracle still runs it; this side computes each document's
    // distinct fingerprint keys in ONE codegen'd pass, so the corpus
    // never explodes to the k-gram grain and the window + distinct
    // shuffles disappear
    graft.functions.GraftFunctions.register(s)
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        concat(substring(lower(col("text")), 1, 384),
          when(pmod(col("doc_id"), lit(7)) === 0, lit(" " + WinnowFooter))
            .otherwise(lit(""))).as("s"))
      .filter(length(col("s")) >= WinK + WinW - 1)
    val fps = docs
      .select(col("doc_id"), explode(expr("graft_winnow(s)")).as("wkey"))
      .select(col("doc_id"), expr("wkey div 2097152").as("h"),
        (lit(1048575L) - col("wkey") % lit(2097152L)).as("fpos"))
      .persist()
    val byH = fps.groupBy("h").agg(countDistinct("doc_id").as("ndocs"))
    fps.join(byH, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fp"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_fp"), col("n_shared"),
        Rounding.r(col("n_shared") / col("n_fp").cast("double"), 4).as("share_frac"))
      .orderBy("doc_id")
  }

  private val qWinnowingSql =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    substr(lower(text), 1, 384) ||
       |      CASE WHEN doc_id % 7 = 0 THEN ' $WinnowFooter' ELSE '' END AS s
       |  FROM documents),
       |dd AS (SELECT doc_id, s FROM d WHERE len(s) >= ${WinK + WinW - 1}),
       |kg AS (
       |  SELECT doc_id, len(s) - ${WinK - 1} AS ng, u.pos AS pos,
       |    ('0x' || substr(md5(u.kg), 1, 10))::BIGINT AS h
       |  FROM (
       |    SELECT doc_id, s,
       |      unnest(list_transform(generate_series(1, len(s) - ${WinK - 1}),
       |        i -> {'pos': i, 'kg': substr(s, i, $WinK)})) AS u
       |    FROM dd) x),
       |wm AS (
       |  SELECT doc_id, ng, pos,
       |    min(h * 2097152 + (1048575 - pos)) OVER (
       |      PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND ${WinW - 1} FOLLOWING) AS wkey
       |  FROM kg),
       |fp AS (
       |  SELECT DISTINCT doc_id, wkey // 2097152 AS h,
       |    1048575 - (wkey % 2097152) AS fpos
       |  FROM wm WHERE pos <= ng - ${WinW - 1}),
       |byh AS (SELECT h, count(DISTINCT doc_id) AS ndocs FROM fp GROUP BY 1)
       |SELECT f.doc_id, count(*) AS n_fp,
       |  CAST(sum(CASE WHEN b.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       |  ${Rounding.rSql("sum(CASE WHEN b.ndocs >= 2 THEN 1 ELSE 0 END) / count(*)::DOUBLE", 4)} AS share_frac
       |FROM fp f JOIN byh b ON f.h = b.h
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- distributed k-means (two Lloyd iterations, fixed-point exact) --------
  //
  // The canonical Spark clustering workload, shaped the way it scales:
  // the k-row centroid table broadcasts into a map-side argmin (the
  // corpus never shuffles for assignment), the update is a
  // (cluster, dim)-keyed partial agg, and TWO full Lloyd iterations run
  // unrolled so the oracle can mirror them as chained CTEs. Everything
  // that crosses rows is INTEGER: coordinates fix-point at 2^20 (exact —
  // a float's 24-bit mantissa times 2^20 is an exact double), squared-L2
  // distances are exact BIGINTs, the argmin travels as dist·16 + cid so
  // ties break to the lowest cluster id in both engines, and the
  // centroid mean is floor(sum/n) on doubles well under 2^53. Init is
  // the k lowest md5(vec_id) vectors — deterministic, order-immune,
  // uniformly spread.

  private val KmK = 8

  private def kmAssign(fp: DataFrame, cents: DataFrame): DataFrame =
    fp.crossJoin(broadcast(cents))
      .withColumn("dist", sqL2Long("x", "c"))
      .groupBy("vec_id")
      .agg(min(col("dist") * lit(16L) + col("cid")).as("key"))
      .select(col("vec_id"), expr("key div 16").as("dist"),
        (col("key") % 16).cast("long").as("cid"))

  private def kmUpdate(assigned: DataFrame, fp: DataFrame): DataFrame =
    assigned.join(fp, "vec_id")
      .select(col("cid"), posexplode(col("x")).as(Seq("dim", "v")))
      .groupBy("cid", "dim")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .withColumn("mfp", floor(col("sv").cast("double") / col("n")).cast("long"))
      .groupBy("cid")
      .agg(expr("transform(array_sort(collect_list(struct(dim, mfp))), t -> t.mfp)").as("c"))

  /** One seeded Lloyd step: md5-lowest-k init → assign → update. The
    * shared centroid table for q_kmeans and the silhouette audit.
    */
  private def kmCentroids(fp: DataFrame): DataFrame = {
    val seed = fp
      .withColumn("m", md5(col("vec_id").cast("string")))
      .orderBy("m", "vec_id").limit(KmK)
    val c1 = seed
      .withColumn("cid",
        (row_number().over(Window.orderBy("m", "vec_id")) - 1).cast("long"))
      .select(col("cid"), col("x").as("c"))
    kmUpdate(kmAssign(fp, c1), fp)
  }

  private def qKmeans(s: SparkSession, dir: String): DataFrame = {
    // persisted: the fixed-point projection feeds init + both assignment
    // passes + the centroid update
    val fp = embFixed(s, dir).persist()
    val c2 = kmCentroids(fp)
    val a2 = kmAssign(fp, c2)
    val cl1 = c2.select(col("cid"),
      expr("aggregate(c, 0L, (acc, v) -> acc + abs(v))").as("c_l1"))
    a2.groupBy("cid")
      .agg(count(lit(1)).as("n_vecs"), sum("dist").as("inertia"))
      .join(broadcast(cl1), "cid")
      .select(col("cid").as("cluster"), col("n_vecs"), col("inertia"), col("c_l1"))
      .orderBy("cluster")
  }

  /** The shared CTE chain ending at the `c2` centroid table — prefix of
    * q_kmeans and the silhouette audit's oracle.
    */
  private val KmCentroidCtes =
    s"""$FpCte,
       |sd AS (
       |  SELECT vec_id, x FROM fp
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $KmK),
       |c1 AS (
       |  SELECT CAST(row_number() OVER (
       |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) - 1 AS cid,
       |    x AS c
       |  FROM sd),
       |a1 AS (
       |  SELECT f.vec_id,
       |    min(${sqL2LongSql("f.x", "c.c")} * 16 + c.cid) AS key
       |  FROM fp f CROSS JOIN c1 c GROUP BY 1),
       |a1d AS (SELECT vec_id, key // 16 AS dist, key % 16 AS cid FROM a1),
       |ex AS (
       |  SELECT cid, u.dim AS dim, u.v AS v
       |  FROM (
       |    SELECT a.cid,
       |      unnest(list_transform(generate_series(1, len(f.x)),
       |        i -> {'dim': i, 'v': f.x[i]})) AS u
       |    FROM a1d a JOIN fp f ON a.vec_id = f.vec_id) z),
       |cm AS (
       |  SELECT cid, dim,
       |    CAST(floor(sum(v)::DOUBLE / count(*)) AS BIGINT) AS mfp
       |  FROM ex GROUP BY 1, 2),
       |c2 AS (SELECT cid, list(mfp ORDER BY dim) AS c FROM cm GROUP BY 1)""".stripMargin

  private val qKmeansSql =
    s"""WITH $KmCentroidCtes,
       |a2 AS (
       |  SELECT f.vec_id,
       |    min(${sqL2LongSql("f.x", "c.c")} * 16 + c.cid) AS key
       |  FROM fp f CROSS JOIN c2 c GROUP BY 1),
       |a2d AS (SELECT vec_id, key // 16 AS dist, key % 16 AS cid FROM a2),
       |l1 AS (
       |  SELECT cid,
       |    CAST(list_sum(list_transform(c, v -> abs(v))) AS BIGINT) AS c_l1
       |  FROM c2)
       |SELECT a.cid AS cluster, count(*) AS n_vecs,
       |  CAST(sum(a.dist) AS BIGINT) AS inertia, CAST(max(l.c_l1) AS BIGINT) AS c_l1
       |FROM a2d a JOIN l1 l ON a.cid = l.cid
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- centroid silhouette (internal cluster quality) -------------------------
  //
  // The label-free complement to q_cluster_eval's external Rand/ARI: for
  // each vector, a = squared distance to its OWN centroid, b = min
  // squared distance to any OTHER centroid, s = (b − a)/max(a, b) — the
  // centroid (simplified) silhouette on squared distances, the O(N·k)
  // variant every large-scale pipeline uses instead of the O(N²)
  // pairwise original (full silhouette at 100 TB is a non-starter; the
  // centroid form needs only the SAME broadcast-centroid pass k-means
  // already runs). a and b are exact BIGINTs on the shared k-means
  // centroid table; each s is one IEEE division, per-cluster means go
  // through the fixed-point-sum discipline so partitioning can't move a
  // tie. A cluster everyone sits deep inside → s near 1; overlapping
  // centroids → s near 0 or negative.

  private def qSilhouette(s: SparkSession, dir: String): DataFrame = {
    val fp = embFixed(s, dir).persist()
    val c2 = kmCentroids(fp)
    // persisted: the per-(vec, centroid) distance table feeds both the
    // own-cluster argmin and the other-cluster min
    val dists = fp.crossJoin(broadcast(c2))
      .withColumn("d", sqL2Long("x", "c"))
      .select("vec_id", "cid", "d").persist()
    val own = dists.groupBy("vec_id")
      .agg(min(col("d") * lit(16L) + col("cid")).as("key"))
      .select(col("vec_id"), expr("key div 16").as("a"),
        (col("key") % 16).cast("long").as("own"))
    val other = dists.join(own, "vec_id").filter(col("cid") =!= col("own"))
      .groupBy("vec_id").agg(min("d").as("b"))
    val sil = own.join(other, "vec_id")
      .withColumn("sc",
        when(greatest(col("a"), col("b")) === 0L, lit(0.0))
          .otherwise((col("b") - col("a")).cast("double") /
            greatest(col("a"), col("b")).cast("double")))
    sil.groupBy("own")
      .agg(count(lit(1)).as("n_vecs"), Rounding.fpSum(col("sc"), 1e6).as("ssum"))
      .select(col("own").as("cluster"), col("n_vecs"),
        Rounding.r(col("ssum") / col("n_vecs"), 6).as("mean_sil"))
      .orderBy("cluster")
  }

  private val qSilhouetteSql =
    s"""WITH $KmCentroidCtes,
       |dd AS (
       |  SELECT f.vec_id, c.cid,
       |    ${sqL2LongSql("f.x", "c.c")} AS d
       |  FROM fp f CROSS JOIN c2 c),
       |onk AS (SELECT vec_id, min(d * 16 + cid) AS key FROM dd GROUP BY 1),
       |ow AS (SELECT vec_id, key // 16 AS a, key % 16 AS own FROM onk),
       |ot AS (
       |  SELECT dd.vec_id, min(d) AS b
       |  FROM dd JOIN ow ON dd.vec_id = ow.vec_id AND dd.cid <> ow.own
       |  GROUP BY 1),
       |sc AS (
       |  SELECT ow.own,
       |    CASE WHEN greatest(a, b) = 0 THEN 0.0
       |      ELSE (b - a)::DOUBLE / greatest(a, b)::DOUBLE END AS sc
       |  FROM ow JOIN ot USING (vec_id)),
       |ag AS (
       |  SELECT own, CAST(count(*) AS BIGINT) AS n_vecs,
       |    ${Rounding.fpSumSql("sc", "1e6")} AS ssum
       |  FROM sc GROUP BY 1)
       |SELECT CAST(own AS BIGINT) AS cluster, n_vecs,
       |  ${Rounding.rSql("ssum / n_vecs", 6)} AS mean_sil
       |FROM ag ORDER BY 1""".stripMargin

  // --- Gonzalez farthest-point k-center coreset selection --------------------
  //
  // Diversity-maximizing coreset selection (Gonzalez 1985, the 2-approx
  // for k-center — the farthest-point traversal data-selection recipes
  // build on): seed with the lowest-md5 vector, then k−1 rounds of "add
  // the point farthest from the chosen set". Each round is one BROADCAST
  // of the ≤k-row center table, one narrow min-distance projection over
  // the corpus, and two one-row aggregates (global max distance, then
  // min vec_id at that max — an exact deterministic argmax with no
  // window and no sort). Total cost = k corpus passes, each map-side;
  // the corpus never shuffles. Distances are fixed-point-integer L2
  // (the q_kmeans discipline) so the selected set, the assignment, and
  // every reported number are bit-identical in DuckDB's unrolled-CTE
  // twin. At 100 TB: k passes over a cached/columnar corpus with a
  // broadcast per pass — the same shape Spark MLlib's KMeans|| init
  // uses, minus its sampling nondeterminism.

  private val KcK = 4

  private def kcMinDist(fp: DataFrame, cents: DataFrame): DataFrame =
    fp.crossJoin(broadcast(cents))
      .withColumn("d", sqL2Long("x", "c"))
      .groupBy("vec_id").agg(min("d").as("mind"))

  private def qKcenter(s: SparkSession, dir: String): DataFrame = {
    val fp = embFixed(s, dir).persist()
    var centers = fp
      .withColumn("m", md5(col("vec_id").cast("string")))
      .orderBy("m", "vec_id").limit(1)
      .select(lit(0L).as("cid"), col("vec_id").as("cvec"), col("x").as("c"))
      .localCheckpoint(true)
    (1 until KcK).foreach { r =>
      val md = kcMinDist(fp, centers)
      val far = md.agg(max("mind").as("mx"))
      val nxt = md.join(broadcast(far), md("mind") === far("mx"))
        .agg(min("vec_id").as("nvec"))
      val newc = fp.join(broadcast(nxt), fp("vec_id") === nxt("nvec"))
        .select(lit(r.toLong).as("cid"), col("vec_id").as("cvec"), col("x").as("c"))
      centers = centers.unionByName(newc).localCheckpoint(true)
    }
    // final assignment: nearest center, ties to the earliest-selected cid
    val assigned = fp.crossJoin(broadcast(centers))
      .withColumn("d", sqL2Long("x", "c"))
      .groupBy("vec_id")
      .agg(min(col("d") * lit(16L) + col("cid")).as("key"))
      .select(col("vec_id"), expr("key div 16").as("dist"),
        (col("key") % 16).cast("long").as("cid"))
    assigned.groupBy("cid")
      .agg(count(lit(1)).as("n_vecs"), max("dist").as("radius"))
      .join(broadcast(centers.select(col("cid"), col("cvec"))), "cid")
      .select(col("cid").as("cluster"), col("cvec").as("center_vec"),
        col("n_vecs"), col("radius"))
      .orderBy("cluster")
  }

  private val qKcenterSql = {
    val dist = sqL2LongSql("f.x", "c.c")
    def round(i: Int): String =
      s"""d$i AS (
         |  SELECT f.vec_id, min($dist) AS mind
         |  FROM fp f CROSS JOIN cs${i - 1} c GROUP BY 1),
         |n$i AS (
         |  SELECT min(vec_id) AS nvec FROM d$i
         |  WHERE mind = (SELECT max(mind) FROM d$i)),
         |c$i AS (
         |  SELECT CAST($i AS BIGINT) AS cid, vec_id AS cvec, x AS c
         |  FROM fp WHERE vec_id = (SELECT nvec FROM n$i)),
         |cs$i AS (SELECT * FROM cs${i - 1} UNION ALL SELECT * FROM c$i)""".stripMargin
    s"""WITH $FpCte,
       |cs0 AS (
       |  SELECT CAST(0 AS BIGINT) AS cid, vec_id AS cvec, x AS c FROM fp
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1),
       |${(1 until KcK).map(round).mkString(",\n")},
       |a AS (
       |  SELECT f.vec_id, min($dist * 16 + c.cid) AS key
       |  FROM fp f CROSS JOIN cs${KcK - 1} c GROUP BY 1),
       |ad AS (SELECT vec_id, key // 16 AS dist, key % 16 AS cid FROM a),
       |st AS (
       |  SELECT cid, count(*) AS n_vecs, CAST(max(dist) AS BIGINT) AS radius
       |  FROM ad GROUP BY 1)
       |SELECT s.cid AS cluster, CAST(c.cvec AS BIGINT) AS center_vec,
       |  s.n_vecs, s.radius
       |FROM st s JOIN cs${KcK - 1} c ON s.cid = c.cid
       |ORDER BY 1""".stripMargin
  }

  // --- URL canonicalization + per-domain dedup rollup ------------------------
  //
  // The web-crawl hygiene op every corpus build runs before content
  // dedup: canonicalize each document URL (lowercase host, strip the
  // `www.` prefix, drop `utm_*` tracking params, drop the fragment) and
  // measure per-domain URL duplication. URLs are synthesized
  // deterministically from (doc_id, source, lang) in BOTH engines — the
  // q_pii_scrub enrichment discipline — with collisions planted via the
  // `doc_id % 400` path bucket. Spark side rides the codegen'd native
  // `parse_url` expression; one narrow projection, one domain-keyed agg.

  private def qUrlCanonical(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("url", concat(
        lit("https://"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("www.")).otherwise(lit("")),
        col("source"), lit(".example.org/"), col("lang"), lit("/item/"),
        (col("doc_id") % 400).cast("string"),
        when(pmod(col("doc_id"), lit(2)) === 0,
          concat(lit("?uid="), (col("doc_id") % 13).cast("string"),
            lit("&utm_source=share"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5)) === 0, lit("#section-2")).otherwise(lit(""))))
      .withColumn("host", parse_url(col("url"), lit("HOST")))
      .withColumn("path", parse_url(col("url"), lit("PATH")))
      .withColumn("q", coalesce(parse_url(col("url"), lit("QUERY")), lit("")))
      .withColumn("domain", regexp_replace(col("host"), "^www\\.", ""))
      .withColumn("kept", array_join(
        filter(split(col("q"), "&"), p => !p.startsWith("utm_") && p =!= ""), "&"))
      .withColumn("canon", concat(col("domain"), col("path"),
        when(col("kept") =!= "", concat(lit("?"), col("kept"))).otherwise(lit(""))))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_urls"),
        countDistinct("canon").as("n_canonical"),
        sum(when(col("q").contains("utm_"), 1L).otherwise(0L)).as("n_tracked"))
      .select(col("domain"), col("n_urls"), col("n_canonical"),
        (col("n_urls") - col("n_canonical")).as("n_dupes"), col("n_tracked"))
      .orderBy("domain")

  private val qUrlCanonicalSql =
    s"""WITH u AS (
       |  SELECT doc_id,
       |    'https://' ||
       |      CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END ||
       |      source || '.example.org/' || lang || '/item/' ||
       |      CAST(doc_id % 400 AS VARCHAR) ||
       |      CASE WHEN doc_id % 2 = 0
       |        THEN '?uid=' || CAST(doc_id % 13 AS VARCHAR) || '&utm_source=share'
       |        ELSE '' END ||
       |      CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END AS url
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, url,
       |    regexp_extract(url, '^https://([^/?#]+)', 1) AS host,
       |    regexp_extract(url, '^https://[^/?#]+([^?#]*)', 1) AS path,
       |    coalesce(regexp_extract(url, '\\?([^#]*)', 1), '') AS q
       |  FROM u),
       |c AS (
       |  SELECT doc_id, q,
       |    regexp_replace(host, '^www\\.', '') AS domain,
       |    regexp_replace(host, '^www\\.', '') || path ||
       |      CASE WHEN array_to_string(list_filter(string_split(q, '&'),
       |          x -> NOT regexp_matches(x, '^utm_') AND x <> ''), '&') <> ''
       |        THEN '?' || array_to_string(list_filter(string_split(q, '&'),
       |          x -> NOT regexp_matches(x, '^utm_') AND x <> ''), '&')
       |        ELSE '' END AS canon
       |  FROM p)
       |SELECT domain, count(*) AS n_urls,
       |  CAST(count(DISTINCT canon) AS BIGINT) AS n_canonical,
       |  count(*) - CAST(count(DISTINCT canon) AS BIGINT) AS n_dupes,
       |  CAST(sum(CASE WHEN q LIKE '%utm\\_%' ESCAPE '\\' THEN 1 ELSE 0 END) AS BIGINT) AS n_tracked
       |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  // --- Z-order (Morton) layout clustering ------------------------------------
  //
  // The data-layout primitive behind multi-dimensional data skipping
  // (Delta/Iceberg `OPTIMIZE ZORDER BY`): interleave the bits of two
  // clustering dimensions into one Morton key, chunk the key space into
  // file-sized buckets, and report each bucket's min/max range on BOTH
  // dimensions — narrow ranges on both axes are what lets a scan prune
  // files for 2-D predicates, where a plain sort clusters only its
  // leading column. Dimensions here: a saturated length bin
  // (min(n_chars div 2, 255) — real magnitude, real locality) and the
  // ingestion-sequence bin (doc_id mod 256). Everything is a pure
  // per-row projection (x, y, z, bucket) plus ONE aggregate — no global
  // sort, no window: at 100 TB the bucket column feeds
  // `repartitionByRange(z) + sortWithinPartitions(z)` at write time and
  // this min/max table IS the file-skipping index. `prunable_len` marks
  // the buckets a `len_bin BETWEEN 100 AND 140` scan would skip.

  private def qZorderLayout(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        least(expr("n_chars div 2"), lit(255L)).as("x"),
        (col("doc_id") % 256).cast("long").as("y"))
      .withColumn("z", expr(
        """aggregate(sequence(0, 7), 0L, (acc, j) ->
          |  acc + shiftleft(CAST(shiftright(x, j) & 1 AS BIGINT), 2 * j)
          |      + shiftleft(CAST(shiftright(y, j) & 1 AS BIGINT), 2 * j + 1))""".stripMargin))
      .withColumn("bucket", expr("z div 2048"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        min("x").as("min_x"), max("x").as("max_x"),
        min("y").as("min_y"), max("y").as("max_y"))
      .select(col("bucket"), col("n_docs"),
        col("min_x"), col("max_x"), col("min_y"), col("max_y"),
        (col("max_x") - col("min_x") + col("max_y") - col("min_y")).as("span"),
        when(col("max_x") < 100 || col("min_x") > 140, 1L).otherwise(0L)
          .as("prunable_len"))
      .orderBy("bucket")

  private val qZorderLayoutSql =
    """WITH d AS (
      |  SELECT doc_id, least(n_chars // 2, 255) AS x,
      |    CAST(doc_id % 256 AS BIGINT) AS y
      |  FROM documents),
      |zz AS (
      |  SELECT doc_id, x, y,
      |    CAST(list_sum(list_transform(generate_series(0, 7), j ->
      |      (((x >> j) & 1) << (2 * j)) + (((y >> j) & 1) << (2 * j + 1))))
      |      AS BIGINT) AS z
      |  FROM d)
      |SELECT z // 2048 AS bucket, count(*) AS n_docs,
      |  min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y,
      |  max(x) - min(x) + max(y) - min(y) AS span,
      |  CAST(CASE WHEN max(x) < 100 OR min(x) > 140 THEN 1 ELSE 0 END AS BIGINT)
      |    AS prunable_len
      |FROM zz GROUP BY 1 ORDER BY 1""".stripMargin

  // --- output-shard planning (write bin-packing) ------------------------------
  //
  // The write-sizing math every 100 TB job runs before its final
  // `partitionBy(source, lang)` sink: size each partition grain from its
  // byte total, derive the shard count as ceil(bytes / target) (the
  // `maxRecordsPerFile` / AQE-coalesce decision made explicit), spread
  // rows across shards by a content hash, and report planned fill +
  // skew. Shapes that scale: one partial-agg for the grain table (tiny —
  // one row per (source, lang)), a BROADCAST join back onto the corpus,
  // one (grain, shard)-keyed agg. No window, no sort until the final
  // tiny report.

  private val ShardTarget = 1024L // n_chars proxy-bytes per shard at test SF

  private def qShardPlan(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val grain = docs.groupBy("source", "lang")
      .agg(sum("n_chars").as("part_bytes"), count(lit(1)).as("n_docs"))
      .withColumn("n_shards",
        greatest(lit(1L), expr(s"(part_bytes + ${ShardTarget - 1}) div $ShardTarget")))
    val shards = docs.join(broadcast(grain), Seq("source", "lang"))
      .withColumn("h",
        conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10).cast("long"))
      .withColumn("shard", pmod(col("h"), col("n_shards")))
      .groupBy("source", "lang", "shard")
      .agg(sum("n_chars").as("shard_bytes"))
    shards.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_filled"),
        max("shard_bytes").as("max_shard"), min("shard_bytes").as("min_shard"))
      .join(broadcast(grain), Seq("source", "lang"))
      .select(col("source"), col("lang"), col("part_bytes"), col("n_docs"),
        col("n_shards"), col("n_filled"), col("max_shard"), col("min_shard"),
        Rounding.r(col("max_shard") * col("n_shards") / col("part_bytes").cast("double"), 4)
          .as("skew"))
      .orderBy("source", "lang")
  }

  private val qShardPlanSql =
    s"""WITH g AS (
       |  SELECT source, lang, CAST(sum(n_chars) AS BIGINT) AS part_bytes,
       |    count(*) AS n_docs,
       |    greatest(1, (CAST(sum(n_chars) AS BIGINT) + ${ShardTarget - 1}) // $ShardTarget)
       |      AS n_shards
       |  FROM documents GROUP BY 1, 2),
       |asg AS (
       |  SELECT d.source, d.lang, d.n_chars,
       |    ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6))::BIGINT % g.n_shards
       |      AS shard
       |  FROM documents d JOIN g USING (source, lang)),
       |sb AS (
       |  SELECT source, lang, shard, CAST(sum(n_chars) AS BIGINT) AS shard_bytes
       |  FROM asg GROUP BY 1, 2, 3),
       |f AS (
       |  SELECT source, lang, count(*) AS n_filled,
       |    max(shard_bytes) AS max_shard, min(shard_bytes) AS min_shard
       |  FROM sb GROUP BY 1, 2)
       |SELECT g.source, g.lang, g.part_bytes, g.n_docs, g.n_shards,
       |  f.n_filled, f.max_shard, f.min_shard,
       |  ${Rounding.rSql("f.max_shard * g.n_shards / g.part_bytes::DOUBLE", 4)} AS skew
       |FROM f JOIN g USING (source, lang)
       |ORDER BY 1, 2""".stripMargin

  // --- mutual kNN graph (reciprocal nearest neighbors) ------------------------
  //
  // The noise-robust neighborhood structure deduplication and clustering
  // pipelines build on top of ANN: a directed kNN edge survives only if
  // it is RECIPROCATED (a ∈ kNN(b) and b ∈ kNN(a)) — hub vectors that
  // appear in everyone's neighbor list but reciprocate almost none are
  // demoted, which is exactly the hubness pathology of high-dim spaces.
  // Candidates come from the same band-amplified LSH agreement join as
  // q_ann_lsh_bucket / q_embed_neardup (sub-quadratic: bucket count
  // scales with N), distances are exact fixed-point integer L2 on the
  // candidates only, and each vector's kNN is a window over ITS OWN
  // candidate set — bounded by bucket size × bands, never the corpus.
  // The mutuality test is then a self-join of the (tiny) directed kNN
  // edge table on the reversed key.

  private val MkK = 3

  private def qMutualKnn(s: SparkSession, dir: String): DataFrame = {
    // persisted: the b·r-hyperplane signature pass feeds both sides of
    // the candidate self-join
    val sigs = TrainingDataQueries.bandSigs(s, dir).persist()
    // fixed-point integer L2 (codegen'd graft_l2q): per-element
    // quantization is order-independent and the BIGINT sum is exact, so
    // both engines rank candidates identically (ties on id). Computed
    // per band-collision row so the pair-dedup shuffle moves 24 B/row
    // instead of the two 64-dim vectors.
    val pairs = bandCollisions(sigs)
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("dist", expr("graft_l2q(ea, eb)"))
      .groupBy("id_a", "id_b")
      .agg(first("dist").as("dist"))
      .select("id_a", "id_b", "dist")
    val w = Window.partitionBy("id_a").orderBy(col("dist"), col("id_b"))
    // persisted: the directed edge table feeds its own reversal join,
    // the per-vector base counts, and the mutual aggregation
    val knn = pairs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= MkK)
      .select("id_a", "id_b", "dist")
      .persist()
    val mutual = knn.as("f").join(
        knn.select(col("id_a").as("rb"), col("id_b").as("ra")),
        col("f.id_a") === col("ra") && col("f.id_b") === col("rb"))
      .select(col("f.id_a").as("id_a"), col("f.dist").as("dist"))
    val base = knn.groupBy("id_a").agg(count(lit(1)).as("n_knn"))
    val m = mutual.groupBy("id_a")
      .agg(count(lit(1)).as("n_mutual"), min("dist").as("md"))
    base.join(m, Seq("id_a"), "left")
      .select(col("id_a").as("vec_id"), col("n_knn"),
        coalesce(col("n_mutual"), lit(0L)).as("n_mutual"),
        coalesce(col("md"), lit(-1L)).as("nearest_mutual"))
      .orderBy("vec_id")
  }

  private val qMutualKnnSql =
    s"""WITH ${TrainingDataQueries.BandSigsCte},
       |${lshPairDistsCtes("pd", "<>")},
       |kn AS (
       |  SELECT id_a, id_b, dist,
       |    row_number() OVER (PARTITION BY id_a ORDER BY dist, id_b) AS rk
       |  FROM pd),
       |k AS (SELECT id_a, id_b, dist FROM kn WHERE rk <= $MkK),
       |mu AS (
       |  SELECT f.id_a, f.dist
       |  FROM k f JOIN k r ON f.id_a = r.id_b AND f.id_b = r.id_a),
       |bs AS (SELECT id_a, count(*) AS n_knn FROM k GROUP BY 1),
       |m AS (SELECT id_a, count(*) AS n_mutual, min(dist) AS md FROM mu GROUP BY 1)
       |SELECT bs.id_a AS vec_id, bs.n_knn,
       |  CAST(coalesce(m.n_mutual, 0) AS BIGINT) AS n_mutual,
       |  CAST(coalesce(m.md, -1) AS BIGINT) AS nearest_mutual
       |FROM bs LEFT JOIN m ON bs.id_a = m.id_a
       |ORDER BY 1""".stripMargin

  // --- DBSCAN core/border/noise clustering ------------------------------------
  //
  // The density-based clustering family (Ester et al. 1996) the
  // centroid methods can't replicate: clusters are maximal chains of
  // eps-close CORE points (≥ MinPts neighbors), BORDER points attach to
  // a neighboring core's cluster, the rest is NOISE — the natural
  // degrade-gracefully dedup-cluster model (no forced k, outliers stay
  // out). Scale shape: neighborhoods come from the band-amplified LSH
  // candidate join (sub-quadratic — documented recall caveat shared
  // with the whole LSH family), eps² is DATA-ADAPTIVE (the lowest-decile
  // candidate distance — an integer picked by rank, so both engines
  // agree exactly), core chaining reuses the battery's
  // pointer-jumping connected components seeded from EVERY core point
  // (isolated cores self-label), and border assignment is one
  // min-label join. Everything that crosses rows is an exact BIGINT.
  // Output: one row per cluster (n_core, n_other = border count) plus
  // the -1 row whose n_other is the NOISE count.

  private val DbMinPts = 3

  private def qDbscan(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val pairs = TrainingDataQueries.lshPairDists(s, dir).persist()
    val np = pairs.agg(count(lit(1)).as("np"))
    val eps = pairs.withColumn("rk", row_number().over(
        Window.orderBy(col("dist"), col("id_a"), col("id_b"))))
      .crossJoin(broadcast(np))
      .filter(col("rk") <= greatest(lit(1L), expr("np div 10")))
      .agg(max("dist").as("eps2"))
    val ep = pairs.crossJoin(broadcast(eps))
      .filter(col("dist") <= col("eps2"))
      .select("id_a", "id_b").persist()
    val nbr = ep.select(col("id_a").as("node"), col("id_b").as("nb"))
      .unionByName(ep.select(col("id_b").as("node"), col("id_a").as("nb")))
    val core = nbr.groupBy("node").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= DbMinPts).select("node").persist()
    val coreEdges = ep
      .join(core.select(col("node").as("id_a")), "id_a")
      .join(core.select(col("node").as("id_b")), "id_b")
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val cc = TrainingDataQueries.connectedComponents(coreEdges)
    val labels = cc.unionByName(
      core.join(cc.select("node"), Seq("node"), "left_anti")
        .select(col("node"), col("node").as("label")))
    val border = nbr
      .join(core.select(col("node").as("nb")), "nb")
      .join(core, Seq("node"), "left_anti")
      .join(labels.select(col("node").as("nb"), col("label")), "nb")
      .groupBy("node").agg(min("label").as("label"))
    val clusters = labels.select(col("label"), lit(1L).as("is_core"))
      .unionByName(border.select(col("label"), lit(0L).as("is_core")))
      .groupBy("label")
      .agg(sum(col("is_core")).as("n_core"),
        sum(lit(1L) - col("is_core")).as("n_other"))
      .select(col("label").as("cluster_rep"), col("n_core"), col("n_other"))
    val nv = t(s, dir, "embeddings").agg(count(lit(1)).as("nv"))
    val na = labels.select("node").unionByName(border.select("node"))
      .agg(count(lit(1)).as("na"))
    val noise = nv.crossJoin(broadcast(na))
      .select(lit(-1L).as("cluster_rep"), lit(0L).as("n_core"),
        (col("nv") - col("na")).as("n_other"))
    clusters.unionByName(noise).orderBy("cluster_rep")
  }

  private val qDbscanSql = {
    s"""WITH RECURSIVE ${TrainingDataQueries.BandSigsCte},
       |${lshPairDistsCtes("pd")},
       |np AS (SELECT CAST(count(*) AS BIGINT) AS np FROM pd),
       |rk AS (
       |  SELECT dist, row_number() OVER (ORDER BY dist, id_a, id_b) AS rk
       |  FROM pd),
       |ee AS (
       |  SELECT max(dist) AS eps2 FROM rk
       |  WHERE rk <= greatest(1, (SELECT np FROM np) // 10)),
       |ep AS (
       |  SELECT id_a, id_b FROM pd WHERE dist <= (SELECT eps2 FROM ee)),
       |nbr AS (
       |  SELECT id_a AS node, id_b AS nb FROM ep
       |  UNION ALL SELECT id_b, id_a FROM ep),
       |core AS (
       |  SELECT node FROM (SELECT node, count(*) AS deg FROM nbr GROUP BY 1) d
       |  WHERE deg >= $DbMinPts),
       |ce AS (
       |  SELECT e.id_a AS src, e.id_b AS dst
       |  FROM ep e JOIN core ca ON e.id_a = ca.node
       |  JOIN core cb ON e.id_b = cb.node),
       |sym AS (SELECT src, dst FROM ce UNION ALL SELECT dst, src FROM ce),
       |reach(node, lab) AS (
       |  SELECT node, node FROM core
       |  UNION
       |  SELECT sym.src, reach.lab FROM sym JOIN reach ON sym.dst = reach.node),
       |labels AS (SELECT node, min(lab) AS label FROM reach GROUP BY 1),
       |border AS (
       |  SELECT n.node, min(l.label) AS label
       |  FROM nbr n JOIN core c ON n.nb = c.node
       |  LEFT JOIN core c2 ON n.node = c2.node
       |  JOIN labels l ON n.nb = l.node
       |  WHERE c2.node IS NULL
       |  GROUP BY 1),
       |cl AS (
       |  SELECT label, CAST(sum(is_core) AS BIGINT) AS n_core,
       |    CAST(sum(1 - is_core) AS BIGINT) AS n_other
       |  FROM (SELECT label, 1 AS is_core FROM labels
       |    UNION ALL SELECT label, 0 FROM border) u
       |  GROUP BY 1),
       |nz AS (
       |  SELECT (SELECT count(*) FROM embeddings) -
       |    ((SELECT count(*) FROM labels) + (SELECT count(*) FROM border)) AS nn)
       |SELECT CAST(label AS BIGINT) AS cluster_rep, n_core, n_other FROM cl
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT), CAST(0 AS BIGINT), CAST(nn AS BIGINT) FROM nz
       |ORDER BY cluster_rep""".stripMargin
  }

  // --- 2-D skyline (Pareto front) ---------------------------------------------
  //
  // "Best documents" under two competing axes — length and vocabulary
  // richness — with no weighting: a doc survives iff NO other doc of the
  // same language is >= on both axes and > on one (classic dominance).
  // The naive skyline is an O(N²) self-join; this is the linear
  // sort-based form expressed relationally AND two-level for scale: a
  // LOCAL skyline per (lang, hash-bucket) prunes first — its windows
  // sort only a bucket, so no task ever owns a whole hot language —
  // then the same dominance test runs over the tiny survivor union,
  // partitioned by lang. The two-level form is exact: a globally
  // undominated point is undominated in its bucket, so the local pass
  // can only discard dominated points (skyline(∪ localskylines) =
  // skyline(all), the standard divide-and-conquer identity). A doc is
  // dominated iff some STRICTLY longer doc has vocab >= its own (one
  // RANGE window over x) or an equal-length doc has STRICTLY more
  // vocab (one x-grain max).

  private def skylineSurvivors(d: DataFrame, part: Seq[String]): DataFrame = {
    val wHigher = Window.partitionBy(part.map(col): _*).orderBy("x")
      .rangeBetween(1L, Window.unboundedFollowing)
    val wSameX = Window.partitionBy((part.map(col) :+ col("x")): _*)
    d.withColumn("m1", max("y").over(wHigher))
      .withColumn("m2", max("y").over(wSameX))
      .filter(col("y") > coalesce(col("m1"), lit(-1L)) && col("y") === col("m2"))
      .drop("m1", "m2")
  }

  private def qSkyline(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val d = t(s, dir, "documents")
      .select(col("lang"), col("doc_id"), col("n_chars").as("x"),
        size(array_distinct(call_function("graft_ws_tokens", col("text"))))
          .cast("long").as("y"))
      .withColumn("bucket", pmod(col("doc_id"), lit(8)))
    val local = skylineSurvivors(d, Seq("lang", "bucket"))
    skylineSurvivors(local, Seq("lang"))
      .select(col("lang"), col("doc_id"), col("x").as("len_chars"),
        col("y").as("n_vocab"))
      .orderBy("lang", "doc_id")
  }

  private val qSkylineSql =
    """WITH d AS (
      |  SELECT lang, doc_id, n_chars AS x,
      |    CAST(len(list_distinct(list_filter(
      |      string_split_regex(lower(text), '\s+'), t -> t <> ''))) AS BIGINT) AS y
      |  FROM documents),
      |w AS (
      |  SELECT lang, doc_id, x, y,
      |    max(y) OVER (PARTITION BY lang ORDER BY x
      |      RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS m1,
      |    max(y) OVER (PARTITION BY lang, x) AS m2
      |  FROM d)
      |SELECT lang, doc_id, x AS len_chars, y AS n_vocab
      |FROM w WHERE y > coalesce(m1, -1) AND y = m2
      |ORDER BY lang, doc_id""".stripMargin

  // --- skew-immune salted aggregation -----------------------------------------
  //
  // The two patterns that keep per-language aggregates alive when one
  // language is 90 % of a 100 TB corpus: (a) exact distinct counting as
  // a (lang, token) dedup grain — the distinct state spreads across the
  // token dimension and partial-aggregates map-side, where a
  // countDistinct would funnel every token of the hot language through
  // one reducer's hash set; (b) an explicit salt stage for the
  // algebraic sums — (lang, doc_id % 16) partials merge to lang — the
  // shape that remains when the combiner can't see enough rows per key.
  // The oracle is the DIRECT unsalted aggregate: salting must be
  // invisible in the result.

  private def qSaltedAgg(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val docs = t(s, dir, "documents")
    val vocab = docs
      .select(col("lang"),
        explode(call_function("graft_ws_tokens", col("text"))).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("c"))
      .groupBy("lang").agg(count(lit(1)).as("n_vocab"))
    val salted = docs
      .withColumn("salt", pmod(col("doc_id"), lit(16)))
      .groupBy("lang", "salt")
      .agg(sum("n_chars").as("pc"), count(lit(1)).as("pn"))
      .groupBy("lang")
      .agg(sum("pc").as("total_chars"), sum("pn").as("n_docs"))
    salted.join(vocab, Seq("lang")).orderBy("lang")
  }

  private val qSaltedAggSql =
    """WITH tk AS (
      |  SELECT lang,
      |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
      |      t -> t <> '')) AS tok
      |  FROM documents),
      |v AS (SELECT lang, CAST(count(DISTINCT tok) AS BIGINT) AS n_vocab
      |      FROM tk GROUP BY 1),
      |g AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |        count(*) AS n_docs
      |      FROM documents GROUP BY 1)
      |SELECT g.lang, g.total_chars, g.n_docs, v.n_vocab
      |FROM g JOIN v USING (lang) ORDER BY 1""".stripMargin

  // --- character-entropy quality filter ----------------------------------------
  //
  // Shannon entropy of the per-document character distribution — the
  // cheap detector for mojibake, repeated-character spam, and
  // binary-in-text garbage that length/stopword heuristics
  // (q_gopher_rules, q_quality_score) miss. Per-term fixed-point makes
  // it cross-engine exact: every (char, count) term rounds to an
  // integer microbit BEFORE the sum, so the BIGINT total is
  // order-immune across partitionings and the pass flag compares
  // integers, never floats. Per-doc grain with map-side partial aggs —
  // narrow at any corpus size.

  private def qEntropyFilter(s: SparkSession, dir: String): DataFrame = {
    // one narrow codegen'd projection (graft_char_entropy) — the
    // relational explode form multiplied the corpus by its character
    // count before two shuffles; EntropyExprParitySpec pins the
    // expression bit-equal to that form, so the DuckDB oracle (which
    // still runs the explode) is unchanged
    graft.functions.GraftFunctions.register(s)
    t(s, dir, "documents")
      .select(col("doc_id"), expr("graft_char_entropy(lower(text))").as("st"))
      .select(col("doc_id"), col("st")(0).as("n_chars_used"),
        col("st")(1).as("n_alphabet"),
        Rounding.r(col("st")(2) / lit(1e6), 4).as("entropy"),
        (col("st")(2) >= 2000000L).cast("int").as("pass"))
      .orderBy("doc_id")
  }

  private val qEntropyFilterSql =
    """WITH ch AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(lower(text))),
      |      i -> substr(lower(text), i, 1))) AS ch
      |  FROM documents),
      |cc AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
      |ag AS (
      |  SELECT doc_id, list(c) AS cs, CAST(sum(c) AS BIGINT) AS n,
      |    count(*) AS n_alphabet
      |  FROM cc GROUP BY 1),
      |h AS (
      |  SELECT doc_id, n AS n_chars_used, n_alphabet,
      |    CAST(list_sum(list_transform(cs, c ->
      |      CAST(floor((c::DOUBLE / n::DOUBLE) *
      |        log2(n::DOUBLE / c::DOUBLE) * 1e6 + 0.5) AS BIGINT)))
      |      AS BIGINT) AS hfp
      |  FROM ag)
      |SELECT doc_id, n_chars_used, n_alphabet,
      |  floor((hfp / 1e6) * 1e4 + 0.5) / 1e4 AS entropy,
      |  CAST(CASE WHEN hfp >= 2000000 THEN 1 ELSE 0 END AS INT) AS pass
      |FROM h ORDER BY 1""".stripMargin

  // --- two-sample Kolmogorov–Smirnov drift test ---------------------------------
  //
  // The distribution-shift detector between corpus slices: for each
  // language, the KS distance between its length distribution and the
  // rest of the corpus — max |ECDF_a − ECDF_b| over the merged support.
  // Exact and integer throughout: the ECDF difference at value v is
  // |cum_a·n_b − cum_b·n_a| (cross-multiplied — no float division until
  // the final report), with RANGE frames so ties in v include their
  // peers as a proper CDF step. Scale shape: counts collapse to the
  // (lang, value) grain FIRST (one partial agg — the "binned ECDF"
  // form), so the per-lang window runs over the tiny distinct-value
  // table, never the corpus; at 100 TB you'd bin values before this
  // query and nothing else changes.

  private def qKsTest(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val grain = d.groupBy(col("lang"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("a_c"))
    val tot = d.groupBy(col("n_chars").as("v")).agg(count(lit(1)).as("t_c"))
    val wCum = Window.partitionBy("lang").orderBy("v")
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val wLang = Window.partitionBy("lang")
    // complement counts at each support point: b_c = total at v − lang at v;
    // the lang list is a broadcast-sized dimension (5 rows)
    val langs = grain.select(col("lang")).distinct()
    val merged = tot.crossJoin(broadcast(langs))
      .join(grain, Seq("lang", "v"), "left")
      .select(col("lang"), col("v"),
        coalesce(col("a_c"), lit(0L)).as("a_c"),
        (col("t_c") - coalesce(col("a_c"), lit(0L))).as("b_c"))
    merged
      .withColumn("cum_a", sum("a_c").over(wCum))
      .withColumn("cum_b", sum("b_c").over(wCum))
      .withColumn("n_a", sum("a_c").over(wLang))
      .withColumn("n_b", sum("b_c").over(wLang))
      .groupBy("lang")
      .agg(first("n_a").as("n_a"), first("n_b").as("n_b"),
        max(abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
          .as("ks_num"))
      .select(col("lang"), col("n_a"), col("n_b"), col("ks_num"),
        Rounding.r(col("ks_num") / (col("n_a") * col("n_b")).cast("double"), 4)
          .as("ks"))
      .orderBy("lang")
  }

  private val qKsTestSql =
    """WITH g AS (
      |  SELECT lang, n_chars AS v, count(*) AS a_c
      |  FROM documents GROUP BY 1, 2),
      |tt AS (SELECT n_chars AS v, count(*) AS t_c FROM documents GROUP BY 1),
      |m AS (
      |  SELECT l.lang, tt.v,
      |    coalesce(g.a_c, 0) AS a_c, tt.t_c - coalesce(g.a_c, 0) AS b_c
      |  FROM (SELECT DISTINCT lang FROM g) l
      |  CROSS JOIN tt
      |  LEFT JOIN g ON g.lang = l.lang AND g.v = tt.v),
      |c AS (
      |  SELECT lang, v,
      |    sum(a_c) OVER (PARTITION BY lang ORDER BY v
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
      |    sum(b_c) OVER (PARTITION BY lang ORDER BY v
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b,
      |    sum(a_c) OVER (PARTITION BY lang) AS n_a,
      |    sum(b_c) OVER (PARTITION BY lang) AS n_b
      |  FROM m)
      |SELECT lang, CAST(max(n_a) AS BIGINT) AS n_a, CAST(max(n_b) AS BIGINT) AS n_b,
      |  CAST(max(abs(cum_a * n_b - cum_b * n_a)) AS BIGINT) AS ks_num,
      |  floor((max(abs(cum_a * n_b - cum_b * n_a)) /
      |    (max(n_a) * max(n_b))::DOUBLE) * 1e4 + 0.5) / 1e4 AS ks
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  // --- Poisson-bootstrap confidence intervals ------------------------------------
  //
  // THE bootstrap that works at 100 TB: classic resampling needs random
  // access to the corpus per replica; the Poisson bootstrap (Chamandy et
  // al., Google 2012) instead gives every row an independent
  // Poisson(1) weight per replica — ONE streaming pass computes all R
  // replicas as a (group, rep)-keyed partial agg. Weights are
  // deterministic here: u = md5(doc_id, rep)/2³², inverted through the
  // exact Poisson(1) CDF thresholds, so both engines draw the identical
  // resample and the CI itself is oracle-checked, not just its shape.
  // Replica means fix-point to integers before the rank step so the
  // 2nd-lowest/2nd-highest selection (a ~93 % interval at R=32) is
  // order-immune.

  private val BootReps = 32

  private def bootW(u: Column): Column =
    when(u < 0.36787944117144233, 0L)
      .when(u < 0.7357588823428847, 1L)
      .when(u < 0.9196986029286058, 2L)
      .when(u < 0.9810118431238462, 3L)
      .when(u < 0.9963401531726563, 4L)
      .when(u < 0.9994058151824183, 5L)
      .when(u < 0.9999167588507119, 6L)
      .otherwise(7L)

  private def qBootstrapCi(s: SparkSession, dir: String): DataFrame = {
    val reps = t(s, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"),
        explode(sequence(lit(0), lit(BootReps - 1))).as("rep"))
      .withColumn("u",
        conv(substring(md5(concat_ws("_", col("doc_id"), col("rep"))), 1, 8),
          16, 10).cast("long") / lit(4294967296.0))
      .withColumn("w", bootW(col("u")))
      .groupBy("source", "rep")
      .agg(sum(col("w") * col("n_chars")).as("ws"), sum("w").as("wn"))
      .withColumn("m_fp",
        when(col("wn") === 0, 0L).otherwise(
          floor(col("ws").cast("double") / col("wn").cast("double") * 1e4 + 0.5)
            .cast("long")))
    val wAsc = Window.partitionBy("source").orderBy(col("m_fp"), col("rep"))
    val wDesc = Window.partitionBy("source").orderBy(col("m_fp").desc, col("rep"))
    reps
      .withColumn("r_lo", row_number().over(wAsc))
      .withColumn("r_hi", row_number().over(wDesc))
      .groupBy("source")
      .agg(count(lit(1)).as("n_reps"),
        max(when(col("r_lo") === 2, col("m_fp"))).as("lo_fp"),
        max(when(col("r_hi") === 2, col("m_fp"))).as("hi_fp"),
        sum("m_fp").as("sum_fp"))
      .select(col("source"), col("n_reps"),
        (col("lo_fp") / lit(1e4)).as("boot_lo"),
        (col("hi_fp") / lit(1e4)).as("boot_hi"),
        Rounding.r(col("sum_fp") / lit(BootReps.toDouble) / lit(1e4), 4)
          .as("boot_mean"))
      .orderBy("source")
  }

  private val qBootstrapCiSql =
    s"""WITH r AS (
       |  SELECT source, doc_id, n_chars,
       |    unnest(generate_series(0, ${BootReps - 1})) AS rep
       |  FROM documents),
       |uw AS (
       |  SELECT source, rep, n_chars,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_' ||
       |      CAST(rep AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0 AS u
       |  FROM r),
       |w AS (
       |  SELECT source, rep, n_chars,
       |    CASE WHEN u < 0.36787944117144233 THEN 0
       |         WHEN u < 0.7357588823428847 THEN 1
       |         WHEN u < 0.9196986029286058 THEN 2
       |         WHEN u < 0.9810118431238462 THEN 3
       |         WHEN u < 0.9963401531726563 THEN 4
       |         WHEN u < 0.9994058151824183 THEN 5
       |         WHEN u < 0.9999167588507119 THEN 6
       |         ELSE 7 END AS w
       |  FROM uw),
       |rm AS (
       |  SELECT source, rep,
       |    CAST(sum(w * n_chars) AS BIGINT) AS ws, CAST(sum(w) AS BIGINT) AS wn
       |  FROM w GROUP BY 1, 2),
       |mf AS (
       |  SELECT source, rep,
       |    CASE WHEN wn = 0 THEN 0
       |         ELSE CAST(floor(ws::DOUBLE / wn::DOUBLE * 1e4 + 0.5) AS BIGINT)
       |    END AS m_fp
       |  FROM rm),
       |rk AS (
       |  SELECT source, m_fp,
       |    row_number() OVER (PARTITION BY source ORDER BY m_fp, rep) AS r_lo,
       |    row_number() OVER (PARTITION BY source ORDER BY m_fp DESC, rep) AS r_hi
       |  FROM mf)
       |SELECT source, count(*) AS n_reps,
       |  max(CASE WHEN r_lo = 2 THEN m_fp END) / 1e4 AS boot_lo,
       |  max(CASE WHEN r_hi = 2 THEN m_fp END) / 1e4 AS boot_hi,
       |  floor((CAST(sum(m_fp) AS BIGINT) / ${BootReps.toDouble} / 1e4) * 1e4 + 0.5) / 1e4
       |    AS boot_mean
       |FROM rk GROUP BY 1 ORDER BY 1""".stripMargin

  // --- per-epoch training shuffle ------------------------------------------------
  //
  // How a 100 TB corpus is "randomly shuffled" for each training epoch
  // without a permutation in memory: sort by a per-epoch keyed hash —
  // one range-partitioned sort pass per epoch, fully deterministic and
  // resumable (the property a `rand()` shuffle cannot give a restarted
  // job). Batches are consecutive runs of the hash order; the report
  // proves the shuffle MIXES (every batch sees many languages/sources)
  // and that epochs differ (the hash is keyed by epoch). The per-epoch
  // row_number here is the oracle-exact stand-in for the cluster form;
  // the REAL scale path is [[graft.pipeline.EpochShuffle.positions]] —
  // repartitionByRange(hash) + sortWithinPartitions + zipWithIndex
  // offsets — which EpochShuffleSpec proves position-identical to this
  // window while planning no Window at all.

  private val EpochN = 4
  private val BatchSize = 64

  private def qEpochShuffle(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        explode(sequence(lit(0L), lit(EpochN - 1L))).as("epoch"))
      .withColumn("h", md5(concat_ws("_", col("doc_id"), col("epoch"))))
      .withColumn("pos", row_number().over(
        Window.partitionBy("epoch").orderBy("h", "doc_id")))
      .withColumn("batch", expr(s"(pos - 1) div $BatchSize"))
      .groupBy("epoch", "batch")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("lang").as("n_langs"),
        countDistinct("source").as("n_sources"),
        sum("n_chars").as("batch_chars"))
      .orderBy("epoch", "batch")

  private val qEpochShuffleSql =
    s"""WITH r AS (
       |  SELECT doc_id, lang, source, n_chars,
       |    unnest(generate_series(0, ${EpochN - 1})) AS epoch
       |  FROM documents),
       |h AS (
       |  SELECT epoch, lang, source, n_chars,
       |    md5(CAST(doc_id AS VARCHAR) || '_' || CAST(epoch AS VARCHAR)) AS h,
       |    doc_id
       |  FROM r),
       |p AS (
       |  SELECT epoch, lang, source, n_chars,
       |    row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id) AS pos
       |  FROM h)
       |SELECT epoch, (pos - 1) // $BatchSize AS batch, count(*) AS n_docs,
       |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |  CAST(sum(n_chars) AS BIGINT) AS batch_chars
       |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- incremental ingest dedup ---------------------------------------------------
  //
  // The re-crawl discipline: a delta batch deduplicates against the
  // HISTORY fingerprint store (never the raw history corpus) and then
  // within itself, history always winning and the smallest delta id
  // winning otherwise — so re-ingesting the same crawl is idempotent
  // and every document maps to one canonical survivor. Keys are
  // whitespace-normalized content hashes; duplicate groups are planted
  // deterministically in BOTH engines (every 9th doc collapses to a
  // shared payload keyed by doc_id div 90, so some payload classes span
  // the history/delta boundary and some are delta-only — all three
  // decision outcomes occur) since the synthetic corpus has no natural
  // dups. Scale shape: the store is (key, min_id) — one partial agg —
  // the delta joins it by key (broadcast when the delta's key set is
  // small, shuffle-hash otherwise), and the within-delta tie-break is a
  // key-partitioned min, never a sort. The near-dup extension swaps the
  // exact key for q_minhash_lsh's band signatures; the decision algebra
  // below is unchanged.

  private val IncrSplit = 250L

  private def qIncrDedup(s: SparkSession, dir: String): DataFrame = {
    val keyed = t(s, dir, "documents")
      .withColumn("body",
        when(pmod(col("doc_id"), lit(9)) === 0,
          concat(lit("planted shared payload "),
            expr("doc_id div 90").cast("string")))
          .otherwise(col("text")))
      .select(col("doc_id"),
        md5(lower(regexp_replace(col("body"), "\\s+", " "))).as("k"))
    val hist = keyed.filter(col("doc_id") < IncrSplit)
      .groupBy("k").agg(min("doc_id").as("h_min"))
    val delta = keyed.filter(col("doc_id") >= IncrSplit)
      .withColumn("d_min",
        min("doc_id").over(Window.partitionBy("k")))
    // no broadcast hint: the history fingerprint store GROWS with the
    // corpus — let the planner (AQE) pick broadcast while it fits and
    // fall back to a shuffled hash join when it doesn't
    delta.join(hist, Seq("k"), "left")
      .select(col("doc_id"),
        when(col("h_min").isNotNull, lit("dup_history"))
          .when(col("doc_id") === col("d_min"), lit("new"))
          .otherwise(lit("dup_delta")).as("status"),
        coalesce(col("h_min"),
          when(col("doc_id") === col("d_min"), col("doc_id"))
            .otherwise(col("d_min"))).as("canonical_id"))
      .orderBy("doc_id")
  }

  private val qIncrDedupSql =
    s"""WITH keyed AS (
       |  SELECT doc_id,
       |    md5(lower(regexp_replace(
       |      CASE WHEN doc_id % 9 = 0
       |        THEN 'planted shared payload ' || CAST(doc_id // 90 AS VARCHAR)
       |        ELSE text END, '\\s+', ' ', 'g'))) AS k
       |  FROM documents),
       |hist AS (
       |  SELECT k, min(doc_id) AS h_min FROM keyed
       |  WHERE doc_id < $IncrSplit GROUP BY 1),
       |delta AS (
       |  SELECT doc_id, k,
       |    min(doc_id) OVER (PARTITION BY k) AS d_min
       |  FROM keyed WHERE doc_id >= $IncrSplit)
       |SELECT d.doc_id,
       |  CASE WHEN h.h_min IS NOT NULL THEN 'dup_history'
       |       WHEN d.doc_id = d.d_min THEN 'new'
       |       ELSE 'dup_delta' END AS status,
       |  coalesce(h.h_min,
       |    CASE WHEN d.doc_id = d.d_min THEN d.doc_id ELSE d.d_min END)
       |    AS canonical_id
       |FROM delta d LEFT JOIN hist h ON d.k = h.k
       |ORDER BY d.doc_id""".stripMargin

  // --- weighted reservoir sampling (Efraimidis–Spirakis) --------------------------
  //
  // Weighted sampling WITHOUT replacement in one distributed pass: each
  // row draws key = ln(u)/w (u uniform from its content hash, w the
  // weight) and the k LARGEST keys per group are exactly a weighted
  // reservoir (Efraimidis & Spirakis 2006 — the A-ES scheme; ln(u)/w is
  // the monotone twin of u^{1/w}). This is the without-replacement
  // complement of q_weighted_sample's Bernoulli sampler: top-k by key
  // is MERGEABLE (each partition keeps its local top-k, merge keeps the
  // top-k of the union) — and the plan says so: a LOCAL top-k per
  // (source, hash-bucket) prunes first, so no window ever sorts a whole
  // hot source, then the final top-k ranks only the ≤ 8k survivors per
  // source. Exact by the mergeability of top-k: the global top-k of a
  // group is contained in the union of its buckets' local top-ks.
  // u ∈ (0, 1] (hash+1 over 2³²) keeps ln finite; both engines evaluate
  // the same IEEE ln/÷ on the same doubles.

  private val ResK = 5

  private def qReservoirSample(s: SparkSession, dir: String): DataFrame = {
    val keyed = t(s, dir, "documents")
      .withColumn("h",
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long"))
      .withColumn("u", (col("h") + 1L) / lit(4294967296.0))
      .withColumn("key", log(col("u")) / col("n_chars").cast("double"))
      .withColumn("bucket", pmod(col("doc_id"), lit(8)))
    val local = keyed
      .withColumn("lrk", row_number().over(
        Window.partitionBy("source", "bucket")
          .orderBy(col("key").desc, col("doc_id"))))
      .filter(col("lrk") <= ResK)
    local
      .withColumn("rank", row_number().over(
        Window.partitionBy("source").orderBy(col("key").desc, col("doc_id"))))
      .filter(col("rank") <= ResK)
      .select(col("source"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("n_chars"))
      .orderBy("source", "rank")
  }

  private val qReservoirSampleSql =
    s"""WITH k AS (
       |  SELECT source, doc_id, n_chars,
       |    ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
       |       / 4294967296.0) / n_chars::DOUBLE AS key
       |  FROM documents),
       |r AS (
       |  SELECT source, doc_id, n_chars,
       |    row_number() OVER (PARTITION BY source ORDER BY key DESC, doc_id)
       |      AS rank
       |  FROM k)
       |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, n_chars
       |FROM r WHERE rank <= $ResK
       |ORDER BY source, rank""".stripMargin

  // --- rendezvous (HRW) routing stability -----------------------------------------
  //
  // Highest-random-weight hashing — how stateful services (shard
  // routers, cache rings, stream repartitioners) assign keys so that
  // GROWING the fleet moves the THEORETICAL MINIMUM of keys: under
  // argmax_s h(key, s), adding shard S only reclaims the keys whose new
  // argmax IS S (expected 1/(S+1) of them); no key ever moves BETWEEN
  // old shards. Both assignments (8 shards and 9) come out of ONE
  // narrow explode+argmax pass; the argmax travels as h·16+s so ties
  // (impossible with md5, but the discipline stands) break to the
  // higher shard identically in both engines. The spec pins the HRW
  // invariant exactly: every moved doc's new home is shard 8.

  private val HrwOld = 8

  private def qRendezvous(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        explode(sequence(lit(0L), lit(HrwOld.toLong))).as("sh"))
      .withColumn("h",
        conv(substring(md5(concat_ws("_", col("doc_id"), col("sh"))), 1, 14),
          16, 10).cast("long"))
      .withColumn("k", col("h") * 16L + col("sh"))
      .groupBy("doc_id")
      .agg((max(when(col("sh") < HrwOld, col("k"))) % 16).as("a_old"),
        (max(col("k")) % 16).as("a_new"))
      .groupBy("a_old")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("a_new") =!= col("a_old"), 1L).otherwise(0L)).as("n_moved"))
      .select(col("a_old").as("shard"), col("n_docs"), col("n_moved"),
        Rounding.r(lit(1.0) - col("n_moved") / col("n_docs").cast("double"), 4)
          .as("stay_frac"))
      .orderBy("shard")

  private val qRendezvousSql =
    s"""WITH e AS (
       |  SELECT doc_id, unnest(generate_series(0, $HrwOld)) AS sh
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, sh,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_' ||
       |      CAST(sh AS VARCHAR)), 1, 14))::BIGINT * 16 + sh AS k
       |  FROM e),
       |a AS (
       |  SELECT doc_id,
       |    max(CASE WHEN sh < $HrwOld THEN k END) % 16 AS a_old,
       |    max(k) % 16 AS a_new
       |  FROM h GROUP BY 1)
       |SELECT a_old AS shard, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN a_new <> a_old THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_moved,
       |  floor((1.0 - sum(CASE WHEN a_new <> a_old THEN 1 ELSE 0 END)
       |    / count(*)::DOUBLE) * 1e4 + 0.5) / 1e4 AS stay_frac
       |FROM a GROUP BY 1 ORDER BY 1""".stripMargin

  // --- interval-union coverage (sweep-line islands) ---------------------------------
  //
  // Total covered time from OVERLAPPING intervals — dedup for time
  // ranges (crawl-window accounting, GPU-occupancy rollups, session
  // coverage): the classic sweep expressed relationally. Intervals
  // derive deterministically from events (duration keyed by event_id);
  // an island opens where a start exceeds the running max of all
  // earlier ends (strictly — touching intervals merge); islands sum
  // (max end − min start). Integer epoch seconds throughout
  // (Spark `unix_timestamp` floors — DuckDB mirrors with
  // floor(epoch())::BIGINT, NOT epoch()::BIGINT, which half-even
  // ROUNDS). Per-user windows — the sweep never crosses the partition
  // key, so the plan scales with users, not events.

  private def qIntervalCover(s: SparkSession, dir: String): DataFrame = {
    val iv = t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("st"))
      .withColumn("en", col("st") + (pmod(col("event_id"), lit(7)) + 1L) * 60L)
    val wPrev = Window.partitionBy("user_id").orderBy("st", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("user_id").orderBy("st", "event_id")
    val islands = iv
      .withColumn("prev_max", max("en").over(wPrev))
      .withColumn("brk",
        when(col("prev_max").isNull || col("st") > col("prev_max"), 1L)
          .otherwise(0L))
      .withColumn("island", sum("brk").over(wRun))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("n_ev"), min("st").as("i_st"), max("en").as("i_en"))
    islands.groupBy("user_id")
      .agg(sum("n_ev").as("n_events"), count(lit(1)).as("n_islands"),
        sum(col("i_en") - col("i_st")).as("covered_sec"),
        (max("i_en") - min("i_st")).as("span_sec"))
      .select(col("user_id"), col("n_events"), col("n_islands"),
        col("covered_sec"), col("span_sec"),
        Rounding.r(col("covered_sec") / col("span_sec").cast("double"), 4)
          .as("duty"))
      .orderBy("user_id")
  }

  private val qIntervalCoverSql =
    """WITH iv AS (
      |  SELECT user_id, event_id,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS st,
      |    CAST(floor(epoch(ts)) AS BIGINT) + (event_id % 7 + 1) * 60 AS en
      |  FROM events),
      |p AS (
      |  SELECT user_id, st, en,
      |    max(en) OVER (PARTITION BY user_id ORDER BY st, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max,
      |    event_id
      |  FROM iv),
      |b AS (
      |  SELECT user_id, st, en,
      |    CASE WHEN prev_max IS NULL OR st > prev_max THEN 1 ELSE 0 END AS brk,
      |    event_id
      |  FROM p),
      |i AS (
      |  SELECT user_id, st, en,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY st, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM b),
      |g AS (
      |  SELECT user_id, island, count(*) AS n_ev,
      |    min(st) AS i_st, max(en) AS i_en
      |  FROM i GROUP BY 1, 2)
      |SELECT user_id, CAST(sum(n_ev) AS BIGINT) AS n_events,
      |  count(*) AS n_islands,
      |  CAST(sum(i_en - i_st) AS BIGINT) AS covered_sec,
      |  max(i_en) - min(i_st) AS span_sec,
      |  floor((CAST(sum(i_en - i_st) AS BIGINT) /
      |    (max(i_en) - min(i_st))::DOUBLE) * 1e4 + 0.5) / 1e4 AS duty
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  // --- chi-square independence test -----------------------------------------------
  //
  // Is language independent of source? The χ² statistic over the
  // (lang, source) contingency table — the categorical drift detector
  // next to q_ks_test's continuous one. Empty cells are handled in
  // CLOSED FORM: Σ_all (o−e)²/e = n + Σ_observed ((o−e)²/e − e), so the
  // plan touches only observed cells (one tiny grain agg + two
  // broadcast margins) and never materializes the R×C lattice — at
  // 100 TB with high-cardinality categoricals the observed grain is the
  // only thing that exists. Per-cell terms fix-point to integer
  // micro-units before the sum (order-immune); e = r·c/n is the same
  // exact double in both engines.

  private def qChiSquare(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val cells = d.groupBy("lang", "source").agg(count(lit(1)).as("o"))
    val rows = d.groupBy("lang").agg(count(lit(1)).as("r"))
    val cols = d.groupBy("source").agg(count(lit(1)).as("c"))
    val tot = d.agg(count(lit(1)).as("n"),
      countDistinct("lang").as("nr"), countDistinct("source").as("nc"))
    cells.join(broadcast(rows), "lang").join(broadcast(cols), "source")
      .crossJoin(broadcast(tot))
      .withColumn("e",
        col("r").cast("double") * col("c").cast("double") / col("n").cast("double"))
      .withColumn("t", floor(
        ((col("o").cast("double") - col("e")) * (col("o").cast("double") - col("e"))
          / col("e") - col("e")) * 1e6 + 0.5).cast("long"))
      .groupBy("n", "nr", "nc")
      .agg(sum("t").as("tsum"))
      .select(col("n"), ((col("nr") - 1) * (col("nc") - 1)).as("dof"),
        Rounding.r(col("tsum") / lit(1e6) + col("n"), 4).as("chi2"),
        Rounding.r(sqrt(
          (col("tsum") / lit(1e6) + col("n")) /
            (col("n") * least(col("nr") - 1, col("nc") - 1)).cast("double")), 4)
          .as("cramers_v"))
  }

  private val qChiSquareSql =
    """WITH cells AS (
      |  SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
      |rr AS (SELECT lang, count(*) AS r FROM documents GROUP BY 1),
      |cc AS (SELECT source, count(*) AS c FROM documents GROUP BY 1),
      |tt AS (SELECT count(*) AS n, CAST(count(DISTINCT lang) AS BIGINT) AS nr,
      |         CAST(count(DISTINCT source) AS BIGINT) AS nc
      |       FROM documents),
      |tm AS (
      |  SELECT tt.n, tt.nr, tt.nc,
      |    CAST(floor(((cells.o::DOUBLE - rr.r::DOUBLE * cc.c::DOUBLE / tt.n::DOUBLE)
      |      * (cells.o::DOUBLE - rr.r::DOUBLE * cc.c::DOUBLE / tt.n::DOUBLE)
      |      / (rr.r::DOUBLE * cc.c::DOUBLE / tt.n::DOUBLE)
      |      - rr.r::DOUBLE * cc.c::DOUBLE / tt.n::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS t
      |  FROM cells JOIN rr USING (lang) JOIN cc USING (source) CROSS JOIN tt)
      |SELECT n, (nr - 1) * (nc - 1) AS dof,
      |  floor((CAST(sum(t) AS BIGINT) / 1e6 + n) * 1e4 + 0.5) / 1e4 AS chi2,
      |  floor(sqrt((CAST(sum(t) AS BIGINT) / 1e6 + n) /
      |    (n * least(nr - 1, nc - 1))::DOUBLE) * 1e4 + 0.5) / 1e4 AS cramers_v
      |FROM tm GROUP BY n, nr, nc""".stripMargin

  // --- Mann–Whitney U (rank-sum test) ------------------------------------------------
  //
  // Are src1 documents longer than src2's, distribution-free? The
  // Wilcoxon rank-sum statistic, EXACT: tie-averaged ranks are
  // half-integers, so everything runs at 2× scale — for a value with t
  // ties starting after cb earlier rows, 2·avgrank = 2·cb + t + 1, an
  // integer — and 2U₁ = 2R₁ − n₁(n₁+1) stays a BIGINT until the final
  // AUC report (U/(n₁n₂) IS the probability a random src1 doc outranks
  // a random src2 doc — the common-language effect size). Like
  // q_ks_test, counts collapse to the value grain FIRST; the single
  // ordered window runs over the tiny distinct-value table.

  private def qMannWhitney(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .filter(col("source").isin("src1", "src2"))
      .groupBy(col("n_chars").as("v"))
      .agg(sum(when(col("source") === "src1", 1L).otherwise(0L)).as("a_c"),
        sum(when(col("source") === "src2", 1L).otherwise(0L)).as("b_c"))
    val wCum = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    d.withColumn("cb", coalesce(sum(col("a_c") + col("b_c")).over(wCum), lit(0L)))
      .withColumn("rank2", lit(2L) * col("cb") + col("a_c") + col("b_c") + 1L)
      .agg(sum("a_c").as("n1"), sum("b_c").as("n2"),
        sum(col("a_c") * col("rank2")).as("r1_2"))
      .select(col("n1"), col("n2"),
        (col("r1_2") - col("n1") * (col("n1") + 1)).as("u2"),
        Rounding.r((col("r1_2") - col("n1") * (col("n1") + 1)).cast("double") /
          (lit(2.0) * col("n1") * col("n2")), 4).as("auc"))
  }

  private val qMannWhitneySql =
    """WITH g AS (
      |  SELECT n_chars AS v,
      |    CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS a_c,
      |    CAST(sum(CASE WHEN source = 'src2' THEN 1 ELSE 0 END) AS BIGINT) AS b_c
      |  FROM documents WHERE source IN ('src1', 'src2') GROUP BY 1),
      |r AS (
      |  SELECT v, a_c, b_c,
      |    coalesce(sum(a_c + b_c) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      |  FROM g)
      |SELECT CAST(sum(a_c) AS BIGINT) AS n1, CAST(sum(b_c) AS BIGINT) AS n2,
      |  CAST(sum(a_c * (2 * cb + a_c + b_c + 1)) AS BIGINT)
      |    - CAST(sum(a_c) AS BIGINT) * (CAST(sum(a_c) AS BIGINT) + 1) AS u2,
      |  floor(((CAST(sum(a_c * (2 * cb + a_c + b_c + 1)) AS BIGINT)
      |    - CAST(sum(a_c) AS BIGINT) * (CAST(sum(a_c) AS BIGINT) + 1))
      |    / (2.0 * sum(a_c) * sum(b_c))) * 1e4 + 0.5) / 1e4 AS auc
      |FROM r""".stripMargin

  // --- corpus concentration (Gini / top-decile share / HHI) ------------------------
  //
  // How concentrated is the corpus across sources? The three standard
  // concentration measures over per-source byte totals, exact: Gini via
  // the sorted-rank identity G = 2·Σ i·xᵢ / (n·Σx) − (n+1)/n (Σ i·xᵢ is
  // a BIGINT over the asc-sorted grain), the top-decile byte share, and
  // the Herfindahl–Hirschman index with per-source fixed-point terms.
  // The windows rank the SOURCE GRAIN (one row per source) — the corpus
  // collapses in one partial agg first, so this is a report over a tiny
  // table at any scale. The curation signal: a Gini near 1 means a
  // handful of domains dominate the training mix.
  // int64 bound (round-5 audit): Σ i·xᵢ ≤ n_sources·total_chars and the
  // final n·total product — at 10¹² docs (total ≈ 10¹⁵ chars) and 10⁴
  // sources both reach ≈ 10¹⁹, AT the int64 edge: beyond ~10³ sources
  // × 10¹⁵ chars the rank moment and the n·total denominator take the
  // `WideStats` widening (source grain stays tiny; value width only).

  private def qGini(s: SparkSession, dir: String): DataFrame = {
    val g = t(s, dir, "documents").groupBy("source")
      .agg(sum("n_chars").as("x"))
    val wAll = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    g.withColumn("i",
        row_number().over(Window.orderBy(col("x"), col("source"))).cast("long"))
      .withColumn("rd",
        row_number().over(Window.orderBy(col("x").desc, col("source"))).cast("long"))
      .withColumn("nw", count(lit(1)).over(wAll))
      .withColumn("tw", sum("x").over(wAll))
      .withColumn("hfp",
        floor((col("x").cast("double") / col("tw").cast("double")) *
          (col("x").cast("double") / col("tw").cast("double")) * 1e8 + 0.5)
          .cast("long"))
      .agg(max("nw").as("n"), max("tw").as("total"),
        sum(col("i") * col("x")).as("sxi"),
        sum(when(col("rd") <= greatest(lit(1L),
          ceil(col("nw") / 10.0).cast("long")), col("x")).otherwise(0L))
          .as("top_x"),
        sum("hfp").as("hhi_fp"))
      .select(col("n").as("n_sources"), col("total").as("total_chars"),
        Rounding.r(lit(2.0) * col("sxi") / (col("n") * col("total")).cast("double")
          - (col("n") + 1).cast("double") / col("n").cast("double"), 4).as("gini"),
        Rounding.r(col("top_x") / col("total").cast("double"), 4)
          .as("top_decile_share"),
        Rounding.r(col("hhi_fp") / lit(1e8), 4).as("hhi"))
  }

  private val qGiniSql =
    """WITH g AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS x
      |           FROM documents GROUP BY 1),
      |r AS (
      |  SELECT x,
      |    CAST(row_number() OVER (ORDER BY x, source) AS BIGINT) AS i,
      |    CAST(row_number() OVER (ORDER BY x DESC, source) AS BIGINT) AS rd,
      |    count(*) OVER () AS nw,
      |    sum(x) OVER () AS tw
      |  FROM g),
      |h AS (
      |  SELECT *,
      |    CAST(floor((x::DOUBLE / tw::DOUBLE) * (x::DOUBLE / tw::DOUBLE) * 1e8
      |      + 0.5) AS BIGINT) AS hfp
      |  FROM r)
      |SELECT CAST(max(nw) AS BIGINT) AS n_sources,
      |  CAST(max(tw) AS BIGINT) AS total_chars,
      |  floor((2.0 * CAST(sum(i * x) AS BIGINT) / (max(nw) * max(tw))::DOUBLE
      |    - (max(nw) + 1)::DOUBLE / max(nw)::DOUBLE) * 1e4 + 0.5) / 1e4 AS gini,
      |  floor((CAST(sum(CASE WHEN rd <= greatest(1,
      |      CAST(ceil(nw / 10.0) AS BIGINT)) THEN x ELSE 0 END) AS BIGINT)
      |    / max(tw)::DOUBLE) * 1e4 + 0.5) / 1e4 AS top_decile_share,
      |  floor((CAST(sum(hfp) AS BIGINT) / 1e8) * 1e4 + 0.5) / 1e4 AS hhi
      |FROM h""".stripMargin

  // --- CUSUM changepoint scan -------------------------------------------------------
  //
  // Where did the daily event volume shift? The cumulative-sum
  // changepoint statistic, integer-exact by cross-multiplication:
  // deviation of day d is c_d·n − T (c_d − T/n scaled by n, no
  // division), the running sum of deviations is a BIGINT, and the
  // changepoint is the day of max |CUSUM| (ties → earliest day). The
  // corpus collapses to the day grain first; the scan is one window
  // over the tiny day table. This is the monitoring op behind
  // ingest-volume regression alarms.
  // int64 bound (round-5 audit): |CUSUM| ≤ days·c_max·days ≈ T·days and
  // the shift_score denominator n·T ≤ days·T — at 10¹² events over 10³
  // days both sit near 10¹⁵, a 10³ headroom; safe to T ≈ 3·10¹⁵ events,
  // past which the day-grain cross-products take the `WideStats`
  // widening (day tables stay tiny; only the value width changes).

  private def qCusum(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("d"))
      .agg(count(lit(1)).as("c"))
    val wAll = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val wCum = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("tt", sum("c").over(wAll))
      .withColumn("cusum", sum(col("c") * col("n") - col("tt")).over(wCum))
      .withColumn("rk", row_number().over(
        Window.orderBy(abs(col("cusum")).desc, col("d"))))
      .filter(col("rk") === 1)
      .select(col("n").as("n_days"), col("tt").as("total_events"),
        col("d").as("peak_day"), abs(col("cusum")).as("max_abs_cusum"),
        Rounding.r(abs(col("cusum")) / (col("n") * col("tt")).cast("double"), 4)
          .as("shift_score"))
  }

  private val qCusumSql =
    """WITH daily AS (
      |  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS d,
      |    count(*) AS c
      |  FROM events GROUP BY 1),
      |w AS (
      |  SELECT d, c, count(*) OVER () AS n, sum(c) OVER () AS tt
      |  FROM daily),
      |cs AS (
      |  SELECT d, n, tt,
      |    sum(c * n - tt) OVER (ORDER BY d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
      |  FROM w),
      |rk AS (
      |  SELECT *, row_number() OVER (ORDER BY abs(cusum) DESC, d) AS rk
      |  FROM cs)
      |SELECT CAST(n AS BIGINT) AS n_days, CAST(tt AS BIGINT) AS total_events,
      |  d AS peak_day, CAST(abs(cusum) AS BIGINT) AS max_abs_cusum,
      |  floor((abs(cusum) / (n * tt)::DOUBLE) * 1e4 + 0.5) / 1e4 AS shift_score
      |FROM rk WHERE rk = 1""".stripMargin

  // --- pairwise source vocabulary overlap -------------------------------------------
  //
  // The corpus-mix redundancy matrix: token-vocabulary Jaccard between
  // every pair of sources — which feeds "source B adds nothing over
  // source A" pruning decisions. The join is inverted-index shaped and
  // BOUNDED BY DESIGN: rows collapse to the (source, token) grain
  // first, so a token contributes at most S² pairs where S is the
  // SOURCE count (a dimension, not the corpus) — the blow-up that
  // n-gram pair joins need df-caps for cannot happen at the source
  // grain. One distinct, one self-join on token, two broadcast size
  // lookups.

  private def qSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val vocab = t(s, dir, "documents")
      .select(col("source"),
        explode(call_function("graft_ws_tokens", col("text"))).as("tok"))
      .distinct()
    val sizes = vocab.groupBy("source").agg(count(lit(1)).as("nv"))
    vocab.as("a")
      .join(vocab.as("b"),
        col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.select(col("source").as("src_a"), col("nv").as("nva"))),
        "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("nv").as("nvb"))),
        "src_b")
      .select(col("src_a"), col("src_b"), col("inter"),
        (col("nva") + col("nvb") - col("inter")).as("uni"),
        Rounding.r(col("inter") /
          (col("nva") + col("nvb") - col("inter")).cast("double"), 4).as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  private val qSourceOverlapSql =
    """WITH v AS (
      |  SELECT DISTINCT source,
      |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> x <> '')) AS tok
      |  FROM documents),
      |sz AS (SELECT source, count(*) AS nv FROM v GROUP BY 1),
      |pr AS (
      |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
      |  FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT pr.src_a, pr.src_b, pr.inter,
      |  sa.nv + sb.nv - pr.inter AS uni,
      |  floor((pr.inter / (sa.nv + sb.nv - pr.inter)::DOUBLE) * 1e4 + 0.5) / 1e4
      |    AS jaccard
      |FROM pr
      |JOIN sz sa ON sa.source = pr.src_a
      |JOIN sz sb ON sb.source = pr.src_b
      |ORDER BY 1, 2""".stripMargin

  // --- recency-decay weighted stats ---------------------------------------------------
  //
  // Freshness weighting: every aggregation a monitoring surface runs
  // "with recent data counting more" — per-user mean event value under
  // an exponential 7-day half-life... strictly, w = e^(−Δdays/7) with Δ
  // measured back from the corpus' latest event (a broadcast 1-row
  // max — deterministic, unlike now()). Per-row weights fix-point to
  // integer micro-units BEFORE the sums, so both engines' BIGINT
  // accumulators are order-immune and the only float step is the final
  // ratio. exp() agrees across engines on these operands the same way
  // log2/ln do in the entropy/LM queries (sweep-guarded).

  private def qDecayWeighted(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("value"), unix_timestamp(col("ts")).as("es"))
    val latest = ev.agg(max("es").as("mx"))
    ev.crossJoin(broadcast(latest))
      .withColumn("w", exp((col("es") - col("mx")).cast("double") /
        lit(86400.0) / lit(7.0)))
      .withColumn("w_fp", floor(col("w") * 1e6 + 0.5).cast("long"))
      .withColumn("wv_fp", floor(col("w") * col("value") * 1e6 + 0.5).cast("long"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum("w_fp").as("sw"),
        sum("wv_fp").as("swv"))
      .select(col("user_id"), col("n_events"),
        Rounding.r(col("sw") / lit(1e6), 4).as("eff_n"),
        Rounding.r(col("swv").cast("double") / col("sw").cast("double"), 4)
          .as("decayed_mean"))
      .orderBy("user_id")
  }

  private val qDecayWeightedSql =
    """WITH ev AS (
      |  SELECT user_id, value, CAST(floor(epoch(ts)) AS BIGINT) AS es
      |  FROM events),
      |mx AS (SELECT max(es) AS mx FROM ev),
      |w AS (
      |  SELECT user_id, value,
      |    exp((es - mx)::DOUBLE / 86400.0 / 7.0) AS w
      |  FROM ev CROSS JOIN mx),
      |f AS (
      |  SELECT user_id,
      |    CAST(floor(w * 1e6 + 0.5) AS BIGINT) AS w_fp,
      |    CAST(floor(w * value * 1e6 + 0.5) AS BIGINT) AS wv_fp
      |  FROM w)
      |SELECT user_id, count(*) AS n_events,
      |  floor((CAST(sum(w_fp) AS BIGINT) / 1e6) * 1e4 + 0.5) / 1e4 AS eff_n,
      |  floor((CAST(sum(wv_fp) AS BIGINT)::DOUBLE /
      |    CAST(sum(w_fp) AS BIGINT)::DOUBLE) * 1e4 + 0.5) / 1e4 AS decayed_mean
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  // --- differentially private count release -------------------------------------------
  //
  // The Laplace mechanism over per-language counts — the release shape
  // for sharing corpus statistics without exposing individual
  // membership: noisy = n + Lap(Δ/ε) with sensitivity Δ = 1 (one
  // document moves one count by one). Noise draws are DETERMINISTIC
  // here — inverse-CDF through a per-group hash,
  // X = −b·sgn(u−½)·ln(1−2|u−½|) — so the oracle checks the mechanism's
  // arithmetic end-to-end (a production release would use a fresh seed
  // and drop n_true; this query demonstrates the mechanics). One grain
  // agg + a narrow projection; scales with group count, not corpus.

  private val DpEps = 1.0

  private def qDpNoise(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy("lang").agg(count(lit(1)).as("n_true"))
      .withColumn("u",
        (conv(substring(md5(col("lang")), 1, 8), 16, 10).cast("long") + 0.5) /
          lit(4294967296.0))
      .withColumn("noise",
        lit(-1.0 / DpEps) * signum(col("u") - 0.5) *
          log(lit(1.0) - lit(2.0) * abs(col("u") - 0.5)))
      .select(col("lang"), col("n_true"),
        Rounding.r(col("n_true") + col("noise"), 4).as("n_noisy"),
        lit(DpEps).as("eps"))
      .orderBy("lang")

  private val qDpNoiseSql =
    s"""WITH g AS (SELECT lang, count(*) AS n_true FROM documents GROUP BY 1),
       |u AS (
       |  SELECT lang, n_true,
       |    (('0x' || substr(md5(lang), 1, 8))::BIGINT + 0.5) / 4294967296.0 AS u
       |  FROM g)
       |SELECT lang, n_true,
       |  floor((n_true + (-1.0 / $DpEps) * sign(u - 0.5) *
       |    ln(1.0 - 2.0 * abs(u - 0.5))) * 1e4 + 0.5) / 1e4 AS n_noisy,
       |  $DpEps AS eps
       |FROM u ORDER BY 1""".stripMargin

  // --- k-anonymity audit ------------------------------------------------------------
  //
  // Before any per-group release: how many rows sit in quasi-identifier
  // groups smaller than k? QI = (lang, source, length centile bucket);
  // a row in a group of < k is re-identifiable by those attributes
  // alone. Two partial aggs (corpus → QI grain → per-lang report); the
  // audit every DP/aggregation release (q_dp_noise) should gate on.

  private val KAnon = 5

  private def qKanon(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("lang"), col("source"),
        expr("n_chars div 100").as("len_bucket"))
      .agg(count(lit(1)).as("gsz"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("gsz") < KAnon, 1L).otherwise(0L)).as("n_small_groups"),
        sum(when(col("gsz") < KAnon, col("gsz")).otherwise(0L)).as("n_exposed"),
        sum("gsz").as("n_rows"),
        min("gsz").as("min_group"))
      .select(col("lang"), col("n_groups"), col("n_small_groups"),
        col("n_exposed"), col("min_group"),
        Rounding.r(col("n_exposed") / col("n_rows").cast("double"), 4)
          .as("exposed_frac"))
      .orderBy("lang")

  private val qKanonSql =
    s"""WITH qi AS (
       |  SELECT lang, source, n_chars // 100 AS len_bucket, count(*) AS gsz
       |  FROM documents GROUP BY 1, 2, 3)
       |SELECT lang, count(*) AS n_groups,
       |  CAST(sum(CASE WHEN gsz < $KAnon THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_small_groups,
       |  CAST(sum(CASE WHEN gsz < $KAnon THEN gsz ELSE 0 END) AS BIGINT)
       |    AS n_exposed,
       |  CAST(min(gsz) AS BIGINT) AS min_group,
       |  floor((CAST(sum(CASE WHEN gsz < $KAnon THEN gsz ELSE 0 END) AS BIGINT)
       |    / CAST(sum(gsz) AS BIGINT)::DOUBLE) * 1e4 + 0.5) / 1e4 AS exposed_frac
       |FROM qi GROUP BY 1 ORDER BY 1""".stripMargin

  // --- robust outliers: median absolute deviation --------------------------------------
  //
  // The mean/σ z-score (q_anomaly_zscore) is itself dragged by the
  // outliers it hunts; the robust form uses the MEDIAN and the median
  // absolute deviation. Exact and tie-stable cross-engine: the LOWER
  // median (rank ⌈n/2⌉ under an integer rank pick) rather than an
  // interpolated percentile, so every statistic stays an integer.
  // Outlier rule: |x − med| > 3·MAD, compared as integers. At 100 TB
  // the exact rank-pick swaps for approx_percentile and nothing else
  // changes; at the oracle scale the per-lang sorts make it exact.

  private def medByRank(d: DataFrame, valCol: String, outCol: String): DataFrame = {
    val cnt = d.groupBy("lang").agg(count(lit(1)).as("cnt"))
    d.withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(col(valCol), col("doc_id"))))
      .join(broadcast(cnt), "lang")
      .filter(col("rk") === expr("(cnt + 1) div 2"))
      .select(col("lang"), col(valCol).as(outCol))
  }

  private def qMadOutliers(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("lang"), col("doc_id"),
      col("n_chars").as("v"))
    val med = medByRank(d, "v", "med")
    val dev = d.join(broadcast(med), "lang")
      .withColumn("adev", abs(col("v") - col("med")))
    val mad = medByRank(dev.withColumn("v2", col("adev")), "v2", "mad")
    dev.join(broadcast(mad), "lang")
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), max("med").as("med"), max("mad").as("mad"),
        sum(when(col("adev") > lit(3L) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .select(col("lang"), col("n"), col("med"), col("mad"), col("n_outliers"),
        Rounding.r(col("n_outliers") / col("n").cast("double"), 4)
          .as("outlier_frac"))
      .orderBy("lang")
  }

  private val qMadOutliersSql =
    """WITH d AS (SELECT lang, doc_id, n_chars AS v FROM documents),
      |c1 AS (SELECT lang, count(*) AS cnt FROM d GROUP BY 1),
      |m1 AS (
      |  SELECT r.lang, r.v AS med FROM (
      |    SELECT lang, v,
      |      row_number() OVER (PARTITION BY lang ORDER BY v, doc_id) AS rk
      |    FROM d) r
      |  JOIN c1 USING (lang) WHERE r.rk = (c1.cnt + 1) // 2),
      |dv AS (
      |  SELECT d.lang, d.doc_id, d.v, m1.med, abs(d.v - m1.med) AS adev
      |  FROM d JOIN m1 USING (lang)),
      |m2 AS (
      |  SELECT r.lang, r.adev AS mad FROM (
      |    SELECT lang, adev,
      |      row_number() OVER (PARTITION BY lang ORDER BY adev, doc_id) AS rk
      |    FROM dv) r
      |  JOIN c1 USING (lang) WHERE r.rk = (c1.cnt + 1) // 2)
      |SELECT dv.lang, count(*) AS n,
      |  CAST(max(dv.med) AS BIGINT) AS med, CAST(max(m2.mad) AS BIGINT) AS mad,
      |  CAST(sum(CASE WHEN dv.adev > 3 * m2.mad THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers,
      |  floor((CAST(sum(CASE WHEN dv.adev > 3 * m2.mad THEN 1 ELSE 0 END)
      |    AS BIGINT) / count(*)::DOUBLE) * 1e4 + 0.5) / 1e4 AS outlier_frac
      |FROM dv JOIN m2 USING (lang)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- external clustering evaluation (pair-counting: Rand / ARI / purity) ----
  //
  // Every clustering the curation stack produces (k-means cells, LSH
  // buckets, dedup components) eventually needs scoring against SOME
  // ground truth — here the embeddings' `label` column. The pair-counting
  // family (precision/recall/F1 over same-cluster pairs, Rand index,
  // adjusted Rand, purity) never materializes pairs: every statistic is a
  // closed form over the (cluster, label) CONTINGENCY CELLS — n_ct choose
  // 2 sums — so the corpus is touched once (the signature pass) and the
  // evaluation math runs on a table bounded by |clusters|·|labels|
  // regardless of corpus size. The predicted clustering under test is the
  // band-0 LSH bucket assignment (the same buckets the near-dup family
  // blocks on — measuring how label-homogeneous those blocks are is
  // exactly the audit a blocking scheme owes you). Ratios divide exact
  // BIGINTs through identical IEEE double ops on both engines; at corpora
  // where pair counts exceed 2^53 the products move to DECIMAL(38,0) and
  // nothing else changes.

  private def qClusterEval(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val pred = TrainingDataQueries.bandSigs(s, dir)
      .filter(col("band") === 0)
      .select(col("vec_id"), col("sig").as("cluster"))
    val truth = t(s, dir, "embeddings").select(col("vec_id"), col("label"))
    // the whole evaluation reduces to these cells — tiny at any scale
    val cells = pred.join(truth, "vec_id")
      .groupBy("cluster", "label").agg(count(lit(1)).as("n_ct"))
      .persist()
    val byC = cells.groupBy("cluster")
      .agg(sum("n_ct").as("n_c"), max("n_ct").as("mx"))
      .agg(sum(expr("(n_c * (n_c - 1)) div 2")).as("pp"),
        sum("mx").as("pur_num"), sum("n_c").as("n"),
        count(lit(1)).as("n_clusters"))
    val byT = cells.groupBy("label").agg(sum("n_ct").as("n_t"))
      .agg(sum(expr("(n_t * (n_t - 1)) div 2")).as("pt"),
        count(lit(1)).as("n_labels"))
    val tpA = cells.agg(sum(expr("(n_ct * (n_ct - 1)) div 2")).as("tp"))
    val out = byC.crossJoin(broadcast(byT)).crossJoin(broadcast(tpA))
      .withColumn("c_all", expr("(n * (n - 1)) div 2"))
      .withColumn("fp", col("pp") - col("tp"))
      .withColumn("fn", col("pt") - col("tp"))
      .withColumn("tn", col("c_all") - col("pp") - col("pt") + col("tp"))
      .select(col("n"), col("n_clusters"), col("n_labels"),
        col("tp"), col("fp"), col("fn"),
        Rounding.r(col("tp").cast("double") / col("pp").cast("double"), 4)
          .as("precision"),
        Rounding.r(col("tp").cast("double") / col("pt").cast("double"), 4)
          .as("recall"),
        Rounding.r(lit(2.0) * col("tp").cast("double") /
          (col("pp") + col("pt")).cast("double"), 4).as("f1"),
        Rounding.r((col("tp") + col("tn")).cast("double") /
          col("c_all").cast("double"), 4).as("rand_index"),
        Rounding.r(
          (col("c_all").cast("double") * col("tp").cast("double") -
            col("pp").cast("double") * col("pt").cast("double")) /
          (col("c_all").cast("double") *
            (col("pp").cast("double") + col("pt").cast("double")) / lit(2.0) -
            col("pp").cast("double") * col("pt").cast("double")), 4).as("ari"),
        Rounding.r(col("pur_num").cast("double") / col("n").cast("double"), 4)
          .as("purity"))
    out
  }

  private val qClusterEvalSql =
    s"""WITH ${TrainingDataQueries.BandSigsCte},
       |pr AS (SELECT vec_id, sig AS cluster FROM sg WHERE band = 0),
       |cells AS (
       |  SELECT pr.cluster, e.label, count(*) AS n_ct
       |  FROM pr JOIN embeddings e USING (vec_id) GROUP BY 1, 2),
       |pc AS (SELECT cluster, sum(n_ct) AS n_c, max(n_ct) AS mx
       |       FROM cells GROUP BY 1),
       |a1 AS (SELECT CAST(sum((n_c * (n_c - 1)) // 2) AS BIGINT) AS pp,
       |         CAST(sum(mx) AS BIGINT) AS pur_num,
       |         CAST(sum(n_c) AS BIGINT) AS n,
       |         count(*) AS n_clusters FROM pc),
       |pl AS (SELECT label, sum(n_ct) AS n_t FROM cells GROUP BY 1),
       |a2 AS (SELECT CAST(sum((n_t * (n_t - 1)) // 2) AS BIGINT) AS pt,
       |         count(*) AS n_labels FROM pl),
       |a3 AS (SELECT CAST(sum((n_ct * (n_ct - 1)) // 2) AS BIGINT) AS tp
       |       FROM cells),
       |x AS (
       |  SELECT *, (n * (n - 1)) // 2 AS c_all,
       |    pp - tp AS fp, pt - tp AS fn,
       |    (n * (n - 1)) // 2 - pp - pt + tp AS tn
       |  FROM a1, a2, a3)
       |SELECT n, n_clusters, n_labels, tp, fp, fn,
       |  floor((tp::DOUBLE / pp::DOUBLE) * 1e4 + 0.5) / 1e4 AS precision,
       |  floor((tp::DOUBLE / pt::DOUBLE) * 1e4 + 0.5) / 1e4 AS recall,
       |  floor((2.0 * tp::DOUBLE / (pp + pt)::DOUBLE) * 1e4 + 0.5) / 1e4 AS f1,
       |  floor(((tp + tn)::DOUBLE / c_all::DOUBLE) * 1e4 + 0.5) / 1e4
       |    AS rand_index,
       |  floor(((c_all::DOUBLE * tp::DOUBLE - pp::DOUBLE * pt::DOUBLE) /
       |    (c_all::DOUBLE * (pp::DOUBLE + pt::DOUBLE) / 2.0 -
       |     pp::DOUBLE * pt::DOUBLE)) * 1e4 + 0.5) / 1e4 AS ari,
       |  floor((pur_num::DOUBLE / n::DOUBLE) * 1e4 + 0.5) / 1e4 AS purity
       |FROM x""".stripMargin

  // --- leakage-safe grouped split (group-held-out train/val/test) -----------
  //
  // q_train_split assigns splits per DOCUMENT; for data with a grouping
  // key (a user's events, a conversation's turns) that LEAKS — near-
  // identical rows of one group land on both sides of the train/test
  // fence. The grouped split hashes the GROUP key, so membership is a
  // pure per-row function (no join, no shuffle beyond the report aggs)
  // and leakage is impossible BY CONSTRUCTION. The query also AUDITS
  // that claim from the data: max splits-per-user, recounted from the
  // assignment itself, must come back 1. Two grain-collapsing aggs
  // (events → (user, split) → split), each partial map-side.

  private def qGroupSplit(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("bucket", pmod(
        conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
          .cast("long"), lit(100L)))
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val").otherwise("test"))
    val userGrain = ev.groupBy("user_id", "split")
      .agg(count(lit(1)).as("n_ev"))
    // the audit: a user appearing under two splits would make this 2
    val straddle = userGrain.groupBy("user_id")
      .agg(count(lit(1)).as("n_splits"))
      .agg(max("n_splits").as("max_splits_per_user"))
    val total = ev.agg(count(lit(1)).as("n_total"))
    userGrain.groupBy("split")
      .agg(count(lit(1)).as("n_users"), sum("n_ev").as("n_events"))
      .crossJoin(broadcast(straddle)).crossJoin(broadcast(total))
      .select(col("split"), col("n_users"), col("n_events"),
        Rounding.r(col("n_events").cast("double") /
          col("n_total").cast("double"), 4).as("event_frac"),
        col("max_splits_per_user"))
      .orderBy("split")
  }

  private val qGroupSplitSql =
    """WITH ev AS (
      |  SELECT user_id,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 100
      |      AS bucket
      |  FROM events),
      |sp AS (
      |  SELECT user_id,
      |    CASE WHEN bucket < 90 THEN 'train'
      |         WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
      |  FROM ev),
      |ug AS (SELECT user_id, split, count(*) AS n_ev FROM sp GROUP BY 1, 2),
      |st AS (SELECT CAST(max(n_splits) AS BIGINT) AS max_splits_per_user FROM (
      |  SELECT user_id, count(*) AS n_splits FROM ug GROUP BY 1)),
      |tt AS (SELECT count(*) AS n_total FROM sp)
      |SELECT ug.split, count(*) AS n_users,
      |  CAST(sum(n_ev) AS BIGINT) AS n_events,
      |  floor((CAST(sum(n_ev) AS BIGINT)::DOUBLE /
      |    any_value(tt.n_total)::DOUBLE) * 1e4 + 0.5) / 1e4 AS event_frac,
      |  any_value(st.max_splits_per_user) AS max_splits_per_user
      |FROM ug, st, tt
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- differentially private heavy-hitter release ---------------------------
  //
  // The vocabulary-release twin of q_dp_noise: publishing which tokens
  // are frequent (and how frequent) without certifying any individual
  // document's membership. The (ε, δ) stability-histogram discipline:
  // per-token document frequency + Laplace(1/ε) noise, released ONLY
  // where the noisy count clears τ = 1 + 2·ln(1/2δ)/ε — the threshold
  // that makes tokens contributed by few documents (the identifying
  // ones) vanish. Noise is deterministic here (inverse CDF through the
  // token's own hash) so the oracle checks the mechanism end-to-end;
  // production swaps the seed and drops n_true. Plan: one distinct
  // (doc, token) collapse + one token-grain agg + a narrow filter —
  // the release size is governed by τ, not the corpus.

  private val DpTopkEps = 1.0 // δ = 1e-6 → τ = 1 + 2·ln(500000)/ε

  private def qDpTopk(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val tau = lit(1.0) + lit(2.0) * log(lit(500000.0)) / lit(DpTopkEps)
    t(s, dir, "documents")
      .select(col("doc_id"),
        explode(call_function("graft_ws_tokens", col("text"))).as("tok"))
      .distinct()
      .groupBy("tok").agg(count(lit(1)).as("n_true"))
      .withColumn("u",
        (conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long") + 0.5) /
          lit(4294967296.0))
      .withColumn("noise",
        lit(-1.0 / DpTopkEps) * signum(col("u") - 0.5) *
          log(lit(1.0) - lit(2.0) * abs(col("u") - 0.5)))
      .withColumn("n_noisy", Rounding.r(col("n_true") + col("noise"), 4))
      .filter(col("n_noisy") > tau)
      .select(col("tok"), col("n_true"), col("n_noisy"))
      .orderBy("tok")
  }

  private val qDpTopkSql =
    s"""WITH tk AS (
       |  SELECT DISTINCT doc_id, tok FROM (
       |    SELECT doc_id,
       |      unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |        t -> t <> '')) AS tok
       |    FROM documents)),
       |g AS (SELECT tok, count(*) AS n_true FROM tk GROUP BY 1),
       |u AS (
       |  SELECT tok, n_true,
       |    (('0x' || substr(md5(tok), 1, 8))::BIGINT + 0.5) / 4294967296.0 AS u
       |  FROM g),
       |r AS (
       |  SELECT tok, n_true,
       |    floor((n_true + (-1.0 / $DpTopkEps) * sign(u - 0.5) *
       |      ln(1.0 - 2.0 * abs(u - 0.5))) * 1e4 + 0.5) / 1e4 AS n_noisy
       |  FROM u)
       |SELECT tok, n_true, n_noisy FROM r
       |WHERE n_noisy > 1.0 + 2.0 * ln(500000.0) / $DpTopkEps
       |ORDER BY 1""".stripMargin

  // --- semi-supervised label propagation over the LSH candidate graph --------
  //
  // The cheap-label amplifier: a third of the vectors carry a curated
  // label (the seeds); everything else inherits by MAJORITY VOTE from
  // its labeled graph neighbors, two rounds deep. The graph is the
  // band-agreement candidate edge set the near-dup family already
  // computes — sub-quadratic by construction (pairs exist only inside
  // LSH buckets), so a propagation round is one keyed join + one
  // (node, label) partial-agg + a per-node argmax window bounded by the
  // node's own neighborhood. Ties break (count desc, label asc) — a
  // fixed convention both engines execute identically. Round 2 votes
  // from seeds ∪ round-1 winners; already-labeled nodes never revote
  // (anti-join), so rounds only grow the labeled set — the fixpoint
  // discipline of every iterative-DataFrame job here (q_pagerank,
  // q_dedup_clusters).

  private def qLabelProp(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // the signature pass feeds both sides of the edge join — persist it
    val sigs = TrainingDataQueries.bandSigs(s, dir)
      .select("vec_id", "band", "sig").persist()
    val ed = sigs
      .join(sigs.select(col("vec_id").as("v"), col("band"), col("sig")),
        Seq("band", "sig"))
      .filter(col("vec_id") =!= col("v"))
      .select(col("vec_id").as("u"), col("v")).distinct()
      .persist() // both propagation rounds read the edge set
    val seeds = t(s, dir, "embeddings")
      .filter(pmod(col("vec_id"), lit(3)) === 0)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    def propagate(labeled: DataFrame): DataFrame =
      ed.join(labeled.select(col("vec_id").as("v"), col("label")), "v")
        .join(labeled.select(col("vec_id").as("u")), Seq("u"), "left_anti")
        .groupBy("u", "label").agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("u").orderBy(col("c").desc, col("label").asc)))
        .filter(col("rk") === 1)
        .select(col("u").as("vec_id"), col("label"))
    val r1 = propagate(seeds).persist()
    val r2 = propagate(seeds.unionByName(r1))
    seeds.withColumn("stage", lit("seed"))
      .unionByName(r1.withColumn("stage", lit("r1")))
      .unionByName(r2.withColumn("stage", lit("r2")))
      .groupBy("label").agg(
        sum(when(col("stage") === "seed", 1L).otherwise(0L)).as("n_seeds"),
        sum(when(col("stage") === "r1", 1L).otherwise(0L)).as("n_round1"),
        sum(when(col("stage") === "r2", 1L).otherwise(0L)).as("n_round2"))
      .orderBy("label")
  }

  private val qLabelPropSql =
    s"""WITH ${TrainingDataQueries.BandSigsCte},
       |ed AS (
       |  SELECT DISTINCT a.vec_id AS u, b.vec_id AS v
       |  ${lshJoinSql("<>")}),
       |seeds AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label
       |  FROM embeddings WHERE vec_id % 3 = 0),
       |v1 AS (
       |  SELECT ed.u, s.label, count(*) AS c
       |  FROM ed JOIN seeds s ON ed.v = s.vec_id
       |  WHERE ed.u NOT IN (SELECT vec_id FROM seeds) GROUP BY 1, 2),
       |r1 AS (
       |  SELECT u AS vec_id, label FROM (
       |    SELECT u, label,
       |      row_number() OVER (PARTITION BY u ORDER BY c DESC, label) AS rk
       |    FROM v1) WHERE rk = 1),
       |l1 AS (SELECT * FROM seeds UNION ALL SELECT * FROM r1),
       |v2 AS (
       |  SELECT ed.u, l.label, count(*) AS c
       |  FROM ed JOIN l1 l ON ed.v = l.vec_id
       |  WHERE ed.u NOT IN (SELECT vec_id FROM l1) GROUP BY 1, 2),
       |r2 AS (
       |  SELECT u AS vec_id, label FROM (
       |    SELECT u, label,
       |      row_number() OVER (PARTITION BY u ORDER BY c DESC, label) AS rk
       |    FROM v2) WHERE rk = 1),
       |a3 AS (
       |  SELECT label, 'seed' AS stage FROM seeds
       |  UNION ALL SELECT label, 'r1' FROM r1
       |  UNION ALL SELECT label, 'r2' FROM r2)
       |SELECT label,
       |  CAST(sum(CASE WHEN stage = 'seed' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_seeds,
       |  CAST(sum(CASE WHEN stage = 'r1' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_round1,
       |  CAST(sum(CASE WHEN stage = 'r2' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_round2
       |FROM a3 GROUP BY 1 ORDER BY 1""".stripMargin

  // --- AMS tug-of-war F2 sketch (join-size estimation) -----------------------
  //
  // Alon–Matias–Szegedy's second-frequency-moment estimator — the
  // sketch a distributed planner consults before committing to a
  // self-join: F2 = Σ tf² of a join key IS the key-equi self-join's
  // output cardinality, and the tug-of-war sketch estimates it from S
  // counters instead of the full frequency vector. Each counter is
  // Σ_terms sgn(term, s)·tf with a deterministic ±1 hash sign — a plain
  // algebraic SUM, so the sketch partial-aggregates map-side and merges
  // by elementwise addition (the property that lets 1000 executors each
  // fold their shard and ship S longs). The estimate is the LOWER MEDIAN
  // of the S counter squares (an integer rank-pick both engines agree
  // on exactly — no averaging float). This query reports the sketch
  // AGAINST the exact F2 from the same term table so the estimate's
  // error is itself oracle-checked. Scale notes: the sketch side needs
  // no tf materialization at all at 100 TB (fold sgn·1 per occurrence);
  // here the term table is reused for the exact twin. Counter squares
  // stay far below 2^63 while |counter| ≲ √F2 ≪ 3·10⁹ — beyond that the
  // counters (not the corpus) move to 128-bit, still S values: that is
  // the `WideStats` knob, wired in `amsFromTf` (r5).

  private val AmsS = 16

  private def sid7(c: Column): Column =
    conv(substring(md5(c), 1, 7), 16, 10).cast("long")

  private val ScaleTokensCte =
    """toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
      |  FROM documents)""".stripMargin

  private def qAmsSketch(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val tf = t(s, dir, "documents")
      .select(explode(call_function("graft_ws_tokens", col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("tf"))
      .persist()
    amsFromTf(tf)
  }

  /** F2 exact + AMS estimate over `(tok, tf)` rows — the body of
    * `q_ams_sketch`, factored so `WideStatsSpec` can drive it past the
    * BIGINT bound. Round-5 audit: the r4 comment bounded the COUNTERS
    * (|c| ≲ √F2 ≪ 3·10⁹); the same bound binds `f2_exact = Σtf²`
    * per-row (tf ≤ 3·10⁹) and the squares c² / F2 itself — all widened
    * together by the `WideStats` knob (DECIMAL(38,0), exact to
    * F2 ≈ 10³⁸) while the plan shape is unchanged.
    */
  private[graft] def amsFromTf(tf: DataFrame): DataFrame = {
    val exact = tf.agg(count(lit(1)).as("n_terms"),
      WideStats.wsum(col("tf")).as("f1"),
      WideStats.wsumProd(col("tf"), col("tf")).as("f2_exact"))
    val ctr = tf
      .select(col("tok"), col("tf"),
        explode(expr(s"sequence(0, ${AmsS - 1})")).as("sk"))
      .withColumn("sgn",
        pmod(sid7(concat(col("tok"), lit(":"), col("sk").cast("string"))),
          lit(2L)) * 2L - 1L)
      .groupBy("sk").agg(WideStats.wsumProd(col("sgn"), col("tf")).as("c"))
    val med = ctr
      .withColumn("rk", row_number().over(
        Window.orderBy(WideStats.prod(col("c"), col("c")).asc, col("sk"))))
      .filter(col("rk") === AmsS / 2)
      .select(WideStats.prod(col("c"), col("c")).as("f2_est"))
    exact.crossJoin(broadcast(med))
      .select(col("n_terms"), col("f1"), col("f2_exact"), col("f2_est"),
        floor(abs(col("f2_est") - col("f2_exact")) * lit(1e6) / col("f2_exact"))
          .cast("long").as("err_ppm"))
  }

  private val qAmsSketchSql =
    s"""WITH $ScaleTokensCte,
       |tf AS (
       |  SELECT tok, count(*) AS tf
       |  FROM (SELECT unnest(ts) AS tok FROM toks) GROUP BY 1),
       |ex AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_terms,
       |    CAST(sum(tf) AS BIGINT) AS f1,
       |    CAST(sum(tf * tf) AS BIGINT) AS f2_exact
       |  FROM tf),
       |ctr AS (
       |  SELECT sk,
       |    CAST(sum(((('0x' || substr(md5(tok || ':' || CAST(sk AS VARCHAR)), 1, 7))::BIGINT
       |      % 2) * 2 - 1) * tf) AS BIGINT) AS c
       |  FROM tf CROSS JOIN (SELECT unnest(generate_series(0, ${AmsS - 1})) AS sk) s
       |  GROUP BY 1),
       |md AS (
       |  SELECT c * c AS f2_est FROM (
       |    SELECT c, sk, row_number() OVER (ORDER BY c * c, sk) AS rk FROM ctr)
       |  WHERE rk = ${AmsS / 2})
       |SELECT n_terms, f1, f2_exact, f2_est,
       |  CAST(floor(abs(f2_est - f2_exact) * 1e6 / f2_exact) AS BIGINT) AS err_ppm
       |FROM ex CROSS JOIN md""".stripMargin

  // --- Benford first-digit audit ----------------------------------------------
  //
  // Corpus forensics: natural size distributions follow Benford's law
  // (P(first digit = d) = log10(1 + 1/d)); synthetic, truncated, or
  // templated populations don't — a cheap fabrication/pipeline-bug
  // detector over any positive magnitude column. The Benford shares are
  // TRANSCENDENTAL, so (house discipline, same as q_ndcg_eval's log2
  // table) they enter BOTH plans as driver-computed fixed-point
  // literals — the engines never evaluate log10. Observed shares are
  // exact integer divisions at parts-per-billion. One narrow projection
  // + a 9-group aggregate; the digit table is a 9-row literal join, so
  // zero-count digits still report.

  private val BenfordPpb: Seq[(Int, Long)] =
    (1 to 9).map(d => d -> math.floor(math.log10(1.0 + 1.0 / d) * 1e9).toLong)

  private def qBenford(s: SparkSession, dir: String): DataFrame = {
    val bt = s.range(1)
      .select(explode(expr("array(" + BenfordPpb.map { case (d, f) =>
        s"struct($d AS digit, ${f}L AS benford_ppb)"
      }.mkString(",") + ")")).as("b"))
      .select(col("b.digit").as("digit"), col("b.benford_ppb").as("benford_ppb"))
    val counts = t(s, dir, "documents")
      .filter(col("n_chars") > 0)
      .select(substring(col("n_chars").cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val tot = counts.agg(sum("n_obs").as("n_total"))
    bt.join(counts, Seq("digit"), "left")
      .na.fill(0L, Seq("n_obs"))
      .crossJoin(broadcast(tot))
      .withColumn("share_ppb", expr("(n_obs * 1000000000L) div n_total"))
      .select(col("digit"), col("n_obs"), col("share_ppb"), col("benford_ppb"),
        abs(col("share_ppb") - col("benford_ppb")).as("dev_ppb"))
      .orderBy("digit")
  }

  private val qBenfordSql = {
    val vals = BenfordPpb.map { case (d, f) => s"($d, $f)" }.mkString(", ")
    s"""WITH b(digit, benford_ppb) AS (VALUES $vals),
       |c AS (
       |  SELECT CAST(substr(CAST(n_chars AS VARCHAR), 1, 1) AS INT) AS digit,
       |    count(*) AS n_obs
       |  FROM documents WHERE n_chars > 0 GROUP BY 1),
       |t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM c)
       |SELECT b.digit,
       |  CAST(coalesce(c.n_obs, 0) AS BIGINT) AS n_obs,
       |  CAST((coalesce(c.n_obs, 0) * 1000000000) // n_total AS BIGINT) AS share_ppb,
       |  CAST(b.benford_ppb AS BIGINT) AS benford_ppb,
       |  CAST(abs((coalesce(c.n_obs, 0) * 1000000000) // n_total - b.benford_ppb)
       |    AS BIGINT) AS dev_ppb
       |FROM b LEFT JOIN c ON b.digit = c.digit CROSS JOIN t
       |ORDER BY b.digit""".stripMargin
  }

  // --- largest-remainder quota allocation -------------------------------------
  //
  // Hamilton apportionment of a fixed global sample budget across
  // (lang, source) strata — the exact-integer answer to "give every
  // stratum its proportional share of B docs, and make the total come
  // out to EXACTLY B". floor(n·B/N) per stratum plus one extra for the
  // L = B − Σfloor largest fractional remainders (ties broken by
  // stratum key, so both engines pick the same winners). The guarantee
  // the naive round() lacks: Σ alloc = B always, and every stratum is
  // within 1 of its real quota. Plan: one grain aggregate, two 1-row
  // broadcasts, one window over the STRATA table (bounded by the grain
  // cardinality, never the corpus — the only unpartitioned window here
  // sorts |langs|·|sources| rows).

  private val QuotaBudget = 1000L

  private def qQuotaAlloc(s: SparkSession, dir: String): DataFrame = {
    val st = t(s, dir, "documents")
      .groupBy("lang", "source").agg(count(lit(1)).as("n_docs"))
    val tot = st.agg(sum("n_docs").as("n_total"))
    val wb = st.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"(n_docs * $QuotaBudget) div n_total"))
      .withColumn("rem", expr(s"(n_docs * $QuotaBudget) % n_total"))
    val lb = wb.agg(sum("base").as("sum_base"))
    wb.crossJoin(broadcast(lb))
      .withColumn("rk", row_number().over(
        Window.orderBy(desc("rem"), col("lang"), col("source"))))
      .withColumn("alloc", col("base") +
        when(col("rk") <= lit(QuotaBudget) - col("sum_base"), 1L).otherwise(0L))
      .select(col("lang"), col("source"), col("n_docs"), col("base"),
        col("rem"), col("alloc"))
      .orderBy("lang", "source")
  }

  private val qQuotaAllocSql =
    s"""WITH st AS (
       |  SELECT lang, source, count(*) AS n_docs FROM documents GROUP BY 1, 2),
       |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM st),
       |wb AS (
       |  SELECT lang, source, n_docs,
       |    (n_docs * $QuotaBudget) // n_total AS base,
       |    (n_docs * $QuotaBudget) % n_total AS rem
       |  FROM st CROSS JOIN t),
       |lb AS (SELECT CAST(sum(base) AS BIGINT) AS sum_base FROM wb),
       |rk AS (
       |  SELECT *, row_number() OVER (ORDER BY rem DESC, lang, source) AS rk
       |  FROM wb)
       |SELECT lang, source, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(base AS BIGINT) AS base, CAST(rem AS BIGINT) AS rem,
       |  CAST(base + CASE WHEN rk <= $QuotaBudget - sum_base THEN 1 ELSE 0 END
       |    AS BIGINT) AS alloc
       |FROM rk CROSS JOIN lb ORDER BY lang, source""".stripMargin

  // --- Borůvka minimum-spanning-forest rounds (single-linkage at scale) -------
  //
  // The hierarchical-clustering member the centroid (k-means), density
  // (DBSCAN), and seeded (label-prop) families can't give: single-link
  // structure = the minimum spanning forest of the similarity graph, and
  // Borůvka is THE distributed MST algorithm (each round every component
  // picks its minimum outgoing edge — all selections are provably MST
  // edges — then components contract; rounds halve the component count,
  // so log₂(n) rounds finish the forest; the MapReduce-MST literature
  // (Karloff–Suri–Vassilvitskii model) is exactly this loop). Edges are
  // the band-amplified LSH candidates (sub-quadratic, the near-dup
  // family's shared caveat) with exact fixed-point squared-L2 weights;
  // the total order (dist, id_a, id_b) makes every argmin — and hence
  // the whole forest — deterministic cross-engine. Two rounds run
  // unrolled; contraction reuses the battery's pointer-jumping
  // connected components ON THE LABEL GRAPH (≤ one edge per component —
  // the corpus-sized edge table never enters the contraction). Per
  // round: one label join, one per-component argmin window (partitioned
  // by component), one tiny-forest closure. Output: per-round component
  // counts, edges selected, and total selected weight — the dendrogram's
  // first two levels.

  private def qBoruvkaMst(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val edges = TrainingDataQueries.lshPairDists(s, dir).persist()
    val nodes = edges.select(col("id_a").as("node"))
      .unionByName(edges.select(col("id_b").as("node"))).distinct()
    // per-component argmin, both endpoint components; the same edge may
    // win for both, so dedupe — the survivors are MST edges (cut property)
    def selectMin(el: DataFrame, checkpoint: Boolean): DataFrame = {
      val contrib = el.select(col("la").as("comp"), col("dist"),
          col("id_a"), col("id_b"), col("la"), col("lb"))
        .unionByName(el.select(col("lb").as("comp"), col("dist"),
          col("id_a"), col("id_b"), col("la"), col("lb")))
      val sel = contrib.withColumn("rk", row_number().over(
          Window.partitionBy("comp").orderBy(col("dist"), col("id_a"), col("id_b"))))
        .filter(col("rk") === 1)
        .select("id_a", "id_b", "dist", "la", "lb")
        .distinct()
      if (checkpoint) sel.localCheckpoint(true) else sel
    }
    def selStats(sel: DataFrame): (Long, Long) = {
      val r = sel.agg(count(lit(1)).as("c"),
        coalesce(sum("dist"), lit(0L)).as("w")).head
      (r.getLong(0), r.getLong(1))
    }
    // Selected edges under a strict total order can never cycle (the
    // heaviest edge of a would-be cycle is nobody's minimum), so the
    // label forest is acyclic and every selected edge merges exactly two
    // components: n_comp_after = n_comp_before − n_selected. That
    // identity replaces a distinct-count job per round, and the FINAL
    // round needs no contraction at all. The spec replays the real
    // contraction in memory and pins the identity.
    val nNodes = nodes.count()
    // round 1: labels ARE the node ids — no label join needed
    val s1 = selectMin(edges.select(col("id_a"), col("id_b"), col("dist"),
      col("id_a").as("la"), col("id_b").as("lb")), checkpoint = true)
    val (n1, w1) = selStats(s1)
    // contract round 1 (the only contraction two rounds need)
    val lcc = TrainingDataQueries.connectedComponents(
      s1.select(col("la").as("doc_a"), col("lb").as("doc_b")))
    val relab = lcc.select(col("node").as("old_label"), col("label").as("new_label"))
    val labels = nodes.join(relab, nodes("node") === relab("old_label"), "left")
      .select(col("node"), coalesce(col("new_label"), col("node")).as("label"))
      .localCheckpoint(true)
    val e2 = edges
      .join(labels.select(col("node").as("id_a"), col("label").as("la")), "id_a")
      .join(labels.select(col("node").as("id_b"), col("label").as("lb")), "id_b")
      .filter(col("la") =!= col("lb"))
    val (n2, w2) = selStats(selectMin(e2, checkpoint = false))
    edges.unpersist()
    val after1 = nNodes - n1
    import s.implicits._
    Seq((1, nNodes, n1, w1, after1), (2, after1, n2, w2, after1 - n2))
      .toDF("round", "n_comp_before", "n_edges_sel", "total_weight", "n_comp_after")
      .orderBy("round")
  }

  private val qBoruvkaMstSql = {
    s"""WITH RECURSIVE ${TrainingDataQueries.BandSigsCte},
       |${lshPairDistsCtes("ed")},
       |nodes AS (
       |  SELECT DISTINCT node FROM (
       |    SELECT id_a AS node FROM ed UNION ALL SELECT id_b FROM ed)),
       |c1 AS (
       |  SELECT id_a AS comp, dist, id_a, id_b, id_a AS la, id_b AS lb FROM ed
       |  UNION ALL
       |  SELECT id_b, dist, id_a, id_b, id_a, id_b FROM ed),
       |s1 AS (
       |  SELECT DISTINCT id_a, id_b, dist, la, lb FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY comp ORDER BY dist, id_a, id_b) AS rk FROM c1)
       |  WHERE rk = 1),
       |sym1 AS (SELECT la AS src, lb AS dst FROM s1 UNION ALL SELECT lb, la FROM s1),
       |reach1(node, lab) AS (
       |  SELECT src, src FROM sym1
       |  UNION
       |  SELECT sym1.src, reach1.lab FROM sym1 JOIN reach1 ON sym1.dst = reach1.node),
       |lab1 AS (SELECT node AS old_label, min(lab) AS new_label FROM reach1 GROUP BY 1),
       |l1 AS (
       |  SELECT n.node, coalesce(l.new_label, n.node) AS label
       |  FROM nodes n LEFT JOIN lab1 l ON n.node = l.old_label),
       |e2 AS (
       |  SELECT e.id_a, e.id_b, e.dist, a.label AS la, b.label AS lb
       |  FROM ed e JOIN l1 a ON e.id_a = a.node JOIN l1 b ON e.id_b = b.node
       |  WHERE a.label <> b.label),
       |c2 AS (
       |  SELECT la AS comp, dist, id_a, id_b, la, lb FROM e2
       |  UNION ALL
       |  SELECT lb, dist, id_a, id_b, la, lb FROM e2),
       |s2 AS (
       |  SELECT DISTINCT id_a, id_b, dist, la, lb FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY comp ORDER BY dist, id_a, id_b) AS rk FROM c2)
       |  WHERE rk = 1),
       |ct AS (
       |  SELECT (SELECT count(*) FROM nodes) AS nn,
       |    (SELECT count(*) FROM s1) AS n1,
       |    coalesce((SELECT sum(dist) FROM s1), 0) AS w1,
       |    (SELECT count(*) FROM s2) AS n2,
       |    coalesce((SELECT sum(dist) FROM s2), 0) AS w2)
       |SELECT 1 AS round, CAST(nn AS BIGINT) AS n_comp_before,
       |  CAST(n1 AS BIGINT) AS n_edges_sel, CAST(w1 AS BIGINT) AS total_weight,
       |  CAST(nn - n1 AS BIGINT) AS n_comp_after
       |FROM ct
       |UNION ALL
       |SELECT 2, CAST(nn - n1 AS BIGINT), CAST(n2 AS BIGINT), CAST(w2 AS BIGINT),
       |  CAST(nn - n1 - n2 AS BIGINT)
       |FROM ct
       |ORDER BY round""".stripMargin
  }

  // --- greedy maximum-coverage selection (submodular data selection) ---------
  //
  // The facility-location/coverage member of the selection family
  // (k-center picks for DISTANCE diversity, reservoir/stratified for
  // representativeness — this picks for VOCABULARY coverage): greedily
  // select K documents maximizing the count of distinct covered tokens,
  // the classic (1−1/e)-approximate greedy for monotone submodular
  // objectives that coverage-based data-selection recipes build on.
  // Each round is ONE pass over the (doc, token) table: anti-join the
  // already-covered token set (bounded by K·|doc vocab| — broadcast),
  // anti-join the ≤K selected docs, one partial-agg gain count, one
  // distributed TakeOrdered argmax (gain desc, doc_id asc — exact and
  // deterministic). The corpus never shuffles; K passes total, same
  // discipline as q_kcenter. Marginal gains telescope: their running
  // sum IS the covered-vocabulary curve, so the output carries the
  // coverage curve for free. The universe is word BIGRAMS (the near-dup
  // family's shingles): the synthetic generator saturates its unigram
  // vocabulary in one document (the q_heaps_fit finding), while the
  // bigram space stays rich enough that every greedy round has real
  // marginal gain. A round whose candidates cover nothing new emits no
  // row — greedy stops at saturation by construction.

  private val McK = 5

  private def qMaxCover(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // (doc_id, bigram), distinct per doc via the codegen'd shingle expr
    val dt = TrainingDataQueries.bigramShingles(s, dir).persist()
    var selected: DataFrame = null
    var covered: DataFrame = null
    for (r <- 1 to McK) {
      val uncov = if (covered == null) dt
        else dt.join(broadcast(covered), Seq("tok"), "left_anti")
      val cand = if (selected == null) uncov
        else uncov.join(broadcast(selected.select("doc_id")), Seq("doc_id"), "left_anti")
      val w = cand.groupBy("doc_id").agg(count(lit(1)).as("gain"))
        .orderBy(desc("gain"), col("doc_id")).limit(1)
        .select(lit(r).as("rank"), col("doc_id"), col("gain"))
        .localCheckpoint(true)
      selected = if (selected == null) w else selected.unionByName(w)
      val wTok = dt.join(broadcast(w.select("doc_id")), "doc_id")
        .select("tok").distinct()
      covered = (if (covered == null) wTok
        else covered.unionByName(wTok).distinct()).localCheckpoint(true)
    }
    dt.unpersist()
    selected
      .withColumn("cum_cover", sum("gain").over(Window.orderBy("rank")))
      .orderBy("rank")
  }

  private val qMaxCoverSql = {
    def round(i: Int): String =
      s"""g$i AS (
         |  SELECT doc_id, count(*) AS gain FROM dt
         |  WHERE doc_id NOT IN (SELECT doc_id FROM sel${i - 1})
         |    AND tok NOT IN (SELECT tok FROM cov${i - 1})
         |  GROUP BY 1),
         |w$i AS (
         |  SELECT $i AS rank, doc_id, gain FROM g$i
         |  ORDER BY gain DESC, doc_id LIMIT 1),
         |sel$i AS (SELECT doc_id FROM sel${i - 1} UNION ALL SELECT doc_id FROM w$i),
         |cov$i AS (
         |  SELECT tok FROM cov${i - 1}
         |  UNION
         |  SELECT tok FROM dt WHERE doc_id = (SELECT doc_id FROM w$i))""".stripMargin
    s"""WITH $ScaleTokensCte,
       |dt AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(ts)-1), i -> ts[i] || ' ' || ts[i+1]))) AS tok
       |  FROM toks WHERE len(ts) >= 2),
       |g1 AS (SELECT doc_id, count(*) AS gain FROM dt GROUP BY 1),
       |w1 AS (
       |  SELECT 1 AS rank, doc_id, gain FROM g1
       |  ORDER BY gain DESC, doc_id LIMIT 1),
       |sel1 AS (SELECT doc_id FROM w1),
       |cov1 AS (SELECT DISTINCT tok FROM dt WHERE doc_id = (SELECT doc_id FROM w1)),
       |${(2 to McK).map(round).mkString(",\n")},
       |u AS (${(1 to McK).map(i => s"SELECT * FROM w$i").mkString(" UNION ALL ")})
       |SELECT rank, doc_id, CAST(gain AS BIGINT) AS gain,
       |  CAST(sum(gain) OVER (ORDER BY rank) AS BIGINT) AS cum_cover
       |FROM u ORDER BY rank""".stripMargin
  }

  // --- Theil–Sen robust slope (median of pairwise slopes) ---------------------
  //
  // The robust-regression complement to q_zipf_fit's OLS and
  // q_mad_outliers' location statistic: the Theil–Sen estimator (median
  // of all pairwise slopes) has a 29% breakdown point — a handful of
  // mojibake megadocs can't drag it the way they drag least squares.
  // Pairwise anything is quadratic, so the estimator runs on a BOUNDED
  // DETERMINISTIC SAMPLE (md5 rank-pick of 64 docs — the q_group_split
  // hash discipline), giving ≤ C(64,2) = 2016 pairs at ANY corpus size:
  // a broadcast self-join of a driver-bounded table, never the corpus.
  // Slopes fix-point to ppm BEFORE the rank pick (integer floor both
  // engines agree on; x-ties are skipped — the standard Theil–Sen
  // convention), the median is an exact lower-median rank pick, and the
  // intercept is the median residual at that slope — every reported
  // number an integer.
  // int64 bound (round-5 audit): corpus-size-INDEPENDENT — every
  // arithmetic term lives on the 64-row sample; the largest magnitude
  // is the residual y·10⁶ − slope_ppm·x ≲ 10¹⁵ at y ≤ 10⁶, x ≤ 10³.
  // No widening needed at any corpus scale.

  private val TsN = 64

  private def qTheilSen(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val sample = t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars").as("x"),
        size(array_distinct(call_function("graft_ws_tokens", col("text"))))
          .cast("long").as("y"))
      .withColumn("m", md5(col("doc_id").cast("string")))
      .orderBy("m", "doc_id").limit(TsN)
      .select("doc_id", "x", "y")
      .persist()
    val pairs = sample.select(col("doc_id").as("ia"), col("x").as("xa"), col("y").as("ya"))
      .join(broadcast(sample.select(col("doc_id").as("ib"),
        col("x").as("xb"), col("y").as("yb"))),
        col("ia") < col("ib") && col("xa") =!= col("xb"))
      .withColumn("slope_ppm",
        expr("((yb - ya) * 1000000L) div (xb - xa)"))
    val np = pairs.agg(count(lit(1)).as("n_pairs"))
    val slope = pairs
      .withColumn("rk", row_number().over(
        Window.orderBy(col("slope_ppm"), col("ia"), col("ib"))))
      .crossJoin(broadcast(np))
      .filter(col("rk") === expr("(n_pairs + 1) div 2"))
      .select(col("slope_ppm"), col("n_pairs"))
    val resid = sample.crossJoin(broadcast(slope))
      .withColumn("r_fp", col("y") * lit(1000000L) - col("slope_ppm") * col("x"))
    val intercept = resid
      .withColumn("rk", row_number().over(Window.orderBy(col("r_fp"), col("doc_id"))))
      .filter(col("rk") === lit((TsN + 1) / 2))
      .select(col("slope_ppm"), col("n_pairs"), col("r_fp").as("intercept_fp"))
    intercept.select(lit(TsN).cast("long").as("n_sample"), col("n_pairs"),
      col("slope_ppm"), col("intercept_fp"))
  }

  private val qTheilSenSql =
    s"""WITH $ScaleTokensCte,
       |sm AS (
       |  SELECT doc_id, x, y FROM (
       |    SELECT d.doc_id, d.n_chars AS x,
       |      CAST(len(list_distinct(t.ts)) AS BIGINT) AS y,
       |      md5(CAST(d.doc_id AS VARCHAR)) AS m
       |    FROM documents d JOIN toks t ON d.doc_id = t.doc_id)
       |  ORDER BY m, doc_id LIMIT $TsN),
       |pr AS (
       |  SELECT a.doc_id AS ia, b.doc_id AS ib,
       |    ((b.y - a.y) * 1000000) // (b.x - a.x) AS slope_ppm
       |  FROM sm a JOIN sm b ON a.doc_id < b.doc_id AND a.x <> b.x),
       |np AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pr),
       |sl AS (
       |  SELECT slope_ppm FROM (
       |    SELECT slope_ppm, row_number() OVER (ORDER BY slope_ppm, ia, ib) AS rk
       |    FROM pr)
       |  WHERE rk = ((SELECT n_pairs FROM np) + 1) // 2),
       |ic AS (
       |  SELECT r_fp AS intercept_fp FROM (
       |    SELECT y * 1000000 - (SELECT slope_ppm FROM sl) * x AS r_fp, doc_id
       |    FROM sm)
       |  ORDER BY r_fp, doc_id LIMIT 1 OFFSET ${(TsN + 1) / 2 - 1})
       |SELECT CAST($TsN AS BIGINT) AS n_sample, (SELECT n_pairs FROM np) AS n_pairs,
       |  CAST((SELECT slope_ppm FROM sl) AS BIGINT) AS slope_ppm,
       |  CAST((SELECT intercept_fp FROM ic) AS BIGINT) AS intercept_fp""".stripMargin

  // --- mergeable histogram quantiles (with exact-error audit) ----------------
  //
  // The practical distributed quantile: a fixed-width histogram is a
  // MERGEABLE sketch (per-bucket counts are algebraic sums — map-side
  // partials, elementwise merge, constant size), so 1000 executors ship
  // B longs each instead of sorting the corpus. Estimate = the upper
  // edge of the first bucket whose cumulative count reaches ⌈q·N/100⌉,
  // with guaranteed error ≤ one bucket width. This query reports the
  // estimates AGAINST the exact rank-picked quantiles from the same
  // column, so the sketch's realized error is itself oracle-checked
  // (the exact side's global sort is the audit's cost, not the
  // sketch's — at 100 TB the audit runs on a sample). Two corpus
  // passes total: one min/max agg to fix the domain, one bucket-count
  // agg; the quantile math runs on B rows.

  private val HqB = 64L
  private val HqQs = Seq(50, 90, 99)

  private def qHistQuantiles(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("n_chars").as("x"))
    val mm = d.agg(min("x").as("mn"), max("x").as("mx"),
      count(lit(1)).as("n"))
    val hist = d.crossJoin(broadcast(mm))
      .withColumn("b", expr(s"((x - mn) * $HqB) div (mx - mn + 1)"))
      .groupBy("b").agg(count(lit(1)).as("c"))
    val cum = hist
      .withColumn("cum", sum("c").over(
        Window.orderBy("b").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val qs = s.range(1).select(explode(expr(
      "array(" + HqQs.map(q => s"${q}L").mkString(",") + ")")).as("q"))
    val est = qs.crossJoin(broadcast(mm))
      .join(cum, cum("cum") >= expr("(q * n + 99) div 100"))
      .groupBy("q", "mn", "mx", "n").agg(min("b").as("qb"))
      // bucket upper edge: mn + (qb+1)·width − 1, width = (mx−mn+1)/B exact
      .withColumn("est", expr(s"mn + ((qb + 1) * (mx - mn + 1)) div $HqB - 1"))
    val exact = d
      .withColumn("rk", row_number().over(Window.orderBy("x")))
      .crossJoin(broadcast(mm.select(col("n").as("n2"))))
      .join(qs, col("rk") === expr("(q * n2 + 99) div 100"))
      .select(col("q").as("q2"), col("x").as("exact"))
    est.join(exact, col("q") === col("q2"))
      .select(col("q"), col("n"), col("qb"), col("est"), col("exact"),
        abs(col("est") - col("exact")).as("err"),
        expr(s"(mx - mn + 1) div $HqB + 1").as("max_err"))
      .orderBy("q")
  }

  private val qHistQuantilesSql = {
    val qvals = HqQs.mkString(", ")
    s"""WITH d AS (SELECT n_chars AS x FROM documents),
       |mm AS (
       |  SELECT min(x) AS mn, max(x) AS mx, CAST(count(*) AS BIGINT) AS n FROM d),
       |hist AS (
       |  SELECT ((x - mn) * $HqB) // (mx - mn + 1) AS b, count(*) AS c
       |  FROM d CROSS JOIN mm GROUP BY 1),
       |cm AS (
       |  SELECT b, sum(c) OVER (ORDER BY b
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc
       |  FROM hist),
       |qs AS (SELECT CAST(unnest([$qvals]) AS BIGINT) AS q),
       |est AS (
       |  SELECT q, mn, mx, n, min(b) AS qb
       |  FROM qs CROSS JOIN mm JOIN cm ON cm.cumc >= (q * n + 99) // 100
       |  GROUP BY 1, 2, 3, 4),
       |ex AS (
       |  SELECT q AS q2, x AS exact FROM qs CROSS JOIN mm
       |  JOIN (SELECT x, row_number() OVER (ORDER BY x) AS rk FROM d) r
       |    ON r.rk = (q * n + 99) // 100)
       |SELECT q, n, CAST(qb AS BIGINT) AS qb,
       |  CAST(mn + ((qb + 1) * (mx - mn + 1)) // $HqB - 1 AS BIGINT) AS est,
       |  CAST(exact AS BIGINT) AS exact,
       |  CAST(abs(mn + ((qb + 1) * (mx - mn + 1)) // $HqB - 1 - exact) AS BIGINT) AS err,
       |  CAST((mx - mn + 1) // $HqB + 1 AS BIGINT) AS max_err
       |FROM est JOIN ex ON est.q = ex.q2
       |ORDER BY q""".stripMargin
  }

  // --- priority sampling (subset-sum estimation from k rows) -----------------
  //
  // Duffield–Lund–Thorup priority sampling — the ESTIMATION complement
  // to the Efraimidis–Espirakis reservoir (which draws a sample;
  // this one answers "what does any weight-sum look like" from k rows
  // with provably near-optimal variance): priority p_i = w_i/u_i with
  // u_i uniform, keep the k highest priorities, τ = the (k+1)-th, and
  // every kept row estimates its weight as max(w_i, τ) — unbiased for
  // ANY subset sum. u_i is a deterministic 20-bit md5 draw (the
  // q_group_split hash discipline), priorities integer-divide in weight
  // units so ranking, τ, and every estimate are exact BIGINTs. Plan:
  // one narrow projection + one distributed top-(k+1)
  // (TakeOrderedAndProject) + one broadcast of τ back over the kept
  // rows; the corpus is scanned once and never shuffled.

  private val PsK = 32

  private def qPrioritySample(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars").as("w"))
      .withColumn("h20",
        pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 5), 16, 10)
          .cast("long"), lit(1048576L)))
      .withColumn("p", expr("(w * 1048576L) div (h20 + 1)"))
    val top = d.orderBy(desc("p"), col("doc_id")).limit(PsK + 1)
      .localCheckpoint(true)
    val tau = top.orderBy(col("p"), col("doc_id")).limit(1)
      .select(col("p").as("tau"))
    val kept = top.orderBy(desc("p"), col("doc_id")).limit(PsK)
    val tot = t(s, dir, "documents").agg(sum("n_chars").as("w_total"))
    kept.crossJoin(broadcast(tau))
      .withColumn("est", greatest(col("w"), col("tau")))
      .agg(count(lit(1)).as("k"), max("tau").as("tau"),
        sum("est").as("w_est"))
      .crossJoin(broadcast(tot))
      .select(col("k"), col("tau"), col("w_total"), col("w_est"),
        floor(abs(col("w_est") - col("w_total")) * lit(1e6) / col("w_total"))
          .cast("long").as("err_ppm"))
  }

  private val qPrioritySampleSql =
    s"""WITH d AS (
       |  SELECT doc_id, n_chars AS w,
       |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 5))::BIGINT
       |      % 1048576) AS h20
       |  FROM documents),
       |p AS (SELECT doc_id, w, (w * 1048576) // (h20 + 1) AS p FROM d),
       |top AS (SELECT * FROM p ORDER BY p DESC, doc_id LIMIT ${PsK + 1}),
       |tau AS (SELECT p AS tau FROM top ORDER BY p, doc_id LIMIT 1),
       |kept AS (SELECT * FROM top ORDER BY p DESC, doc_id LIMIT $PsK),
       |tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS w_total FROM documents),
       |ag AS (
       |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(max(tau) AS BIGINT) AS tau,
       |    CAST(sum(greatest(w, tau)) AS BIGINT) AS w_est
       |  FROM kept CROSS JOIN tau)
       |SELECT k, tau, w_total, w_est,
       |  CAST(floor(abs(w_est - w_total) * 1e6 / w_total) AS BIGINT) AS err_ppm
       |FROM ag CROSS JOIN tot""".stripMargin

  // --- join-key skew profile (log2-df histogram) ------------------------------
  //
  // The pre-flight every 100 TB join should run before choosing a
  // strategy: profile the key-frequency distribution — a Zipf head
  // means salting or AQE skew-split, a flat profile means a plain
  // hash join. Per-key counts are one partial-agg pass; the profile
  // itself is the LOG2-BINNED histogram of those counts (bin =
  // bit-length of df), a ≤64-row mergeable summary at any corpus size —
  // the full per-key rank table a naive percentile profile would sort
  // is exactly what this avoids. Reports per bin: #keys, total rows,
  // the bin's hottest key's df, and each bin's row share — the top bin
  // IS the skew diagnosis (its share ≈ what one task would own
  // unsalted).

  private def qSkewReport(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val df = t(s, dir, "documents")
      .select(explode(call_function("graft_ws_tokens", col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val tot = df.agg(sum("df").as("total"))
    // bit-length bin, NOT floor(log2(df)): log2 is a libm double whose
    // rounding at exact powers of two differs across engines; the
    // binary-string length is integer-exact in both
    df.withColumn("bin", expr("CAST(length(bin(df)) - 1 AS BIGINT)"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_keys"), sum("df").as("rows"), max("df").as("max_df"))
      .crossJoin(broadcast(tot))
      .select(col("bin"), col("n_keys"), col("rows"), col("max_df"),
        expr("(rows * 1000000L) div total").as("share_ppm"))
      .orderBy("bin")
  }

  private val qSkewReportSql =
    s"""WITH $ScaleTokensCte,
       |df AS (
       |  SELECT tok, count(*) AS df
       |  FROM (SELECT unnest(ts) AS tok FROM toks) GROUP BY 1),
       |tt AS (SELECT CAST(sum(df) AS BIGINT) AS total FROM df)
       |SELECT CAST(length(bin(df)) - 1 AS BIGINT) AS bin,
       |  CAST(count(*) AS BIGINT) AS n_keys,
       |  CAST(sum(df) AS BIGINT) AS rows,
       |  CAST(max(df) AS BIGINT) AS max_df,
       |  CAST((sum(df) * 1000000) // total AS BIGINT) AS share_ppm
       |FROM df CROSS JOIN tt
       |GROUP BY 1, total ORDER BY 1""".stripMargin

  // --- Gini decision-stump induction ------------------------------------------
  //
  // One-split tree learning in-engine (completing the learning family
  // next to the BPE merges, the linear probe, conformal gating, and
  // label propagation): choose the n_chars threshold that best
  // separates English from non-English by WEIGHTED GINI IMPURITY —
  // the CART criterion — with every score an exact integer. Gini
  // avoids entropy's logarithms: minimizing Σ_child n_c·(1 − Σ_k p²)
  // is maximizing Σ_child (pos_c² + neg_c²)/n_c, which fix-points to
  // ·1e9 integer divisions both engines compute identically. Candidate
  // thresholds are the 32 equi-width bucket edges (the q_hist_quantiles
  // discipline): one bucket-grain aggregate over the corpus, one
  // cumulative window over ≤32 rows, argmin by (score, threshold) —
  // the corpus is scanned once, the search runs on the bin table.
  // int64 bound (round-5 audit — the r4 comment mis-stated ~3·10⁹ by
  // dropping the 1e9 fixed-point factor): the purity numerator is
  // ≤ nl²·10⁹, so BIGINT holds only to N ≈ 9.6·10⁴ documents — the
  // sf0.1 battery (60k docs, numerator ≤ 3.6·10¹⁸) passes with just
  // 2.5× headroom. Past the bound the `WideStats` knob computes the
  // count squares and fixed-point divisions at DECIMAL(38,0)
  // (exact to N ≈ 10¹⁴; purity_fp itself outgrows int64 at
  // N ≈ 4.6·10⁹, so the wide path also WIDENS the output column) —
  // `WideStatsSpec` pins both sides of the bound.

  private val GsB = 32L

  private def qGiniStump(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("n_chars").as("x"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    giniStumpFrom(d)
  }

  /** Best Gini stump over `(x, y ∈ {0,1})` rows — the body of
    * `q_gini_stump`, factored so `WideStatsSpec` can drive it past the
    * BIGINT bound (N ≈ 9.6·10⁴ rows — see the audit note above).
    */
  private[graft] def giniStumpFrom(d: DataFrame): DataFrame = {
    // Gini purity of one child at fixed point 1e9 — exact integral
    // division on both paths (`idivWide` keeps the decimal quotient an
    // exact integer; see WideStats)
    def purity(p: String, t: String): Column =
      if (WideStats.wide)
        WideStats.idivWide((WideStats.prod(col(p), col(p)) +
          WideStats.prod(col(t) - col(p), col(t) - col(p))) *
          lit(1000000000L), col(t))
      else expr(s"($p * $p + ($t - $p) * ($t - $p)) * 1000000000L div $t")
    val mm = d.agg(min("x").as("mn"), max("x").as("mx"),
      count(lit(1)).as("n"), sum("y").as("pos"))
    val bins = d.crossJoin(broadcast(mm))
      .withColumn("b", expr(s"((x - mn) * $GsB) div (mx - mn + 1)"))
      .groupBy("b").agg(count(lit(1)).as("nb"), sum("y").as("pb"))
    val cum = bins
      .withColumn("nl", sum("nb").over(
        Window.orderBy("b").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("pl", sum("pb").over(
        Window.orderBy("b").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(mm))
      .filter(col("nl") > 0 && col("nl") < col("n")) // both children non-empty
      // threshold = the bucket's inclusive upper edge (x <= thr goes left)
      .withColumn("thr", expr(s"mn + ((b + 1) * (mx - mn + 1)) div $GsB - 1"))
      .withColumn("nr", col("n") - col("nl"))
      .withColumn("pr", col("pos") - col("pl"))
      .withColumn("purity_fp", purity("pl", "nl") + purity("pr", "nr"))
    val accPpm =
      if (WideStats.wide)
        WideStats.idivWide((greatest(col("pl"), col("nl") - col("pl")) +
          greatest(col("pr"), col("nr") - col("pr"))) * lit(1000000L), col("n"))
      else
        expr("""((greatest(pl, nl - pl) + greatest(pr, nr - pr)) * 1000000L)
          |div n""".stripMargin)
    cum
      .withColumn("rk", row_number().over(
        Window.orderBy(desc("purity_fp"), col("thr"))))
      .filter(col("rk") === 1)
      .withColumn("parent_fp", purity("pos", "n"))
      .select(col("thr"), col("nl"), col("pl"), col("nr"), col("pr"),
        col("purity_fp"), col("parent_fp"),
        // majority-vote stump accuracy in ppm: each child predicts its
        // majority class
        accPpm.as("acc_ppm"))
  }

  private val qGiniStumpSql =
    s"""WITH d AS (
       |  SELECT n_chars AS x, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM documents),
       |mm AS (
       |  SELECT min(x) AS mn, max(x) AS mx, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS pos
       |  FROM d),
       |bins AS (
       |  SELECT ((x - mn) * $GsB) // (mx - mn + 1) AS b,
       |    count(*) AS nb, sum(y) AS pb
       |  FROM d CROSS JOIN mm GROUP BY 1),
       |cum AS (
       |  SELECT b,
       |    sum(nb) OVER (ORDER BY b
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nl,
       |    sum(pb) OVER (ORDER BY b
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pl
       |  FROM bins),
       |sc AS (
       |  SELECT mn + ((b + 1) * (mx - mn + 1)) // $GsB - 1 AS thr,
       |    nl, pl, n - nl AS nr, pos - pl AS pr,
       |    (pl * pl + (nl - pl) * (nl - pl)) * 1000000000 // nl +
       |    ((pos - pl) * (pos - pl) + ((n - nl) - (pos - pl)) * ((n - nl) - (pos - pl)))
       |      * 1000000000 // (n - nl) AS purity_fp,
       |    n, pos
       |  FROM cum CROSS JOIN mm WHERE nl > 0 AND nl < n)
       |SELECT CAST(thr AS BIGINT) AS thr, CAST(nl AS BIGINT) AS nl,
       |  CAST(pl AS BIGINT) AS pl, CAST(nr AS BIGINT) AS nr,
       |  CAST(pr AS BIGINT) AS pr, CAST(purity_fp AS BIGINT) AS purity_fp,
       |  CAST((pos * pos + (n - pos) * (n - pos)) * 1000000000 // n AS BIGINT)
       |    AS parent_fp,
       |  CAST((greatest(pl, nl - pl) + greatest(pr, nr - pr)) * 1000000 // n
       |    AS BIGINT) AS acc_ppm
       |FROM sc ORDER BY purity_fp DESC, thr LIMIT 1""".stripMargin

  // --- Stupid Backoff trigram LM scoring ---------------------------------------
  //
  // Brants et al. 2007 ("Large Language Models in Machine Translation")
  // — THE MapReduce-era LM: no discounting, no normalization, just
  // S(w₃|w₁w₂) = f(w₁w₂w₃)/f(w₁w₂), backing off to α·S(w₃|w₂) and
  // α²·f(w₃)/N with α = 0.4, because at web scale raw counts plus a
  // constant backoff match smoothed models. Counts come from a TRAIN
  // split and scores run over the held-out TEST split (the q_group_split
  // md5 discipline) — training on the scored corpus itself would make
  // every trigram seen and the backoff dead code. Float discipline:
  // each level fix-points to 1e6 with integer floors (α·S = 2·S div 5,
  // α²·S = 4·S div 25), so the per-doc mean is an order-immune BIGINT
  // sum. Plan: one position pass over test docs, three train count
  // tables (trigram/bigram/unigram — each one partial-agg shuffle),
  // three left key-joins (Zipf-skewed probe side is AQE's skew case,
  // build sides are count tables), one per-doc aggregate. Also reports
  // which backoff level served each position — the coverage diagnostic
  // a curation dashboard wants next to the score.

  private def qStupidBackoff(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), call_function("graft_ws_tokens", col("text")).as("ts"))
      .withColumn("is_train",
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 100 < 80)
    val pos3 = docs
      .filter(size(col("ts")) >= 3)
      .select(col("doc_id"), col("is_train"), explode(expr(
        """transform(sequence(0, size(ts)-3),
          |  i -> struct(element_at(ts, i+1) AS w1, element_at(ts, i+2) AS w2,
          |              element_at(ts, i+3) AS w3))""".stripMargin)).as("g"))
      .select(col("doc_id"), col("is_train"),
        col("g.w1").as("w1"), col("g.w2").as("w2"), col("g.w3").as("w3"))
      .persist()
    val train = pos3.filter(col("is_train"))
    val c123 = train.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c123"))
    val c12 = train.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    // bigram/unigram counts over the SAME trigram-position table: the
    // (w2, w3) and (w3) grains of one pass, not a second tokenize
    val c23 = train.groupBy("w2", "w3").agg(count(lit(1)).as("c23"))
    val c2 = train.groupBy("w2").agg(count(lit(1)).as("c2"))
    val c3 = train.groupBy("w3").agg(count(lit(1)).as("c3"))
    val tT = train.agg(count(lit(1)).as("t"))
    val scored = pos3.filter(!col("is_train"))
      .join(c123, Seq("w1", "w2", "w3"), "left")
      .join(c12, Seq("w1", "w2"), "left")
      .join(c23, Seq("w2", "w3"), "left")
      .join(c2, Seq("w2"), "left")
      .join(c3, Seq("w3"), "left")
      .crossJoin(broadcast(tT))
      .withColumn("s_fp", expr(
        """CASE
          |  WHEN coalesce(c123, 0) > 0 THEN (c123 * 1000000L) div c12
          |  WHEN coalesce(c23, 0) > 0 THEN (2 * ((c23 * 1000000L) div c2)) div 5
          |  WHEN coalesce(c3, 0) > 0 THEN (4 * ((c3 * 1000000L) div t)) div 25
          |  ELSE 0L END""".stripMargin))
      .withColumn("lvl", expr(
        """CASE WHEN coalesce(c123, 0) > 0 THEN 3
          |  WHEN coalesce(c23, 0) > 0 THEN 2
          |  WHEN coalesce(c3, 0) > 0 THEN 1 ELSE 0 END""".stripMargin))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_pos"),
        sum("s_fp").as("score_fp"),
        sum(when(col("lvl") === 3, 1L).otherwise(0L)).as("n_tri"),
        sum(when(col("lvl") === 2, 1L).otherwise(0L)).as("n_bi"),
        sum(when(col("lvl") <= 1, 1L).otherwise(0L)).as("n_uni_or_oov"))
      .select(col("doc_id"), col("n_pos"), col("score_fp"),
        Rounding.r(col("score_fp") / col("n_pos") / lit(1e6), 6).as("mean_s"),
        col("n_tri"), col("n_bi"), col("n_uni_or_oov"))
      .orderBy("doc_id")
  }

  private val qStupidBackoffSql =
    s"""WITH $ScaleTokensCte,
       |dt AS (
       |  SELECT doc_id,
       |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       |      % 100 < 80) AS is_train, ts
       |  FROM toks WHERE len(ts) >= 3),
       |pos AS (
       |  SELECT doc_id, is_train, u.w1 AS w1, u.w2 AS w2, u.w3 AS w3 FROM (
       |    SELECT doc_id, is_train,
       |      unnest(list_transform(generate_series(1, len(ts)-2),
       |        i -> {'w1': ts[i], 'w2': ts[i+1], 'w3': ts[i+2]})) AS u
       |    FROM dt) x),
       |tr AS (SELECT * FROM pos WHERE is_train),
       |c123 AS (SELECT w1, w2, w3, count(*) AS c123 FROM tr GROUP BY 1, 2, 3),
       |c12 AS (SELECT w1, w2, count(*) AS c12 FROM tr GROUP BY 1, 2),
       |c23 AS (SELECT w2, w3, count(*) AS c23 FROM tr GROUP BY 1, 2),
       |c2 AS (SELECT w2, count(*) AS c2 FROM tr GROUP BY 1),
       |c3 AS (SELECT w3, count(*) AS c3 FROM tr GROUP BY 1),
       |tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM tr),
       |sc AS (
       |  SELECT p.doc_id,
       |    CASE
       |      WHEN coalesce(a.c123, 0) > 0 THEN (a.c123 * 1000000) // b.c12
       |      WHEN coalesce(d.c23, 0) > 0 THEN (2 * ((d.c23 * 1000000) // e.c2)) // 5
       |      WHEN coalesce(f.c3, 0) > 0 THEN (4 * ((f.c3 * 1000000) // t)) // 25
       |      ELSE 0 END AS s_fp,
       |    CASE WHEN coalesce(a.c123, 0) > 0 THEN 3
       |      WHEN coalesce(d.c23, 0) > 0 THEN 2
       |      WHEN coalesce(f.c3, 0) > 0 THEN 1 ELSE 0 END AS lvl
       |  FROM pos p
       |  LEFT JOIN c123 a ON p.w1 = a.w1 AND p.w2 = a.w2 AND p.w3 = a.w3
       |  LEFT JOIN c12 b ON p.w1 = b.w1 AND p.w2 = b.w2
       |  LEFT JOIN c23 d ON p.w2 = d.w2 AND p.w3 = d.w3
       |  LEFT JOIN c2 e ON p.w2 = e.w2
       |  LEFT JOIN c3 f ON p.w3 = f.w3
       |  CROSS JOIN tt
       |  WHERE NOT p.is_train)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pos,
       |  CAST(sum(s_fp) AS BIGINT) AS score_fp,
       |  ${Rounding.rSql("(CAST(sum(s_fp) AS BIGINT) / count(*)) / 1e6", 6)} AS mean_s,
       |  CAST(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri,
       |  CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_bi,
       |  CAST(sum(CASE WHEN lvl <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_uni_or_oov
       |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin

  // --- snapshot diff (corpus version reconciliation) ---------------------------
  //
  // The table-diff every incremental corpus build runs between two
  // snapshot versions: ONE full-outer hash join on the stable document
  // key, change detection by CONTENT HASH (never byte-comparing text
  // through the shuffle — the md5 rides the scan projection), statuses
  // added / removed / changed / unchanged with per-status row and byte
  // deltas. Snapshots are derived deterministically from the one test
  // table (v1 drops doc_id % 7 = 0, v2 drops % 5 = 0 and rewrites
  // % 11 = 0) so both engines reconstruct identical versions.

  private def qSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val v1 = d.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      .select(col("doc_id"), md5(col("text")).as("h1"), col("n_chars").as("len1"))
    val v2 = d.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      .withColumn("text2", when(pmod(col("doc_id"), lit(11)) === 0,
        concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
      .select(col("doc_id"), md5(col("text2")).as("h2"),
        (col("n_chars") + when(pmod(col("doc_id"), lit(11)) === 0, 7L)
          .otherwise(0L)).as("len2"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .withColumn("status", expr(
        """CASE WHEN h1 IS NULL THEN 'added'
          |  WHEN h2 IS NULL THEN 'removed'
          |  WHEN h1 <> h2 THEN 'changed'
          |  ELSE 'unchanged' END""".stripMargin))
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("len2"), lit(0L)) - coalesce(col("len1"), lit(0L)))
          .as("bytes_delta"))
      .orderBy("status")
  }

  private val qSnapshotDiffSql =
    """WITH v1 AS (
      |  SELECT doc_id, md5(text) AS h1, n_chars AS len1
      |  FROM documents WHERE doc_id % 7 <> 0),
      |v2 AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN doc_id % 11 = 0 THEN text || ' [rev2]' ELSE text END) AS h2,
      |    n_chars + CASE WHEN doc_id % 11 = 0 THEN 7 ELSE 0 END AS len2
      |  FROM documents WHERE doc_id % 5 <> 0)
      |SELECT
      |  CASE WHEN h1 IS NULL THEN 'added'
      |    WHEN h2 IS NULL THEN 'removed'
      |    WHEN h1 <> h2 THEN 'changed'
      |    ELSE 'unchanged' END AS status,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(coalesce(len2, 0) - coalesce(len1, 0)) AS BIGINT) AS bytes_delta
      |FROM v1 FULL OUTER JOIN v2 USING (doc_id)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- Spearman rank correlation (tie-averaged, integer-exact) ---------------
  //
  // The monotone-association complement to q_correlation's Pearson (and
  // the rank twin of q_mann_whitney): Spearman's ρ between document
  // length and vocabulary richness. Tie-averaged ranks are half-integers,
  // so (the Mann–Whitney discipline) everything computes at 2× scale:
  // 2·rank = 2·(count below) + (count equal) + 1 is a BIGINT from ONE
  // window over the VALUE GRAIN — counts collapse per distinct value
  // first, so the windows run over the distinct-value tables, never the
  // corpus. ρ = cov(ra, rb)/(σa·σb) assembled from exact integer moments
  // (Σ2ra, Σ2rb, Σ4ra·rb, Σ4ra², Σ4rb²), one final double division.
  //
  // Overflow bound (the q_gini_stump convention): the final products
  // n·sab / n·saa / n·sbb are Θ(n⁴) on 2×-scaled ranks — BIGINT holds to
  // n ≈ 5·10⁴ documents, where DuckDB's HUGEINT promotion would raise
  // Out of Range while Spark raises ARITHMETIC_OVERFLOW (ANSI, the 4.x
  // default; with ANSI off it would wrap silently). Past that bound, the
  // `WideStats` knob (`SPARK_GRAFT_DECIMAL38=1`) computes the moment
  // aggregates and the final products as DECIMAL(38,0) while the oracle
  // keeps DuckDB's native HUGEINT (drop the BIGINT casts in the
  // oracle's `m` CTE) — same plan shape, exactness preserved to 10³⁸;
  // `WideStatsSpec` pins value-parity below the bound and exactness
  // above it (where the default path provably wraps).

  private def qSpearman(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars").as("xa"),
        size(array_distinct(call_function("graft_ws_tokens", col("text"))))
          .cast("long").as("xb"))
      .persist()
    spearmanFromPairs(d)
  }

  /** Tie-averaged Spearman ρ over `(doc_id, xa, xb)` rows — the body of
    * `q_spearman`, factored so `WideStatsSpec` can drive it past the
    * BIGINT bound on synthetic pairs.
    */
  private[graft] def spearmanFromPairs(d: DataFrame): DataFrame = {
    // 2×-scaled tie-averaged rank per distinct value: 2·cb + ties + 1
    def ranks2(v: String): DataFrame = {
      val grain = d.groupBy(col(v).as("value")).agg(count(lit(1)).as("c"))
      val w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
      grain
        .withColumn("cb", coalesce(sum("c").over(w), lit(0L)))
        .select(col("value"), (lit(2L) * col("cb") + col("c") + 1L).as("r2"))
    }
    val ra = ranks2("xa").withColumnRenamed("value", "xa")
      .withColumnRenamed("r2", "ra2")
    val rb = ranks2("xb").withColumnRenamed("value", "xb")
      .withColumnRenamed("r2", "rb2")
    d.join(ra, "xa").join(rb, "xb")
      .agg(count(lit(1)).as("n"),
        WideStats.wsum(col("ra2")).as("sa"), WideStats.wsum(col("rb2")).as("sb"),
        WideStats.wsumProd(col("ra2"), col("rb2")).as("sab"),
        WideStats.wsumProd(col("ra2"), col("ra2")).as("saa"),
        WideStats.wsumProd(col("rb2"), col("rb2")).as("sbb"))
      .select(col("n"),
        Rounding.r(
          (WideStats.prod(col("n"), col("sab")) -
            WideStats.prod(col("sa"), col("sb"))).cast("double") /
            sqrt((WideStats.prod(col("n"), col("saa")) -
              WideStats.prod(col("sa"), col("sa"))).cast("double") *
              (WideStats.prod(col("n"), col("sbb")) -
                WideStats.prod(col("sb"), col("sb"))).cast("double")),
          6).as("rho"))
  }

  private val qSpearmanSql =
    s"""WITH $ScaleTokensCte,
       |d AS (
       |  SELECT dd.doc_id, dd.n_chars AS xa,
       |    CAST(len(list_distinct(tk.ts)) AS BIGINT) AS xb
       |  FROM documents dd JOIN toks tk ON dd.doc_id = tk.doc_id),
       |ga AS (SELECT xa AS value, count(*) AS c FROM d GROUP BY 1),
       |ra AS (
       |  SELECT value AS xa,
       |    2 * coalesce(sum(c) OVER (ORDER BY value
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS ra2
       |  FROM ga),
       |gb AS (SELECT xb AS value, count(*) AS c FROM d GROUP BY 1),
       |rb AS (
       |  SELECT value AS xb,
       |    2 * coalesce(sum(c) OVER (ORDER BY value
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS rb2
       |  FROM gb),
       |j AS (
       |  SELECT d.doc_id, ra.ra2, rb.rb2
       |  FROM d JOIN ra ON d.xa = ra.xa JOIN rb ON d.xb = rb.xb),
       |m AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(ra2) AS BIGINT) AS sa, CAST(sum(rb2) AS BIGINT) AS sb,
       |    CAST(sum(ra2 * rb2) AS BIGINT) AS sab,
       |    CAST(sum(ra2 * ra2) AS BIGINT) AS saa,
       |    CAST(sum(rb2 * rb2) AS BIGINT) AS sbb
       |  FROM j)
       |SELECT n,
       |  ${Rounding.rSql(
             "CAST(n * sab - sa * sb AS DOUBLE) / " +
             "sqrt(CAST(n * saa - sa * sa AS DOUBLE) * CAST(n * sbb - sb * sb AS DOUBLE))", 6)}
       |    AS rho
       |FROM m""".stripMargin

  // --- neighborhood growth (1-hop vs 2-hop reach) -----------------------------
  //
  // The expansion profile of the similarity graph — the exact small-k
  // form of the neighborhood function HyperANF estimates with HLL
  // registers at web scale: per node, |N₁| (distinct 1-hop neighbors)
  // and |N₂| (distinct nodes within 2 hops, self excluded), from the
  // LSH candidate graph with a DEGREE CAP (the df-cap discipline —
  // keep each node's NgDeg nearest edges by (dist, id) so the 2-hop
  // self-join is bounded by Σ deg² ≤ n·NgDeg², not by the hub nodes).
  // One edge-table self-join + two distinct aggregates; output is the
  // growth histogram (ratio bin → node count) plus per-bin mean reach —
  // a bounded summary at any corpus size. Fast-expanding neighborhoods
  // mark generic/templated regions; flat ones mark isolated content.

  private val NgDeg = 8

  private def qNeighborhoodGrowth(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // persisted: the candidate computation feeds both directions of sym
    val p = TrainingDataQueries.lshPairDists(s, dir).persist()
    val sym = p.select(col("id_a").as("u"), col("id_b").as("v"), col("dist"))
      .unionByName(p.select(col("id_b").as("u"), col("id_a").as("v"), col("dist")))
    val capped = sym.withColumn("rk", row_number().over(
        Window.partitionBy("u").orderBy(col("dist"), col("v"))))
      .filter(col("rk") <= NgDeg)
      .select("u", "v").persist()
    val n1 = capped.groupBy("u").agg(count(lit(1)).as("n1"))
    val two = capped.as("a")
      .join(capped.select(col("u").as("v"), col("v").as("w")).as("b"), "v")
      .filter(col("u") =!= col("w"))
      .select(col("u"), col("w").as("v"))
      .unionByName(capped.select("u", "v"))
      .distinct()
      .groupBy("u").agg(count(lit(1)).as("n2"))
    n1.join(two, "u")
      // growth ratio bin at 1 decimal: floor(10·n2/n1)
      .withColumn("gbin", expr("(n2 * 10L) div n1"))
      .groupBy("gbin")
      .agg(count(lit(1)).as("n_nodes"),
        sum("n1").as("sum_n1"), sum("n2").as("sum_n2"))
      .orderBy("gbin")
  }

  private val qNeighborhoodGrowthSql = {
    s"""WITH ${TrainingDataQueries.BandSigsCte},
       |${lshPairDistsCtes("ed")},
       |sym AS (
       |  SELECT id_a AS u, id_b AS v, dist FROM ed
       |  UNION ALL SELECT id_b, id_a, dist FROM ed),
       |capped AS (
       |  SELECT u, v FROM (
       |    SELECT u, v, row_number() OVER (
       |      PARTITION BY u ORDER BY dist, v) AS rk FROM sym)
       |  WHERE rk <= $NgDeg),
       |n1 AS (SELECT u, count(*) AS n1 FROM capped GROUP BY 1),
       |two AS (
       |  SELECT u, count(*) AS n2 FROM (
       |    SELECT DISTINCT u, v FROM (
       |      SELECT a.u, b.w AS v
       |      FROM capped a JOIN (SELECT u AS v, v AS w FROM capped) b USING (v)
       |      WHERE a.u <> b.w
       |      UNION ALL SELECT u, v FROM capped))
       |  GROUP BY 1)
       |SELECT (n2 * 10) // n1 AS gbin,
       |  CAST(count(*) AS BIGINT) AS n_nodes,
       |  CAST(sum(n1) AS BIGINT) AS sum_n1,
       |  CAST(sum(n2) AS BIGINT) AS sum_n2
       |FROM n1 JOIN two USING (u)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // --- Wilson score interval for gate pass rates -------------------------------
  //
  // The uncertainty every per-group pass-rate dashboard needs: the
  // Wilson score interval, which (unlike the normal/Wald interval)
  // stays inside [0,1] and behaves at small n or extreme rates — the
  // difference between "this language's 3-doc sample passed 100%" and
  // actionable. z = 1.96 enters as the usual constant; all arithmetic
  // is IEEE doubles through the IDENTICAL operation order in both
  // engines (division, multiplication, and sqrt are all correctly
  // rounded per IEEE-754, so the floats agree bit-for-bit — the same
  // reasoning as Rounding). One grain aggregate; the interval math runs
  // on |langs| rows.

  private def qWilsonCi(s: SparkSession, dir: String): DataFrame = {
    val g = t(s, dir, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(when(col("n_chars").between(120, 2000), 1L).otherwise(0L)).as("k"))
    g.withColumn("nn", col("n").cast("double"))
      .withColumn("phat", col("k").cast("double") / col("nn"))
      .withColumn("denom", lit(1.0) + lit(3.8416) / col("nn"))
      .withColumn("center", (col("phat") + lit(1.9208) / col("nn")) / col("denom"))
      .withColumn("half", (lit(1.96) * sqrt(
        (col("phat") * (lit(1.0) - col("phat")) + lit(0.9604) / col("nn")) /
          col("nn"))) / col("denom"))
      .select(col("lang"), col("n"), col("k"),
        Rounding.r(col("phat"), 6).as("rate"),
        Rounding.r(col("center") - col("half"), 6).as("lo"),
        Rounding.r(col("center") + col("half"), 6).as("hi"))
      .orderBy("lang")
  }

  private val qWilsonCiSql =
    s"""WITH g AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN n_chars BETWEEN 120 AND 2000 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS k
       |  FROM documents GROUP BY 1),
       |w AS (
       |  SELECT lang, n, k,
       |    CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS phat,
       |    1.0 + 3.8416 / CAST(n AS DOUBLE) AS denom,
       |    CAST(n AS DOUBLE) AS nn
       |  FROM g),
       |c AS (
       |  SELECT lang, n, k, phat,
       |    (phat + 1.9208 / nn) / denom AS center,
       |    (1.96 * sqrt((phat * (1.0 - phat) + 0.9604 / nn) / nn)) / denom AS half
       |  FROM w)
       |SELECT lang, n, k,
       |  ${Rounding.rSql("phat", 6)} AS rate,
       |  ${Rounding.rSql("center - half", 6)} AS lo,
       |  ${Rounding.rSql("center + half", 6)} AS hi
       |FROM c ORDER BY lang""".stripMargin

  // --- Markov stationary distribution of event-type transitions ---------------
  //
  // Behavioral steady-state analytics: the per-user event stream induces
  // a transition matrix over event types; its stationary distribution
  // says where sessions SETTLE (vs q_next_event's one-step counts). The
  // corpus-scale part is transition counting — one lag window per user
  // (bounded by the user's own history) and a (prev, next) grain agg;
  // the matrix itself is |types|² rows, so the power iteration runs on a
  // broadcast-sized table. Fixed-point discipline: rows normalize to
  // 1e6-ppm integers, each iteration floors Σ π(i)·p(i,j) / 1e6 — both
  // engines run the identical integer recurrence (the q_pagerank
  // discipline), three unrolled steps from the uniform start. Floor
  // leakage (Σπ drifts a few ppm below 1e6) is reported, not hidden.

  private val MkIters = 3

  private def qMarkovStationary(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = ev
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("i"), col("next_type").as("j"))
      .agg(count(lit(1)).as("c"))
      .persist()
    val rowTot = trans.groupBy("i").agg(sum("c").as("ci"))
    val p = trans.join(rowTot, "i")
      .select(col("i"), col("j"), expr("(c * 1000000L) div ci").as("p_fp"))
      .persist()
    val k = p.select(col("i").as("state")).distinct()
    val nk = k.count()
    var pi = k.select(col("state"), lit(1000000L / nk).as("pi_fp"))
      .localCheckpoint(true)
    (1 to MkIters).foreach { _ =>
      pi = p.join(pi.withColumnRenamed("state", "i"), "i")
        .groupBy(col("j").as("state"))
        .agg(sum(expr("(pi_fp * p_fp) div 1000000")).as("pi_fp"))
        .localCheckpoint(true)
    }
    pi.join(rowTot.withColumnRenamed("i", "state"), "state")
      .select(col("state"), col("ci").as("n_out"), col("pi_fp"))
      .orderBy("state")
  }

  private val qMarkovStationarySql = {
    def step(i: Int): String =
      s"""pi$i AS (
         |  SELECT p.j AS state,
         |    CAST(sum((q.pi_fp * p.p_fp) // 1000000) AS BIGINT) AS pi_fp
         |  FROM p JOIN pi${i - 1} q ON p.i = q.state GROUP BY 1)""".stripMargin
    s"""WITH ev AS (
       |  SELECT user_id, ts, event_id, event_type,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS next_type
       |  FROM events),
       |tr AS (
       |  SELECT event_type AS i, next_type AS j, count(*) AS c
       |  FROM ev WHERE next_type IS NOT NULL GROUP BY 1, 2),
       |rt AS (SELECT i, CAST(sum(c) AS BIGINT) AS ci FROM tr GROUP BY 1),
       |p AS (
       |  SELECT tr.i, tr.j, (tr.c * 1000000) // rt.ci AS p_fp
       |  FROM tr JOIN rt ON tr.i = rt.i),
       |k AS (SELECT DISTINCT i AS state FROM p),
       |pi0 AS (
       |  SELECT state,
       |    1000000 // (SELECT count(*) FROM k) AS pi_fp
       |  FROM k),
       |${(1 to MkIters).map(step).mkString(",\n")}
       |SELECT s.state, rt.ci AS n_out, CAST(s.pi_fp AS BIGINT) AS pi_fp
       |FROM pi$MkIters s JOIN rt ON s.state = rt.i
       |ORDER BY s.state""".stripMargin
  }

  // --- degree assortativity of the similarity graph ----------------------------
  //
  // Newman's assortativity coefficient: do high-degree nodes attach to
  // high-degree nodes? Over the LSH candidate graph this separates
  // hub-and-spoke near-dup structure (one template, many variants:
  // r < 0) from block structure (mutual dense clusters: r > 0) — the
  // shape signal that tells a dedup pipeline whether canonical-survivor
  // selection or clique collapse fits. Computed as the exact Pearson
  // correlation of endpoint degrees over DIRECTED STUBS (each edge
  // counted both ways, the standard symmetric form): one degree
  // aggregate, two key joins back to the edge table, five BIGINT
  // moments, one double at the end.

  private def qAssortativity(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val e = TrainingDataQueries.lshPairDists(s, dir).select("id_a", "id_b")
      .persist()
    val deg = e.select(col("id_a").as("node"))
      .unionByName(e.select(col("id_b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val stubs = e
      .join(deg.select(col("node").as("id_a"), col("deg").as("da")), "id_a")
      .join(deg.select(col("node").as("id_b"), col("deg").as("db")), "id_b")
      .select(col("da").as("x"), col("db").as("y"))
      .unionByName(e
        .join(deg.select(col("node").as("id_a"), col("deg").as("da")), "id_a")
        .join(deg.select(col("node").as("id_b"), col("deg").as("db")), "id_b")
        .select(col("db").as("x"), col("da").as("y")))
    stubs.agg(count(lit(1)).as("m2"),
        WideStats.wsum(col("x")).as("sx"),
        WideStats.wsumProd(col("x"), col("y")).as("sxy"),
        WideStats.wsumProd(col("x"), col("x")).as("sxx"))
      .select(col("m2"),
        // overflow bound: m2·sxy and m2·sxx are Θ(m·Σd²) ≈ Θ(m²·d̄²) —
        // BIGINT holds to ~10⁹ stub-ends at the measured degree scale;
        // past that, the `WideStats` knob (SPARK_GRAFT_DECIMAL38=1)
        // runs these moments and products at DECIMAL(38,0), the oracle
        // at native HUGEINT (`WideStatsSpec`).
        Rounding.r(
          (WideStats.prod(col("m2"), col("sxy")) -
            WideStats.prod(col("sx"), col("sx"))).cast("double") /
            (WideStats.prod(col("m2"), col("sxx")) -
              WideStats.prod(col("sx"), col("sx"))).cast("double"),
          6).as("r"))
  }

  private val qAssortativitySql = {
    s"""WITH ${TrainingDataQueries.BandSigsCte},
       |${lshPairsCte("pr", "<")},
       |deg AS (
       |  SELECT node, count(*) AS deg FROM (
       |    SELECT id_a AS node FROM pr UNION ALL SELECT id_b FROM pr)
       |  GROUP BY 1),
       |stub AS (
       |  SELECT da.deg AS x, db.deg AS y
       |  FROM pr JOIN deg da ON pr.id_a = da.node JOIN deg db ON pr.id_b = db.node
       |  UNION ALL
       |  SELECT db.deg, da.deg
       |  FROM pr JOIN deg da ON pr.id_a = da.node JOIN deg db ON pr.id_b = db.node),
       |m AS (
       |  SELECT CAST(count(*) AS BIGINT) AS m2, CAST(sum(x) AS BIGINT) AS sx,
       |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
       |  FROM stub)
       |SELECT m2,
       |  ${Rounding.rSql(
             "CAST(m2 * sxy - sx * sx AS DOUBLE) / CAST(m2 * sxx - sx * sx AS DOUBLE)", 6)}
       |    AS r
       |FROM m""".stripMargin
  }

  // --- Cavnar–Trenkle char-trigram language ID ---------------------------------
  //
  // The classic scalable language identifier (Cavnar & Trenkle 1994,
  // "N-Gram-Based Text Categorization") next to q_lang_id's stopword
  // heuristic: per-language RANK PROFILES of the top-P character
  // trigrams, documents scored by rank-order distance (Σ|doc rank −
  // profile rank|, out-of-profile trigrams pay the max penalty P),
  // prediction = argmin. Profiles train on an md5 80% split and the
  // held-out 20% reports the CONFUSION MATRIX — the audit artifact.
  // Scale shape: trigrams ride 48-bit md5 ids; profile construction is
  // a (lang, sid) grain agg + a per-lang top-P window (bounded by the
  // language count, never the corpus); scoring joins each test doc's
  // own top-P profile (per-doc window, bounded) against the broadcast
  // |langs|·P profile table. Everything integer. Trains and evaluates on
  // the ENRICHED corpus twin (`TrainingDataQueries.enrichedDocs`): on the
  // raw synthetic corpus every language is built from English tokens and
  // the confusion matrix was near-random (round-2 finding); the injected
  // per-language marker phrases give each lang a separable trigram
  // profile, with the deterministic 20%/10% pad noise keeping the
  // held-out confusion honestly off-perfect.

  private val CtP = 40

  private def qCtLangId(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val docs = TrainingDataQueries.enrichedDocs(s, dir)
      .select(col("doc_id"), col("lang"), lower(col("text2")).as("tl"))
      .withColumn("is_train",
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 100 < 80)
    // trigram ids are PACKED CODEPOINTS (graft_tri_ids packing —
    // collision-free and exactly DuckDB's unicode(substr(...))
    // arithmetic): the earlier md5-per-trigram id cost ~5 µs/gram and
    // blew this query to 25 s at sf0.1 once the enriched twin tripled
    // the text — the 04a4dd2 negative result re-confirmed, so the hash
    // went away entirely (measured 25.6 → ~2 s). Round 5 folds the
    // per-doc COUNTING AND RANKING into the same doc-grain pass
    // (graft_tri_counts emits distinct (sid, c) pre-sorted by
    // (c desc, sid asc), so array position IS the Cavnar–Trenkle rank):
    // the (doc, sid)-grain hash-agg over every occurrence, the per-doc
    // rank window over the test split, and the per-doc total self-join
    // all disappear — the only remaining shuffles are the |langs|·|sid|
    // profile agg and the bounded (≤ P rows/doc) scoring agg
    // (measured 3.81 → 1.60 s min-over-3 at sf0.1).
    val counts = docs
      .filter(length(col("tl")) >= 3)
      .select(col("doc_id"), col("lang"), col("is_train"),
        expr("graft_tri_counts(tl)").as("tc"))
      .persist()
    val prof = counts.filter(col("is_train"))
      .select(col("lang"), explode(col("tc")).as("e"))
      .groupBy(col("lang"), col("e.sid").as("sid")).agg(sum("e.c").as("c"))
      .withColumn("lrank", row_number().over(
        Window.partitionBy("lang").orderBy(desc("c"), col("sid"))))
      .filter(col("lrank") <= CtP)
      .select(col("lang").as("plang"), col("sid"), col("lrank"))
    // per-doc top-P profile = the array's first P entries, rank =
    // position; t (the doc's profile size) rides the row, so no
    // per-doc total aggregate is needed
    val dprof = counts.filter(!col("is_train"))
      .withColumn("t", least(size(col("tc")), lit(CtP)).cast("long"))
      .select(col("doc_id"), col("lang"), col("t"),
        posexplode(slice(col("tc"), 1, CtP)))
      .select(col("doc_id"), col("lang"), col("t"),
        col("col.sid").as("sid"), (col("pos") + 1).cast("long").as("drank"))
    // candidate distance = Σ_matched |doc rank − profile rank| plus the
    // max penalty P for every doc-profile trigram ABSENT from that
    // language's profile (t − m of them); languages matching nothing
    // never appear and could never win
    val scored = dprof.join(broadcast(prof), Seq("sid"))
      .groupBy(col("doc_id"), col("lang"), col("t"), col("plang"))
      .agg(sum(abs(col("drank") - col("lrank"))).as("d"),
        count(lit(1)).as("m"))
      .withColumn("dist", col("d") + (col("t") - col("m")) * lit(CtP.toLong))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("dist"), col("plang"))))
      .filter(col("rk") === 1)
    scored.groupBy(col("lang").as("true_lang"), col("plang").as("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy("true_lang", "pred_lang")
  }

  private val qCtLangIdSql =
    s"""WITH ${TrainingDataQueries.EnrichedCte},
       |dd AS (
       |  SELECT doc_id, lang, lower(text2) AS tl,
       |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       |      % 100 < 80) AS is_train
       |  FROM enr WHERE length(lower(text2)) >= 3),
       |tri AS (
       |  SELECT doc_id, lang, is_train,
       |    unnest(list_transform(generate_series(1, length(tl) - 2),
       |      i -> unicode(substr(tl, i, 1)) * 4398046511104 +
       |           unicode(substr(tl, i + 1, 1)) * 2097152 +
       |           unicode(substr(tl, i + 2, 1)))) AS sid
       |  FROM dd),
       |prof AS (
       |  SELECT lang AS plang, sid, lrank FROM (
       |    SELECT lang, sid, row_number() OVER (
       |      PARTITION BY lang ORDER BY count(*) DESC, sid) AS lrank
       |    FROM tri WHERE is_train GROUP BY lang, sid)
       |  WHERE lrank <= $CtP),
       |dp AS (
       |  SELECT doc_id, lang, sid, drank FROM (
       |    SELECT doc_id, lang, sid, row_number() OVER (
       |      PARTITION BY doc_id ORDER BY count(*) DESC, sid) AS drank
       |    FROM tri WHERE NOT is_train GROUP BY doc_id, lang, sid)
       |  WHERE drank <= $CtP),
       |tt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS t FROM dp GROUP BY 1),
       |dist AS (
       |  SELECT dp.doc_id, dp.lang, p.plang,
       |    CAST(sum(abs(dp.drank - p.lrank)) AS BIGINT) AS d,
       |    CAST(count(*) AS BIGINT) AS m
       |  FROM dp JOIN prof p ON dp.sid = p.sid
       |  GROUP BY 1, 2, 3),
       |sc AS (
       |  SELECT dist.doc_id, dist.lang, dist.plang,
       |    dist.d + (tt.t - dist.m) * $CtP AS dist2
       |  FROM dist JOIN tt ON dist.doc_id = tt.doc_id),
       |w AS (
       |  SELECT doc_id, lang, plang FROM (
       |    SELECT doc_id, lang, plang,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY dist2, plang) AS rk
       |    FROM sc)
       |  WHERE rk = 1)
       |SELECT lang AS true_lang, plang AS pred_lang,
       |  CAST(count(*) AS BIGINT) AS n
       |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- k-core peeling rounds ----------------------------------------------------
  //
  // The density skeleton of the similarity graph: iteratively drop
  // nodes of degree < k until fixpoint — surviving cores are the
  // dense near-dup blocks (what q_assortativity's r > 0 predicts),
  // peeled nodes are the sparse periphery safe to keep. Two peeling
  // rounds run unrolled (each is a degree agg + a semi-join — the
  // standard distributed peel; full convergence is the same loop with
  // the battery's checkpoint discipline). The core threshold is
  // DATA-ADAPTIVE — the lower-quartile degree + 1, an exact integer
  // rank-pick (the q_dbscan eps discipline; at 100 TB it swaps for
  // approx_percentile) — so peeling genuinely fires whatever the
  // graph's density. Reports per round: surviving nodes, surviving
  // edges, min surviving degree, and the chosen k.

  private def qKcore(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val e0 = TrainingDataQueries.lshPairDists(s, dir).select("id_a", "id_b")
      .persist()
    def degrees(e: DataFrame): DataFrame =
      e.select(col("id_a").as("node"))
        .unionByName(e.select(col("id_b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
    val d0 = degrees(e0).persist()
    val n0 = d0.agg(count(lit(1))).head.getLong(0)
    val kc = d0
      .withColumn("rk", row_number().over(Window.orderBy(col("deg"), col("node"))))
      .filter(col("rk") === lit((n0 + 3) / 4))
      .select(col("deg") + 1L).head.getLong(0)
    def peel(e: DataFrame): DataFrame = {
      val keep = degrees(e).filter(col("deg") >= kc).select("node")
      e.join(keep.withColumnRenamed("node", "id_a"), "id_a")
        .join(keep.withColumnRenamed("node", "id_b"), "id_b")
        .localCheckpoint(true)
    }
    def stats(round: Int, e: DataFrame): (Int, Long, Long, Long, Long) = {
      val d = degrees(e).agg(count(lit(1)).as("n"),
        coalesce(min("deg"), lit(0L)).as("mindeg")).head
      val ne = e.count()
      (round, d.getLong(0), ne, d.getLong(1), kc)
    }
    val e1 = peel(e0)
    val e2 = peel(e1)
    val rows = Seq(stats(0, e0), stats(1, e1), stats(2, e2))
    e0.unpersist(); d0.unpersist()
    import s.implicits._
    rows.toDF("round", "n_nodes", "n_edges", "min_deg", "kc").orderBy("round")
  }

  private val qKcoreSql =
    s"""WITH ${TrainingDataQueries.BandSigsCte},
       |${lshPairsCte("g0", "<")},
       |d0 AS (
       |  SELECT node, count(*) AS deg FROM (
       |    SELECT id_a AS node FROM g0 UNION ALL SELECT id_b FROM g0) GROUP BY 1),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d0),
       |kcv AS (
       |  SELECT deg + 1 AS kc FROM (
       |    SELECT deg, row_number() OVER (ORDER BY deg, node) AS rk FROM d0)
       |  WHERE rk = (SELECT (n + 3) // 4 FROM nn)),
       |k0 AS (SELECT node FROM d0 WHERE deg >= (SELECT kc FROM kcv)),
       |g1 AS (
       |  SELECT e.id_a, e.id_b FROM g0 e
       |  JOIN k0 a ON e.id_a = a.node JOIN k0 b ON e.id_b = b.node),
       |d1 AS (
       |  SELECT node, count(*) AS deg FROM (
       |    SELECT id_a AS node FROM g1 UNION ALL SELECT id_b FROM g1) GROUP BY 1),
       |k1 AS (SELECT node FROM d1 WHERE deg >= (SELECT kc FROM kcv)),
       |g2 AS (
       |  SELECT e.id_a, e.id_b FROM g1 e
       |  JOIN k1 a ON e.id_a = a.node JOIN k1 b ON e.id_b = b.node),
       |d2 AS (
       |  SELECT node, count(*) AS deg FROM (
       |    SELECT id_a AS node FROM g2 UNION ALL SELECT id_b FROM g2) GROUP BY 1)
       |SELECT 0 AS round,
       |  CAST((SELECT count(*) FROM d0) AS BIGINT) AS n_nodes,
       |  CAST((SELECT count(*) FROM g0) AS BIGINT) AS n_edges,
       |  CAST(coalesce((SELECT min(deg) FROM d0), 0) AS BIGINT) AS min_deg,
       |  CAST((SELECT kc FROM kcv) AS BIGINT) AS kc
       |UNION ALL
       |SELECT 1, CAST((SELECT count(*) FROM d1) AS BIGINT),
       |  CAST((SELECT count(*) FROM g1) AS BIGINT),
       |  CAST(coalesce((SELECT min(deg) FROM d1), 0) AS BIGINT),
       |  CAST((SELECT kc FROM kcv) AS BIGINT)
       |UNION ALL
       |SELECT 2, CAST((SELECT count(*) FROM d2) AS BIGINT),
       |  CAST((SELECT count(*) FROM g2) AS BIGINT),
       |  CAST(coalesce((SELECT min(deg) FROM d2), 0) AS BIGINT),
       |  CAST((SELECT kc FROM kcv) AS BIGINT)
       |ORDER BY round""".stripMargin

  // --- Kaplan–Meier survival (signup → purchase, with censoring) ---------------
  //
  // The survival-analysis member of the analytics family: time from a
  // user's first signup to first purchase, users who never purchase
  // CENSORED at the study end (the corpus' own max timestamp) — the
  // estimator that handles "hasn't happened YET" correctly where a
  // naive mean-of-observed-durations is biased low. Durations land on
  // a FIXED 8-bucket grid so the product-limit recurrence
  // S_b = S_{b−1}·(n_b − d_b)/n_b unrolls into eight exact integer
  // floor steps at 1e9 (a per-step-floored cumulative product has no
  // window form; a bounded grid is the streaming-sketch trade the
  // battery's histogram quantiles already make). Corpus-scale work is
  // three keyed aggregates and one conditional-sum pass; the chain runs
  // on ONE row. S·n stays under 2^63 while the risk set is < ~9·10⁹ —
  // past that the chain moves to DECIMAL(38).
  //
  // De-degeneration (round-3, the q_cooccur_lift discipline): in the
  // raw synthetic events EVERY signup user purchases — zero censoring,
  // so the estimator's distinguishing branch never ran (a round-2
  // finding). A deterministic non-converter cohort (user_id % 5 = 3's
  // purchases are excluded from the analysis) injects real right-
  // censoring: those subjects live to the study end with evt = 0, the
  // case Kaplan–Meier exists to price correctly.

  private val KmB = 8

  private def qKaplanMeier(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("es"))
      .persist()
    val su = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("es").as("t0"))
    val end = ev.agg(max("es").as("tend"))
    val pu = ev.filter(col("event_type") === "purchase")
      .filter(col("user_id") % 5 =!= 3) // deterministic non-converter cohort
      .join(su, "user_id")
      .filter(col("es") >= col("t0"))
      .groupBy("user_id").agg(min("es").as("tp"))
    val dur = su.join(pu, Seq("user_id"), "left")
      .crossJoin(broadcast(end))
      .select(col("user_id"),
        (coalesce(col("tp"), col("tend")) - col("t0")).as("dur"),
        when(col("tp").isNotNull, 1L).otherwise(0L).as("evt"))
    val mx = dur.agg(max("dur").as("mx"))
    val bk = dur.crossJoin(broadcast(mx))
      .withColumn("b", expr(s"(dur * $KmB) div (mx + 1)"))
    val aggs = max("mx").as("mx") +:
      (0 until KmB).flatMap(k => Seq(
        sum(when(col("b") === k, col("evt")).otherwise(0L)).as(s"d$k"),
        sum(when(col("b") === k, lit(1L) - col("evt")).otherwise(0L)).as(s"c$k")))
    var row = bk.groupBy().agg(aggs.head, aggs.tail: _*)
    row = row.withColumn(s"n${KmB - 1}",
      col(s"d${KmB - 1}") + col(s"c${KmB - 1}"))
    for (k <- KmB - 2 to 0 by -1)
      row = row.withColumn(s"n$k",
        col(s"n${k + 1}") + col(s"d$k") + col(s"c$k"))
    for (k <- 0 until KmB) {
      val prev = if (k == 0) "1000000000L" else s"s${k - 1}"
      row = row.withColumn(s"s$k", expr(
        s"CASE WHEN n$k > 0 THEN ($prev * (n$k - d$k)) div n$k ELSE $prev END"))
    }
    val structs = (0 until KmB).map(k =>
      s"struct($k AS bucket, (($k + 1) * (mx + 1)) div $KmB AS t_hi, " +
        s"n$k AS n_risk, d$k AS d, c$k AS c, s$k AS surv_fp)").mkString(",")
    row.select(explode(expr(s"array($structs)")).as("r"))
      .select("r.*").orderBy("bucket")
  }

  private val qKaplanMeierSql = {
    val condSums = (0 until KmB).map(k =>
      s"""CAST(sum(CASE WHEN b = $k THEN evt ELSE 0 END) AS BIGINT) AS d$k,
         |    CAST(sum(CASE WHEN b = $k THEN 1 - evt ELSE 0 END) AS BIGINT) AS c$k"""
        .stripMargin).mkString(",\n    ")
    val nChain = (KmB - 2 to 0 by -1)
      .map(k => s"n${k + 1} + d$k + c$k AS n$k").mkString(", ")
    val sChain = (0 until KmB).map { k =>
      val prev = if (k == 0) "1000000000" else s"s${k - 1}"
      s"CASE WHEN n$k > 0 THEN ($prev * (n$k - d$k)) // n$k ELSE $prev END AS s$k"
    }.mkString(",\n    ")
    val rows = (0 until KmB).map(k =>
      s"""SELECT $k AS bucket, (($k + 1) * (mx + 1)) // $KmB AS t_hi,
         |  n$k AS n_risk, d$k AS d, c$k AS c, s$k AS surv_fp FROM sv"""
        .stripMargin).mkString("\nUNION ALL\n")
    s"""WITH ev AS (
       |  SELECT user_id, event_type,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS es
       |  FROM events),
       |su AS (
       |  SELECT user_id, min(es) AS t0 FROM ev
       |  WHERE event_type = 'signup' GROUP BY 1),
       |ed AS (SELECT max(es) AS tend FROM ev),
       |pu AS (
       |  SELECT e.user_id, min(e.es) AS tp
       |  FROM ev e JOIN su ON e.user_id = su.user_id
       |  WHERE e.event_type = 'purchase' AND e.user_id % 5 <> 3
       |    AND e.es >= su.t0 GROUP BY 1),
       |du AS (
       |  SELECT su.user_id,
       |    coalesce(pu.tp, (SELECT tend FROM ed)) - su.t0 AS dur,
       |    CASE WHEN pu.tp IS NOT NULL THEN 1 ELSE 0 END AS evt
       |  FROM su LEFT JOIN pu ON su.user_id = pu.user_id),
       |mxx AS (SELECT max(dur) AS mx FROM du),
       |bk AS (SELECT (dur * $KmB) // (mx + 1) AS b, evt FROM du CROSS JOIN mxx),
       |r0 AS (
       |  SELECT (SELECT mx FROM mxx) AS mx,
       |    $condSums
       |  FROM bk),
       |rn AS (SELECT *, d${KmB - 1} + c${KmB - 1} AS n${KmB - 1} FROM r0),
       |rm AS (SELECT *, $nChain FROM rn),
       |sv AS (SELECT *,
       |    $sChain
       |  FROM rm)
       |$rows
       |ORDER BY bucket""".stripMargin
  }

  // --- event-type co-occurrence lift (association rules) ----------------------
  //
  // The market-basket primitive over user behavior: for every pair of
  // event types, support (users doing both) and LIFT = P(a∧b)/(P(a)P(b))
  // — lift > 1 marks genuinely associated behaviors where raw
  // co-occurrence counts just echo popularity. Baskets are per-user
  // DISTINCT type sets (one dedup aggregate); the pair join is per-user
  // over ≤|types| rows, so its output is bounded by N·|types|² — the
  // item dimension, not the corpus, pays the quadratic term (the
  // q_source_overlap bound). Lift fix-points to ppm through one exact
  // integer expression: floor(n_ab·N·10⁶ / (n_a·n_b)); n_ab·N ≤ N²
  // overflows BIGINT past N ≈ 3·10⁹ users — beyond that the `WideStats`
  // knob (SPARK_GRAFT_DECIMAL38=1) moves the numerator to DECIMAL(38,0)
  // (`liftPpmCol`; exact to N ≈ 10¹⁶, result still BIGINT ppm —
  // `WideStatsSpec` pins both paths).
  //
  // Baskets are deterministically THINNED before pair counting: the raw
  // synthetic events table is degenerate here (every user performs every
  // type — round-2 measured ALL lifts exactly 1.0, the statistic's
  // trivial fixed point). Keeping (user, type) by per-type residue rules
  // (click always; error on even users; purchase on user%4=0 — NESTED in
  // error; signup on user%3=0 — independent of error; view on odd users —
  // DISJOINT from error) injects the popularity spread plus genuinely
  // associated, independent, and mutually exclusive pairs: lifts land at
  // 0 (absent row), ~10⁶, and ~2·10⁶ ppm by construction.

  /** floor(n_ab·n_users·10⁶ / (n_a·n_b)) as BIGINT ppm over columns
    * `n_ab, n_users, n_a, n_b` — BIGINT numerator by default,
    * DECIMAL(38,0) under the `WideStats` knob (`div` on decimals is
    * still Spark's IntegralDivide, returning BIGINT either way).
    * Factored so `WideStatsSpec` can drive it past the BIGINT bound.
    */
  private[graft] def liftPpmCol: Column =
    if (WideStats.wide)
      expr("(CAST(n_ab AS DECIMAL(38,0)) * CAST(n_users AS DECIMAL(38,0)) " +
        "* 1000000) div (CAST(n_a AS DECIMAL(38,0)) * CAST(n_b AS DECIMAL(38,0)))")
    else expr("(n_ab * n_users * 1000000L) div (n_a * n_b)")

  private def qCooccurLift(s: SparkSession, dir: String): DataFrame = {
    val basket = t(s, dir, "events")
      .select(col("user_id"), col("event_type")).distinct()
      .filter(expr(CooccurKeepSql))
      .persist()
    val nUsers = basket.select("user_id").distinct()
      .agg(count(lit(1)).as("n_users"))
    val item = basket.groupBy("event_type").agg(count(lit(1)).as("n_item"))
    val pairs = basket.as("a")
      .join(basket.as("b"), col("a.user_id") === col("b.user_id") &&
        col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(item.select(col("event_type").as("ta"), col("n_item").as("n_a")), "ta")
      .join(item.select(col("event_type").as("tb"), col("n_item").as("n_b")), "tb")
      .crossJoin(broadcast(nUsers))
      .select(col("ta"), col("tb"), col("n_ab"), col("n_a"), col("n_b"),
        liftPpmCol.as("lift_ppm"))
      .orderBy("ta", "tb")
  }

  /** Basket-thinning predicate, valid in both Spark SQL and DuckDB. */
  private val CooccurKeepSql =
    """CASE event_type
      |  WHEN 'error' THEN user_id % 2 = 0
      |  WHEN 'purchase' THEN user_id % 4 = 0
      |  WHEN 'signup' THEN user_id % 3 = 0
      |  WHEN 'view' THEN user_id % 2 = 1
      |  ELSE TRUE END""".stripMargin

  private val qCooccurLiftSql =
    s"""WITH basket AS (
      |  SELECT DISTINCT user_id, event_type FROM events
      |  WHERE $CooccurKeepSql),
      |nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM basket),
      |item AS (SELECT event_type, count(*) AS n_item FROM basket GROUP BY 1),
      |pr AS (
      |  SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS n_ab
      |  FROM basket a JOIN basket b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT pr.ta, pr.tb, CAST(pr.n_ab AS BIGINT) AS n_ab,
      |  CAST(ia.n_item AS BIGINT) AS n_a, CAST(ib.n_item AS BIGINT) AS n_b,
      |  CAST((pr.n_ab * n_users * 1000000) // (ia.n_item * ib.n_item) AS BIGINT)
      |    AS lift_ppm
      |FROM pr JOIN item ia ON pr.ta = ia.event_type
      |JOIN item ib ON pr.tb = ib.event_type
      |CROSS JOIN nu
      |ORDER BY ta, tb""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_grouping_sets" -> (qGroupingSets _),
    "q_winnowing" -> (qWinnowing _),
    "q_kmeans" -> (qKmeans _),
    "q_kcenter" -> (qKcenter _),
    "q_url_canonical" -> (qUrlCanonical _),
    "q_zorder_layout" -> (qZorderLayout _),
    "q_shard_plan" -> (qShardPlan _),
    "q_mutual_knn" -> (qMutualKnn _),
    "q_silhouette" -> (qSilhouette _),
    "q_dbscan" -> (qDbscan _),
    "q_skyline" -> (qSkyline _),
    "q_salted_agg" -> (qSaltedAgg _),
    "q_entropy_filter" -> (qEntropyFilter _),
    "q_ks_test" -> (qKsTest _),
    "q_bootstrap_ci" -> (qBootstrapCi _),
    "q_epoch_shuffle" -> (qEpochShuffle _),
    "q_incr_dedup" -> (qIncrDedup _),
    "q_reservoir_sample" -> (qReservoirSample _),
    "q_rendezvous" -> (qRendezvous _),
    "q_interval_cover" -> (qIntervalCover _),
    "q_chi_square" -> (qChiSquare _),
    "q_mann_whitney" -> (qMannWhitney _),
    "q_gini" -> (qGini _),
    "q_cusum" -> (qCusum _),
    "q_source_overlap" -> (qSourceOverlap _),
    "q_decay_weighted" -> (qDecayWeighted _),
    "q_dp_noise" -> (qDpNoise _),
    "q_kanon" -> (qKanon _),
    "q_mad_outliers" -> (qMadOutliers _),
    "q_cluster_eval" -> (qClusterEval _),
    "q_group_split" -> (qGroupSplit _),
    "q_dp_topk" -> (qDpTopk _),
    "q_label_prop" -> (qLabelProp _),
    "q_ams_sketch" -> (qAmsSketch _),
    "q_benford" -> (qBenford _),
    "q_quota_alloc" -> (qQuotaAlloc _),
    "q_boruvka_mst" -> (qBoruvkaMst _),
    "q_max_cover" -> (qMaxCover _),
    "q_theil_sen" -> (qTheilSen _),
    "q_hist_quantiles" -> (qHistQuantiles _),
    "q_priority_sample" -> (qPrioritySample _),
    "q_skew_report" -> (qSkewReport _),
    "q_gini_stump" -> (qGiniStump _),
    "q_stupid_backoff" -> (qStupidBackoff _),
    "q_snapshot_diff" -> (qSnapshotDiff _),
    "q_spearman" -> (qSpearman _),
    "q_neighborhood_growth" -> (qNeighborhoodGrowth _),
    "q_wilson_ci" -> (qWilsonCi _),
    "q_markov_stationary" -> (qMarkovStationary _),
    "q_assortativity" -> (qAssortativity _),
    "q_ct_lang_id" -> (qCtLangId _),
    "q_kcore" -> (qKcore _),
    "q_kaplan_meier" -> (qKaplanMeier _),
    "q_cooccur_lift" -> (qCooccurLift _))

  val oracles: Map[String, String] = Map(
    "q_grouping_sets" -> qGroupingSetsSql,
    "q_winnowing" -> qWinnowingSql,
    "q_kmeans" -> qKmeansSql,
    "q_kcenter" -> qKcenterSql,
    "q_url_canonical" -> qUrlCanonicalSql,
    "q_zorder_layout" -> qZorderLayoutSql,
    "q_shard_plan" -> qShardPlanSql,
    "q_mutual_knn" -> qMutualKnnSql,
    "q_silhouette" -> qSilhouetteSql,
    "q_dbscan" -> qDbscanSql,
    "q_skyline" -> qSkylineSql,
    "q_salted_agg" -> qSaltedAggSql,
    "q_entropy_filter" -> qEntropyFilterSql,
    "q_ks_test" -> qKsTestSql,
    "q_bootstrap_ci" -> qBootstrapCiSql,
    "q_epoch_shuffle" -> qEpochShuffleSql,
    "q_incr_dedup" -> qIncrDedupSql,
    "q_reservoir_sample" -> qReservoirSampleSql,
    "q_rendezvous" -> qRendezvousSql,
    "q_interval_cover" -> qIntervalCoverSql,
    "q_chi_square" -> qChiSquareSql,
    "q_mann_whitney" -> qMannWhitneySql,
    "q_gini" -> qGiniSql,
    "q_cusum" -> qCusumSql,
    "q_source_overlap" -> qSourceOverlapSql,
    "q_decay_weighted" -> qDecayWeightedSql,
    "q_dp_noise" -> qDpNoiseSql,
    "q_kanon" -> qKanonSql,
    "q_mad_outliers" -> qMadOutliersSql,
    "q_cluster_eval" -> qClusterEvalSql,
    "q_group_split" -> qGroupSplitSql,
    "q_dp_topk" -> qDpTopkSql,
    "q_label_prop" -> qLabelPropSql,
    "q_ams_sketch" -> qAmsSketchSql,
    "q_benford" -> qBenfordSql,
    "q_quota_alloc" -> qQuotaAllocSql,
    "q_boruvka_mst" -> qBoruvkaMstSql,
    "q_max_cover" -> qMaxCoverSql,
    "q_theil_sen" -> qTheilSenSql,
    "q_hist_quantiles" -> qHistQuantilesSql,
    "q_priority_sample" -> qPrioritySampleSql,
    "q_skew_report" -> qSkewReportSql,
    "q_gini_stump" -> qGiniStumpSql,
    "q_stupid_backoff" -> qStupidBackoffSql,
    "q_snapshot_diff" -> qSnapshotDiffSql,
    "q_spearman" -> qSpearmanSql,
    "q_neighborhood_growth" -> qNeighborhoodGrowthSql,
    "q_wilson_ci" -> qWilsonCiSql,
    "q_markov_stationary" -> qMarkovStationarySql,
    "q_assortativity" -> qAssortativitySql,
    "q_ct_lang_id" -> qCtLangIdSql,
    "q_kcore" -> qKcoreSql,
    "q_kaplan_meier" -> qKaplanMeierSql,
    "q_cooccur_lift" -> qCooccurLiftSql)
}
