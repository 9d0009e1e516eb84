package graft

import graft.extract.Html
import graft.functions.GraftFunctions
import graft.text.{Chunker, Tokenizer}
import org.scalatest.funsuite.AnyFunSuite

/** The custom Catalyst expressions: SQL-callable, codegen-resident, and
  * semantics identical to the golden-tested pure functions.
  */
class GraftFunctionsSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkTestSession.spark
    GraftFunctions.register(s)
    s
  }

  private val html =
    """<html><body><nav><a href="/x">menu one two</a></nav>
      |<article><p>The actual content paragraph with plenty of words to be
      |kept by the density classifier in every configuration tested.</p>
      |</article><footer>contact about</footer></body></html>""".stripMargin

  test("graft_html_strip matches Html.mainText and runs inside codegen") {
    import spark.implicits._
    val df = Seq(html, null).toDF("h")
      .selectExpr("graft_html_strip(h) AS main")
    val rows = df.collect()
    assert(rows(0).getString(0) == Html.mainText(html))
    assert(rows(1).isNullAt(0))
    // over a real scan the projection stays inside a WholeStageCodegen
    // span (no fallback-to-interpreted); the local-relation case above
    // even constant-folds, which also exercises eval
    val scanned = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("graft_html_strip(text) AS main")
      .filter("length(main) >= 0")
    // the `*(n)` prefix marks operators inside a WholeStageCodegen stage
    val plan = scanned.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Project \\[graft_html_strip.*"),
      s"projection not codegen'd:\n$plan")
    assert(scanned.count() > 0)
  }

  test("graft_sentence_split matches Chunker.splitIntoSentences") {
    import spark.implicits._
    val text = "First sentence. Second one! Third? And a tail"
    val got = Seq(text).toDF("t")
      .selectExpr("graft_sentence_split(t) AS s").as[Seq[String]].head()
    assert(got == Chunker.splitIntoSentences(text).map(_.text))
  }

  test("graft_nfc composes combining marks and keeps NFC text intact") {
    import spark.implicits._
    val decomposed = "Café naïve" // e+U+0301, i+U+0308
    val composed = "Café naïve"
    val rows = Seq(decomposed, composed, "plain ascii", null).toDF("t")
      .selectExpr("graft_nfc(t) AS n").collect()
    assert(rows(0).getString(0) == composed)
    assert(rows(1).getString(0) == composed)
    assert(rows(2).getString(0) == "plain ascii")
    assert(rows(3).isNullAt(0))
    // matches java.text.Normalizer on arbitrary mixed content
    val mixed = "Ǻbc ṩ q̣̇" // multi-mark + ordering cases
    val got = Seq(mixed).toDF("t").selectExpr("graft_nfc(t)").head.getString(0)
    assert(got == java.text.Normalizer.normalize(mixed, java.text.Normalizer.Form.NFC))
  }

  test("graft_ws_tokens is bit-identical to the filter/split/lower chain") {
    import spark.implicits._
    val chain = "filter(split(lower(text), '\\\\s+'), x -> x != '')"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr(s"$chain AS slow", "graft_ws_tokens(text) AS fast")
    assert(docs.count() > 0)
    assert(docs.filter("slow != fast").count() == 0)
    val edges = Seq("  A  b\tC \n", "", "one", "Émile ZOLA", null).toDF("text")
      .selectExpr(s"$chain AS slow", "graft_ws_tokens(text) AS fast").collect()
    edges.foreach { r =>
      if (r.isNullAt(0)) assert(r.isNullAt(1))
      else assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString)
    }
  }

  test("graft_tri_ids packs codepoint trigrams like the transform/substring chain") {
    import spark.implicits._
    // the interpreted composition it replaces: per-position 3-char slice,
    // packed by codepoint arithmetic (ascii() = first codepoint in Spark)
    val chain =
      """transform(sequence(1, greatest(length(text) - 2, 0)),
        |  i -> ascii(substring(text, i, 1)) * 4398046511104L +
        |       ascii(substring(text, i + 1, 1)) * 2097152L +
        |       ascii(substring(text, i + 2, 1)))""".stripMargin
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter("length(text) >= 3")
      .selectExpr(s"$chain AS slow", "graft_tri_ids(text) AS fast")
    assert(docs.count() > 0)
    assert(docs.filter("slow != fast").count() == 0)
    val edges = Seq("ab", "", "abc", "żółw ćma", null).toDF("text")
      .selectExpr("graft_tri_ids(text) AS fast").collect()
    assert(edges(0).getSeq[Long](0).isEmpty && edges(1).getSeq[Long](0).isEmpty)
    assert(edges(2).getSeq[Long](0) ===
      Seq('a'.toLong * 4398046511104L + 'b'.toLong * 2097152L + 'c'.toLong))
    // non-ASCII codepoints pack exactly (ż = U+017C)
    val z = edges(3).getSeq[Long](0)
    assert(z.head === 0x017CL * 4398046511104L + 'ó'.toLong * 2097152L + 'ł'.toLong)
    assert(edges(4).isNullAt(0))
  }

  test("graft_tri_counts equals the explode/groupBy/rank relational form") {
    import spark.implicits._
    // the doc-grain pass must reproduce EXACTLY what the r4 q_ct_lang_id
    // plan computed with a (doc, sid) hash-agg + per-doc rank window:
    // distinct trigram ids with counts, ordered by (c desc, sid asc),
    // position = rank
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter("length(text) >= 3").select("doc_id", "text")
      .createOrReplaceTempView("tri_counts_docs")
    val slow = spark.sql(
      """SELECT doc_id,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, sid) AS rk,
        |  sid, c
        |FROM (
        |  SELECT doc_id, sid, count(1) AS c
        |  FROM (SELECT doc_id, explode(graft_tri_ids(text)) AS sid
        |        FROM tri_counts_docs)
        |  GROUP BY doc_id, sid)""".stripMargin)
    val fast = spark.sql(
      """SELECT doc_id, pos + 1 AS rk, e.sid AS sid, e.c AS c
        |FROM tri_counts_docs
        |LATERAL VIEW posexplode(graft_tri_counts(text)) t AS pos, e""".stripMargin)
    assert(slow.count() > 0)
    assert(slow.exceptAll(fast).count() == 0 && fast.exceptAll(slow).count() == 0)
    // edges: too-short / empty / null inputs
    val edges = Seq("ab", "", null).toDF("text")
      .selectExpr("graft_tri_counts(text) AS tc").collect()
    assert(edges(0).getSeq[Any](0).isEmpty && edges(1).getSeq[Any](0).isEmpty)
    assert(edges(2).isNullAt(0))
  }

  test("graft_shingles is bit-identical to the tokenize/transform/distinct chain") {
    import spark.implicits._
    // the interpreted composition graft_shingles replaces, verbatim from
    // the pre-promotion bigramShingles/qNgramJaccard plans
    val hof = "array_distinct(transform(sequence(0, size(ts)-2), " +
      "i -> concat_ws(' ', element_at(ts, i+1), element_at(ts, i+2))))"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("text", "filter(split(lower(text), '\\\\s+'), x -> x != '') AS ts")
      .selectExpr(s"CASE WHEN size(ts) >= 2 THEN $hof ELSE array() END AS slow",
        "graft_shingles(text) AS fast")
    assert(docs.count() > 0)
    assert(docs.filter("slow != fast").count() == 0)
    // edge + adversarial shapes: whitespace runs, unicode, dup bigrams,
    // <2 tokens, empty, null
    val edges = Seq("a b a b a", "  leading  and\ttrailing \n", "one",
      "", "Émile Zola ÉMILE zola", "x\u00a0y z", null).toDF("text")
      .selectExpr("CASE WHEN text IS NULL THEN NULL ELSE " +
        "filter(split(lower(text), '\\\\s+'), x -> x != '') END AS ts", "text")
      .selectExpr(
        s"CASE WHEN ts IS NULL THEN NULL WHEN size(ts) >= 2 THEN $hof ELSE array() END AS slow",
        "graft_shingles(text) AS fast")
      .collect()
    edges.foreach { r =>
      if (r.isNullAt(0)) assert(r.isNullAt(1))
      else assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString)
    }
    // stays inside whole-stage codegen over a real scan
    val plan = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("graft_shingles(text) AS sh").filter("size(sh) >= 0")
      .queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Project \\[graft_shingles.*"),
      s"projection not codegen'd:\n$plan")
  }

  test("graft_hll plans as partial ObjectHashAggregate, matches the SQL register math, merge-order-proof") {
    import org.apache.spark.sql.functions._
    val toks = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("lang"),
        explode(filter(split(lower(col("text")), "\\s+"), x => x =!= "")).as("tok"))
      .select(col("lang"),
        conv(substring(md5(col("tok")), 1, 12), 16, 10).cast("long").as("h"))
    val agg = toks.groupBy("lang").agg(expr("graft_hll(h, 8)").as("sk"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(2000))
    assert(plan.contains("partial_graft_hll"), plan.take(2000))

    // the oracle's pure-SQL register math, recomputed in Spark — the
    // aggregate must match it to the BIT (integer register sum + one
    // IEEE division; nothing order-dependent anywhere)
    def triples(df: org.apache.spark.sql.DataFrame): Set[(String, Double, Long)] =
      df.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val num = 0.7213 / (1 + 1.079 / 256.0) * 65536.0 * (1L << 41).toDouble
    val regs = toks
      .select(col("lang"), pmod(col("h"), lit(256)).as("bucket"),
        expr("h div 256").as("w"))
      .withColumn("rho",
        when(col("w") === 0, lit(41)).otherwise(lit(41) - length(bin(col("w")))))
      .groupBy("lang", "bucket").agg(max("rho").as("mj"))
    val want = triples(regs.groupBy("lang")
      .agg(sum(expr("shiftleft(1L, cast(41 - mj AS int))")).as("occ"),
        count(lit(1)).as("nocc"))
      .select(col("lang"),
        (lit(num) / (col("occ") + (lit(256L) - col("nocc")) * lit(1L << 41))
          .cast("double")).as("est"),
        (lit(256L) - col("nocc")).as("zeros")))
    val got = triples(agg.select(col("lang"), col("sk.est_distinct"),
      col("sk.zero_registers")))
    assert(got == want)

    // merge-order proof: a pathological 7-way repartition changes which
    // partial buffers merge in which order — the result must not move
    val got7 = triples(toks.repartition(7).groupBy("lang")
      .agg(expr("graft_hll(h, 8)").as("sk"))
      .select(col("lang"), col("sk.est_distinct"), col("sk.zero_registers")))
    assert(got7 == got)
  }

  test("graft_gram is bit-identical to the relational CtC join form, merge-order-proof") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))")
        .as("qv"))
    val agg = emb.agg(expr("graft_gram(qv)").as("g"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(2000))
    assert(plan.contains("partial_graft_gram"), plan.take(2000))
    val got = agg.collect().head.getSeq[Long](0)
    val d = math.sqrt(got.length).toInt
    // the N·d² explode-join form this aggregate replaces
    val vecs = emb.select(col("vec_id"), posexplode(col("qv")).as(Seq("j", "q")))
    val want = vecs
      .join(vecs.select(col("vec_id"), col("j").as("k"), col("q").as("q2")),
        "vec_id")
      .groupBy("j", "k").agg(sum(col("q") * col("q2")).as("g"))
      .collect().map(r => (r.getInt(0) * d + r.getInt(1), r.getLong(2)))
      .sortBy(_._1).map(_._2).toSeq
    assert(got == want, "graft_gram disagrees with the join-form Gram")
    // merge-order proof: partial buffers merging in a different order
    // must produce the identical Long array (addition is exact)
    val got11 = emb.repartition(11).agg(expr("graft_gram(qv)"))
      .collect().head.getSeq[Long](0)
    assert(got11 == got)
  }

  test("graft_topk plans as partial ObjectHashAggregate and matches the window form") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.createOrReplaceTempView("tk_docs")
    val agg = spark.sql(
      """SELECT lang,
        |  graft_topk(CAST(n_chars AS BIGINT), lpad(CAST(doc_id AS STRING), 8, '0'), 3) AS top
        |FROM tk_docs GROUP BY lang""".stripMargin)
    // a TypedImperativeAggregate plans as ObjectHashAggregate with a
    // partial (map-side) stage — that partial stage IS the scale claim:
    // the shuffle carries k-bounded buffers, not the whole group
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(2000))
    assert(plan.contains("partial_graft_topk"), plan.take(2000))

    import org.apache.spark.sql.functions._
    val got = agg.select(col("lang"), explode(col("top")).as("x"))
      .select(col("lang"), col("x.key"), col("x.payload"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang")
      .orderBy(col("key").desc, col("payload").asc)
    val want = docs
      .select(col("lang"), col("n_chars").cast("long").as("key"),
        lpad(col("doc_id").cast("string"), 8, "0").as("payload"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select("lang", "key", "payload")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(got == want)
  }

  test("graft_tokenize matches Tokenizer.tokenize incl. fallback") {
    import spark.implicits._
    val texts = Seq(
      "Spark AND the BM25 Index, with Stop-Words!",
      "a an the", // everything filtered → fallback to the plain split
      "Zażółć gęślą jaźń") // unicode word chars survive
    val got = texts.toDF("t")
      .selectExpr("graft_tokenize(t) AS toks").as[Seq[String]].collect()
    texts.zip(got).foreach { case (t, g) =>
      assert(g == Tokenizer.tokenize(t), s"for '$t'")
    }
  }

  test("graft_term_counts gives each distinct term once with its count, in term order") {
    import spark.implicits._
    val rows = Seq(Some(Seq("b", "a", "b", null, "c", "b")), Some(Seq.empty[String]), None)
      .toDF("toks")
      .selectExpr("graft_term_counts(toks) AS tc")
      .select($"tc.term", $"tc.tf").as[(Option[Seq[String]], Option[Seq[Long]])]
      .collect().toSeq
    assert(rows == Seq(
      (Some(Seq("a", "b", "c")), Some(Seq(1L, 3L, 1L))),
      (Some(Nil), Some(Nil)),
      (None, None)))
  }

  test("expressions compose with built-ins in one SQL pipeline") {
    import spark.implicits._
    val n = Seq(html).toDF("h")
      .selectExpr("size(graft_tokenize(graft_html_strip(h))) AS n")
      .as[Int].head()
    assert(n > 5)
  }

  /** The interpreted higher-order-function composition graft_cosine
    * replaced — kept here as the semantic reference.
    */
  private val CosineHof =
    """aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v) /
      |  (sqrt(aggregate(a, 0D, (acc, v) -> acc + v * v)) *
      |   sqrt(aggregate(b, 0D, (acc, v) -> acc + v * v)))""".stripMargin

  test("graft_cosine is bit-identical to the aggregate/zip_with composition") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val vecs = (0 until 200).map { _ =>
      (Array.fill(64)(rng.nextDouble() * 2 - 1), Array.fill(64)(rng.nextDouble() * 2 - 1))
    }
    val rows = vecs.toDF("a", "b")
      .selectExpr(s"$CosineHof AS hof", "graft_cosine(a, b) AS fast")
      .as[(Double, Double)].collect()
    rows.foreach { case (hof, fast) =>
      assert(java.lang.Double.doubleToLongBits(hof) ==
        java.lang.Double.doubleToLongBits(fast), s"$hof vs $fast")
    }
    // null propagation + codegen residency over a real scan
    val nulled = Seq((null.asInstanceOf[Array[Double]], Array(1.0))).toDF("a", "b")
      .selectExpr("graft_cosine(a, b) AS c").collect()
    assert(nulled(0).isNullAt(0))
    val scanned = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS e")
      .selectExpr("graft_cosine(e, e) AS c")
    val plan = scanned.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Project \\[graft_cosine.*"),
      s"projection not codegen'd:\n$plan")
    // self-cosine of a non-zero vector is 1 up to fp rounding
    assert(scanned.collect().forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-9))
  }

  /** The `element_at` fold `VectorIndex.dotColumn` was before
    * `graft_dot`, kept as its semantic reference: the products over the
    * non-zero weights, widened to double, added left to right.
    */
  private def dotFold(qv: Array[Float], emb: org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions.{element_at, lit}
    qv.toSeq.zipWithIndex.filter { case (w, _) => w != 0f }
      .map { case (w, i) => element_at(emb, i + 1).cast("double") * w.toDouble }
      .reduceOption(_ + _).getOrElse(lit(0.0))
  }

  test("graft_dot equals the element_at fold bit for bit and resolves unregistered") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val s = SparkTestSession.spark.newSession()
    s.sessionState.functionRegistry.dropFunction(FunctionIdentifier("graft_dot"))
    try {
      val rng = new scala.util.Random(11)
      val dim = 64
      def vec(): Seq[Float] = Seq.fill(dim)(
        if (rng.nextInt(9) == 0) -0.0f else (rng.nextGaussian() * 0.3).toFloat)
      val rows = (0 until 300).map { i =>
        val e = vec()
        Row(i, e, e.map(_.toDouble * 1.5))
      } ++ Seq(Row(300, null, null),
        Row(301, vec().updated(5, null), Seq.fill(dim)(0.25).updated(5, null)))
      val df = s.createDataFrame(s.sparkContext.parallelize(rows, 4), new StructType()
        .add("id", IntegerType)
        .add("e", ArrayType(FloatType, containsNull = true))
        .add("d", ArrayType(DoubleType, containsNull = true)))
      val dense = vec().toArray
      val weights = Seq(
        graft.pipeline.Ingestion.hashedEmbedding("the table of content code block"),
        dense,
        dense.zipWithIndex.map { case (w, i) => if (i % 3 == 0) 0f else w },
        Array.tabulate(dim)(i => if (i == 5) -0.0f else if (i == 7) 2f else 0f),
        Array.fill(dim)(0f))
      weights.foreach { qv =>
        Seq("e", "d").foreach { c =>
          val got = df.select(col("id"),
              graft.retrieval.VectorIndex.dotColumn(qv, col(c)).as("fast"),
              dotFold(qv, col(c)).as("fold"))
            .collect()
          assert(got.length == rows.length)
          got.foreach { r =>
            assert(r.isNullAt(1) == r.isNullAt(2), s"null parity, id ${r.getInt(0)} on $c")
            if (!r.isNullAt(1))
              assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
                java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
                s"id ${r.getInt(0)} on $c: ${r.getDouble(1)} vs ${r.getDouble(2)}")
          }
        }
      }
      val plan = df.select(graft.retrieval.VectorIndex.dotColumn(dense, col("e")))
        .queryExecution.executedPlan.toString
      assert(plan.matches("(?s).*\\*\\(\\d+\\) Project \\[graft_dot.*"),
        s"projection not codegen'd:\n$plan")
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(SparkTestSession.spark)
      org.apache.spark.sql.SparkSession.setActiveSession(SparkTestSession.spark)
    }
  }

  /** The interpreted composition graft_lsh_sigs replaced (the round-2
    * `SigsExpr`), kept as the semantic reference: [[graft.functions
    * .ExprHelpers.LshBands]] band signatures at `r` bits per band over the
    * integer hyperplanes h_i[d] = ((d·(i+2) + i²) mod 11) − 5.
    */
  private val SigsHof =
    s"""transform(sequence(0, ${graft.functions.ExprHelpers.LshBands - 1}), j ->
       |  aggregate(sequence(0, r - 1), 0L, (acc, k) ->
       |    acc + IF(
       |      aggregate(sequence(0, size(e) - 1), 0D,
       |        (sacc, d) -> sacc + element_at(e, d + 1) *
       |          CAST((d * (j * r + k + 2) + (j * r + k) * (j * r + k)) % 11 - 5 AS DOUBLE)) > 0D,
       |      shiftleft(1L, k), 0L)))""".stripMargin

  test("graft_l2q is bit-identical to the quantize/zip_with composition") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val vecs = (0 until 200).map { _ =>
      (Array.fill(64)(rng.nextDouble() * 2 - 1), Array.fill(64)(rng.nextDouble() * 2 - 1))
    }
    val hof =
      """aggregate(zip_with(a, b, (p, q) ->
        |  CAST(floor(p * 1048576.0) AS BIGINT) - CAST(floor(q * 1048576.0) AS BIGINT)),
        |  0L, (acc, v) -> acc + v * v)""".stripMargin
    val rows = vecs.toDF("a", "b")
      .selectExpr(s"$hof AS slow", "graft_l2q(a, b) AS fast")
      .as[(Long, Long)].collect()
    rows.foreach { case (s0, f0) => assert(s0 === f0, s"$s0 vs $f0") }
    val nulled = Seq((null.asInstanceOf[Array[Double]], Array(1.0))).toDF("a", "b")
      .selectExpr("graft_l2q(a, b) AS d").collect()
    assert(nulled(0).isNullAt(0))
  }

  test("graft_best_cell matches the HOF argmax and ties break to the lowest cell") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val cents = (0 until 7).map(_ => (0 until 16).map(_ => rng.nextDouble() * 2 - 1))
    val vecs = (0 until 100).map(_ => (0 until 16).map(_ => rng.nextDouble() * 2 - 1))
    // semantic reference: explicit per-centroid dot + scala-side argmax
    def expected(e: Seq[Double]): Int =
      cents.map(c => c.zip(e).map { case (x, y) => x * y }.sum)
        .zipWithIndex.maxBy { case (d, i) => (d, -i) }._2
    val centsLit = org.apache.spark.sql.functions.typedlit(cents)
    val got = vecs.toDF("e")
      .select(org.apache.spark.sql.functions.call_function(
        "graft_best_cell", org.apache.spark.sql.functions.col("e"), centsLit).as("c"))
      .as[Int].collect()
    vecs.zip(got).foreach { case (e, c) => assert(c == expected(e)) }
    // tie-break: identical centroids → lowest index wins
    val dup = Seq(Seq(1.0, 0.0), Seq(1.0, 0.0), Seq(0.0, 1.0))
    val tied = Seq(Seq(2.0, 0.1)).toDF("e")
      .select(org.apache.spark.sql.functions.call_function(
        "graft_best_cell", org.apache.spark.sql.functions.col("e"),
        org.apache.spark.sql.functions.typedlit(dup)).as("c"))
      .as[Int].head()
    assert(tied == 0)
  }

  test("graft_pq_encode / graft_pq_adc / graft_bytes match the reference folds in codegen") {
    import org.apache.spark.sql.functions.{call_function, col, typedlit}
    import spark.implicits._
    val rng = new scala.util.Random(31)
    val m = 4; val ks = 8; val w = 8
    val books: IndexedSeq[IndexedSeq[Seq[Double]]] =
      IndexedSeq.fill(m)(IndexedSeq.fill(ks)(Seq.fill(w)(rng.nextDouble() * 2 - 1)))
    val vecs = (0 until 120).map(_ => Seq.fill(m * w)(rng.nextDouble() * 2 - 1))

    // driver reference encode: argmin L2 per subspace, same loop order
    def encRef(e: Seq[Double]): Seq[Int] = books.zipWithIndex.map { case (book, j) =>
      book.zipWithIndex.map { case (cent, c) =>
        var d2 = 0.0; var i = 0
        while (i < w) { val dx = e(j * w + i) - cent(i); d2 += dx * dx; i += 1 }
        (d2, c)
      }.min._2
    }
    val booksLit = typedlit(books)
    val got = vecs.toDF("e")
      .select(call_function("graft_bytes",
        call_function("graft_pq_encode", col("e"), booksLit)).as("codes"))
      .as[Seq[Int]].collect()
    vecs.zip(got).foreach { case (e, codes) => assert(codes == encRef(e)) }

    // ADC score == the j-ordered driver fold over the same LUT, bit-for-bit
    val q = Array.fill(m * w)(rng.nextDouble() * 2 - 1)
    val lut: IndexedSeq[IndexedSeq[Double]] = books.zipWithIndex.map { case (book, j) =>
      book.map { cent =>
        var s = 0.0; var i = 0
        while (i < w) { s += q(j * w + i) * cent(i); i += 1 }
        s
      }
    }
    val lutLit = typedlit(lut)
    val adc = vecs.toDF("e")
      .select(call_function("graft_pq_adc",
        call_function("graft_pq_encode", col("e"), booksLit), lutLit).as("s"))
      .as[Double].collect()
    vecs.zip(adc).foreach { case (e, s) =>
      val want = encRef(e).zipWithIndex
        .foldLeft(0.0) { case (acc, (c, j)) => acc + lut(j)(c) }
      assert(java.lang.Double.doubleToLongBits(want) ==
        java.lang.Double.doubleToLongBits(s), s"$want vs $s")
    }

    // codegen residency over a real scan (encode reads the m·w prefix)
    val scanned = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("CAST(embedding AS array<double>) AS e")
      .select(call_function("graft_pq_adc",
        call_function("graft_pq_encode", col("e"), booksLit), lutLit).as("s"))
    val plan = scanned.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Project \\[graft_pq_adc.*"),
      s"projection not codegen'd:\n$plan")
    assert(scanned.collect().nonEmpty)
  }

  test("graft_lsh_sigs matches the transform/aggregate composition for varying r") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val vecs = (0 until 100).map(_ => Array.fill(64)(rng.nextDouble() * 2 - 1))
    for (r <- Seq(4, 9, 12)) {
      val rows = vecs.toDF("e").withColumn("r", org.apache.spark.sql.functions.lit(r))
        .selectExpr(s"$SigsHof AS hof", "graft_lsh_sigs(e, r) AS fast")
        .as[(Seq[Long], Seq[Long])].collect()
      rows.foreach { case (hof, fast) => assert(hof == fast, s"r=$r") }
      // signatures stay inside r bits and LshBands entries
      rows.foreach { case (_, fast) =>
        assert(fast.size == graft.functions.ExprHelpers.LshBands)
        assert(fast.forall(s => s >= 0 && s < (1L << r)))
      }
    }
  }

  test("graft_chunks generator matches Chunker.splitTextWithOverlap over real docs") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(50).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    docs.toDF("doc_id", "text").createOrReplaceTempView("gen_docs")
    val rows = spark.sql(
      """SELECT doc_id, c.chunk_index, c.content, c.start, c.end
        |FROM gen_docs LATERAL VIEW graft_chunks(text, 120, 20) c""".stripMargin)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3), r.getInt(4)))
      .toSeq.sortBy(x => (x._1, x._2))
    val want = docs.flatMap { case (id, text) =>
      Chunker.splitTextWithOverlap(text, 120, 20).zipWithIndex.map {
        case (c, i) => (id, i, c.content, c.start, c.end)
      }
    }.sortBy(x => (x._1, x._2))
    assert(rows == want)
    // null text generates zero rows, like explode of an empty array
    val nullRows = spark.sql(
      "SELECT c.* FROM (SELECT CAST(NULL AS STRING) AS text) " +
        "LATERAL VIEW graft_chunks(text) c").collect()
    assert(nullRows.isEmpty)
  }

  test("graft_chunks validates size/overlap at analysis time") {
    val e = intercept[Exception] {
      spark.sql("SELECT c.* FROM (SELECT 'abc' AS text) " +
        "LATERAL VIEW graft_chunks(text, 50, 50) c").collect()
    }
    assert(e.getMessage.contains("overlap"), e.getMessage)
    // 1-arg form uses the reference defaults (512/50) and analyzes fine
    val ok = spark.sql("SELECT c.content FROM (SELECT 'Short text.' AS text) " +
      "LATERAL VIEW graft_chunks(text) c").collect()
    assert(ok.map(_.getString(0)).toSeq ==
      Chunker.splitTextWithOverlap("Short text.").map(_.content))
  }
}
