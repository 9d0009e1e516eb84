package graft.functions

import graft.extract.Html
import graft.text.{Chunker, Tokenizer}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Generator, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the text engine's hot scalar paths
  * (SURVEY.md §7.2: "promoted to Expressions once golden-stable").
  *
  * Unlike a Scala UDF, these stay INSIDE whole-stage codegen: `doGenCode`
  * emits a direct static call (no closure dispatch, no
  * serialization-boundary), null handling is generated by
  * `UnaryExpression`'s framework, and Catalyst can see nullability and
  * constant-fold literal inputs. The heavy lifting delegates to the same
  * golden-tested pure functions the pipeline uses — one semantics, two
  * entry points.
  */
object ExprHelpers {
  def htmlStrip(s: UTF8String): UTF8String =
    UTF8String.fromString(Html.mainText(s.toString))

  def sentenceSplit(s: UTF8String): ArrayData =
    new GenericArrayData(Chunker.splitIntoSentences(s.toString)
      .map(x => UTF8String.fromString(x.text)).toArray[Any])

  def tokenize(s: UTF8String): ArrayData =
    new GenericArrayData(Tokenizer.tokenize(s.toString)
      .map(UTF8String.fromString).toArray[Any])

  /** Unicode NFC normalization (canonical composition) — the corpus-prep
    * pass that makes byte-level dedup/hashing see `e`+U+0301 and `é` as
    * the same document. Fast path: `Normalizer.isNormalized` is a scan
    * with no allocation, and real-world corpora are overwhelmingly
    * already NFC, so the common case returns the input UTF8String as-is.
    */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** See [[L2Quantized]]. */
  def l2Quantized(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = math.floor(a.getDouble(i) * 1048576.0).toLong -
        math.floor(b.getDouble(i) * 1048576.0).toLong
      acc += d * d
      i += 1
    }
    acc
  }

  /** See [[WinnowKeys]]. Fixed parameters k = 8, w = 4 — the battery's
    * winnowing configuration (`ScaleQueries.WinK`/`WinW`).
    */
  def winnowKeys(s: UTF8String): ArrayData = {
    val str = s.toString
    val K = 8; val W = 4
    // codepoint offsets so the k-grams match Spark substring()/DuckDB
    // substr() units exactly
    val offs = new java.util.ArrayList[Integer]()
    var ci = 0
    while (ci < str.length) {
      offs.add(ci)
      ci += java.lang.Character.charCount(str.codePointAt(ci))
    }
    offs.add(str.length)
    val ncp = offs.size - 1
    val ng = ncp - K + 1
    if (ng < W) return new GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    val keys = new Array[Long](ng)
    var i = 0
    while (i < ng) {
      val g = str.substring(offs.get(i), offs.get(i + K))
      md.reset()
      val d = md.digest(g.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 10 hex chars = first 5 bytes big-endian — identical to
      // conv(substring(md5(g), 1, 10), 16, 10)
      val h = ((d(0) & 0xffL) << 32) | ((d(1) & 0xffL) << 24) |
        ((d(2) & 0xffL) << 16) | ((d(3) & 0xffL) << 8) | (d(4) & 0xffL)
      keys(i) = h * 2097152L + (1048575L - (i + 1))
      i += 1
    }
    val seen = new java.util.TreeSet[java.lang.Long]()
    var p = 0
    while (p <= ng - W) {
      var m = keys(p)
      var j = p + 1
      while (j < p + W) { if (keys(j) < m) m = keys(j); j += 1 }
      seen.add(m)
      p += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next().longValue(); o += 1 }
    new GenericArrayData(out)
  }

  /** See [[CharEntropyStats]]. Returns [n, |alphabet|, entropy_fp]. */
  def charEntropyStats(s: UTF8String): ArrayData = {
    val str = s.toString
    val counts = new java.util.HashMap[Integer, Long]()
    var n = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      i += java.lang.Character.charCount(cp)
      counts.merge(cp, 1L, (a, b) => a + b)
      n += 1
    }
    var hfp = 0L
    val nd = n.toDouble
    val it = counts.values().iterator()
    while (it.hasNext) {
      val cd = it.next().toDouble
      // identical IEEE op order to the relational form's
      // (c/n) * log2(n/c) * 1e6 + 0.5 — Spark's log2 is
      // StrictMath.log(x) / StrictMath.log(2)
      hfp += math.floor(
        (cd / nd) * (StrictMath.log(nd / cd) / StrictMath.log(2.0)) * 1e6 + 0.5)
        .toLong
    }
    new GenericArrayData(Array[Any](n, counts.size.toLong, hfp))
  }

  private val Ws = java.util.regex.Pattern.compile("\\s+")

  /** Distinct adjacent-token bigram shingles of `lower(text)` — the
    * shared front of the whole near-dup family (minhash/LSH, n-gram
    * Jaccard, containment, triangle/PageRank candidate graphs).
    * Bit-identical to the built-in composition it replaces,
    * `array_distinct(transform(sequence(0, size(ts)-2), i ->
    * concat_ws(' ', ts[i+1], ts[i+2])))` with
    * `ts = filter(split(lower(text), "\\s+"), x -> x != '')`:
    * same lowercase (`UTF8String.toLowerCase`, what `lower()` calls),
    * same `\s+` regex split, same first-occurrence distinct order. The
    * built-in form is three interpreted higher-order functions plus a
    * `sequence` allocation per row; this is one codegen'd call with a
    * single hash-set pass.
    */
  def shingles(s: UTF8String): ArrayData = {
    val toks = Ws.split(s.toLowerCase.toString, -1)
    val seen = new java.util.LinkedHashSet[String]
    var prev: String = null
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.nonEmpty) {
        if (prev != null) seen.add(prev + " " + t)
        prev = t
      }
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  /** Lowercased whitespace tokens (empties dropped) — the battery's
    * shared `simpleTokens` front, promoted from the
    * `filter(split(lower(text), "\\s+"), x -> x != '')` composition:
    * `lower`/`split` are codegen'd built-ins but the `filter` HOF is
    * interpreted per row. Bit-identical (same `UTF8String.toLowerCase`,
    * same `\s+` regex, same order).
    */
  def wsTokens(s: UTF8String): ArrayData = {
    val toks = Ws.split(s.toLowerCase.toString, -1)
    var n = 0
    var i = 0
    while (i < toks.length) { if (toks(i).nonEmpty) n += 1; i += 1 }
    val out = new Array[Any](n)
    i = 0
    var j = 0
    while (i < toks.length) {
      if (toks(i).nonEmpty) { out(j) = UTF8String.fromString(toks(i)); j += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Bands of the ANN/near-dup LSH family (AND-OR amplification). */
  val LshBands = 3

  /** All [[LshBands]] band signatures of one embedding in one tight pass:
    * sig[j] = Σ_k [dot(e, h_{j·r+k}) > 0] · 2^k with the integer-valued
    * hyperplanes h_i[d] = ((d·(i+2) + i²) mod 11) − 5. Semantically
    * identical to the `transform(sequence …, aggregate(sequence …))`
    * higher-order-function composition it replaces — but that form is
    * interpreted (HOFs don't codegen) and allocates a `sequence` array per
    * lambda level, ~b·r·|e| closure dispatches per row; this is a branch-
    * free loop nest with zero per-element allocation.
    */
  def lshSigs(e: ArrayData, r: Int): ArrayData = {
    val n = e.numElements()
    val out = new Array[Long](LshBands)
    var j = 0
    while (j < LshBands) {
      var sig = 0L
      var k = 0
      while (k < r) {
        val i = j * r + k
        var acc = 0.0
        var d = 0
        while (d < n) {
          acc += e.getDouble(d) * ((d * (i + 2) + i * i) % 11 - 5)
          d += 1
        }
        if (acc > 0.0) sig |= 1L << k
        k += 1
      }
      out(j) = sig
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Packed codepoint trigram ids: id_i = cp_i·2⁴² + cp_{i+1}·2²¹ +
    * cp_{i+2} over the string's Unicode CODEPOINTS — exactly DuckDB's
    * `unicode(substr(s, i, 1)) * 2^42 + … ` arithmetic (codepoints are
    * < 2²¹, so the packed id fits a signed 64-bit exactly; no hashing,
    * no collisions). Replaces the md5-per-trigram id in the
    * Cavnar–Trenkle profile build — the 04a4dd2 finding again: a
    * million per-gram md5 calls cost more than they save.
    */
  def triIds(s: UTF8String): ArrayData = {
    val str = s.toString
    val len = str.length
    val n = str.codePointCount(0, len)
    if (n < 3) return new GenericArrayData(Array.empty[Long])
    val cps = new Array[Int](n)
    var i = 0
    var k = 0
    while (i < len) {
      val cp = str.codePointAt(i)
      cps(k) = cp
      k += 1
      i += Character.charCount(cp)
    }
    val out = new Array[Long](n - 2)
    var j = 0
    while (j < n - 2) {
      out(j) = cps(j).toLong * 4398046511104L +
        cps(j + 1).toLong * 2097152L + cps(j + 2).toLong
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct packed-codepoint trigram ids of `s` with their occurrence
    * counts, sorted by (count desc, sid asc) — the Cavnar–Trenkle
    * per-document profile in ONE doc-grain pass. Elements are
    * `struct<sid:long, c:long>`; position therefore IS the rank the
    * relational form computed with a per-doc `row_number()` window over
    * an exploded (doc, sid)-grain aggregate: `slice(result, 1, P)` is
    * the doc's top-P profile with rank = position, no shuffle, no
    * window. The same ids in the same packing as [[triIds]] (oracle
    * parity: DuckDB `unicode(substr(...))` arithmetic).
    */
  def triCounts(s: UTF8String): ArrayData = {
    val idsData = triIds(s)
    val n = idsData.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val ids = idsData.toLongArray()
    java.util.Arrays.sort(ids)
    // run-length encode the sorted ids → (sid, count) pairs
    var distinct = 0
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n && ids(j) == ids(i)) j += 1
      distinct += 1
      i = j
    }
    val sids = new Array[Long](distinct)
    val cs = new Array[Long](distinct)
    i = 0
    var k = 0
    while (i < n) {
      var j = i + 1
      while (j < n && ids(j) == ids(i)) j += 1
      sids(k) = ids(i)
      cs(k) = (j - i).toLong
      k += 1
      i = j
    }
    // order by (count desc, sid asc): sort indices — both arrays are
    // primitive, the index permutation is the only boxing in the pass
    val order = Array.range(0, distinct).sortWith { (a, b) =>
      if (cs(a) != cs(b)) cs(a) > cs(b) else sids(a) < sids(b)
    }
    val out = new Array[Any](distinct)
    i = 0
    while (i < distinct) {
      val o = order(i)
      out(i) = org.apache.spark.sql.catalyst.InternalRow(sids(o), cs(o))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Cosine similarity of two equal-length double arrays, evaluating
    * dot/‖a‖/‖b‖ left-to-right exactly like the
    * `aggregate(zip_with(…))`/`sqrt(aggregate(…))` composition it
    * replaces (bit-identical result, so DuckDB oracles are unaffected).
    * Zero vectors yield NaN, matching `0/0` of the built-in form.
    */
  /** Index of the max-dot-product centroid for embedding `e` among
    * `cents` (ties → lowest index). On unit-normalized vectors dot =
    * cosine, so this is the IVF cell assignment
    * ([[graft.retrieval.VectorIndex]]) — one branch-free loop nest per
    * row instead of an n×nlist crossJoin + argmax shuffle.
    */
  def bestCell(e: ArrayData, cents: ArrayData): Int = {
    val n = e.numElements()
    val k = cents.numElements()
    var best = 0
    var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < k) {
      val cent = cents.getArray(c)
      val m = math.min(n, cent.numElements())
      var dot = 0.0
      var i = 0
      while (i < m) { dot += e.getDouble(i) * cent.getDouble(i); i += 1 }
      if (dot > bestScore) { bestScore = dot; best = c }
      c += 1
    }
    best
  }

  /** Product-quantization encode ([[graft.retrieval.PqIndex]]): for each
    * of the `m = books.length` subspaces (width = the subspace's codeword
    * length), the argmin-L2 codeword index (ties → lowest index), packed
    * as one byte per subspace — the 100 TB storage form of an embedding
    * (m bytes instead of d floats). Requires ≤256 codewords per subspace.
    */
  def pqEncode(e: ArrayData, books: ArrayData): Array[Byte] = {
    val m = books.numElements()
    val n = e.numElements()
    val out = new Array[Byte](m)
    var off = 0
    var j = 0
    while (j < m) {
      val book = books.getArray(j)
      val ks = book.numElements()
      val w = if (ks > 0) book.getArray(0).numElements() else 0
      // fail LOUDLY on a dim mismatch (e.g. add() against codebooks
      // trained at another dim, or a corrupt short row) — an unchecked
      // getDouble past the end is a silent out-of-bounds unsafe read
      if (off + w > n) throw new IllegalArgumentException(
        s"graft_pq_encode: embedding has $n dims but subspace $j needs [${off}, ${off + w})")
      if (ks > 256) throw new IllegalArgumentException(
        s"graft_pq_encode: subspace $j has $ks codewords; byte codes allow at most 256")
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < ks) {
        val cent = book.getArray(c)
        if (cent.numElements() < w) throw new IllegalArgumentException(
          s"graft_pq_encode: codeword $c of subspace $j has ${cent.numElements()} dims, expected $w")
        var d2 = 0.0
        var i = 0
        while (i < w) {
          val dx = e.getDouble(off + i) - cent.getDouble(i)
          d2 += dx * dx
          i += 1
        }
        if (d2 < bestD) { bestD = d2; best = c }
        c += 1
      }
      out(j) = best.toByte
      off += w
      j += 1
    }
    out
  }

  /** Asymmetric distance computation over PQ codes: Σ_j lut[j][codes[j]],
    * the j-ordered left-to-right fold (bit-reproducible). `lut[j][c]` is
    * the query-subvector·codeword dot, precomputed once per query on the
    * driver — the scan reads m bytes and does m table lookups per row.
    */
  def pqAdc(codes: Array[Byte], lut: ArrayData): Double = {
    val m = math.min(codes.length, lut.numElements())
    var s = 0.0
    var j = 0
    while (j < m) {
      s += lut.getArray(j).getDouble(codes(j) & 0xFF)
      j += 1
    }
    s
  }

  /** Binary → array<int> of unsigned byte values (PQ code unpack for the
    * training pass and diagnostics).
    */
  def bytesToInts(b: Array[Byte]): ArrayData = {
    val out = new Array[Int](b.length)
    var i = 0
    while (i < b.length) { out(i) = b(i) & 0xFF; i += 1 }
    new GenericArrayData(out)
  }

  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** See [[TermCounts]]: the distinct non-null strings of `tokens` with
    * their occurrence counts, as `(term, tf)` structs in ascending term
    * order. Sort, then run-length encode.
    */
  def termCounts(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val ts = new Array[UTF8String](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) { ts(m) = tokens.getUTF8String(i); m += 1 }
      i += 1
    }
    java.util.Arrays.sort(ts, 0, m, (a: UTF8String, b: UTF8String) => a.compareTo(b))
    val out = new java.util.ArrayList[InternalRow]()
    i = 0
    while (i < m) {
      var j = i + 1
      while (j < m && ts(j) == ts(i)) j += 1
      out.add(InternalRow(ts(i), (j - i).toLong))
      i = j
    }
    new GenericArrayData(out.toArray)
  }

  /** See [[DotProduct]]: false when a non-zero weight's embedding
    * element is null or missing, or a weight is null (the dot is null).
    */
  def dotDefined(e: ArrayData, w: ArrayData): Boolean = {
    val n = w.numElements()
    val m = e.numElements()
    var i = 0
    while (i < n) {
      if (w.isNullAt(i) || (w.getDouble(i) != 0.0 && (i >= m || e.isNullAt(i)))) return false
      i += 1
    }
    true
  }

  /** See [[DotProduct]]: Σ e[i]·w[i] over the non-zero weights in
    * ascending index order, starting from the first product; float
    * elements are widened to double first. No non-zero weight gives 0.0.
    */
  def dot(e: ArrayData, w: ArrayData, floats: Boolean): Double = {
    val n = w.numElements()
    var s = 0.0
    var first = true
    var i = 0
    while (i < n) {
      val wi = w.getDouble(i)
      if (wi != 0.0) {
        val p = (if (floats) e.getFloat(i).toDouble else e.getDouble(i)) * wi
        s = if (first) p else s + p
        first = false
      }
      i += 1
    }
    s
  }
}

/** One-pass MOSS winnowing (Schleimer/Wilkerson/Aiken 2003) — the
  * codegen'd twin of `ScaleQueries.qWinnowing`'s relational front
  * (k-gram transform → posexplode → md5 → conv → per-doc window min →
  * distinct), which exploded every document into its k-grams before a
  * window AND a distinct shuffle. This fuses all of it into one loop
  * per document: returns the DISTINCT window-min fingerprint keys
  * (hash·2²¹ + (2²⁰−1 − pos), sorted for determinism) with k = 8,
  * w = 4. `WinnowExprParitySpec` pins set-equality with the relational
  * form per document.
  */
final case class WinnowKeys(child: Expression) extends GraftStringExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def helperCall: String = "winnowKeys"
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.winnowKeys(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): WinnowKeys =
    copy(child = c)
  override def prettyName: String = "graft_winnow"
}

/** One-pass per-document character-entropy stats — the codegen'd twin of
  * the relational form in `ScaleQueries.qEntropyFilter` (explode chars →
  * (doc, char) counts → per-doc fixed-point sum), whose explode
  * multiplies the corpus by its character count before two shuffles.
  * This computes the identical three numbers in one narrow projection:
  * [n_chars_used, n_alphabet, entropy_fp] where entropy_fp is the
  * order-immune Σ floor((c/n)·log2(n/c)·10⁶ + ½) over the character
  * histogram. Codepoint iteration matches Spark's `substring`/DuckDB's
  * `substr` unit; `StrictMath` matches Spark's own `log2`
  * (`EntropyExprParitySpec` pins bit-equality with the relational form).
  */
final case class CharEntropyStats(child: Expression) extends GraftStringExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def helperCall: String = "charEntropyStats"
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.charEntropyStats(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): CharEntropyStats =
    copy(child = c)
  override def prettyName: String = "graft_char_entropy"
}

abstract class GraftStringExpression extends UnaryExpression {
  protected def helperCall: String
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.sql}")
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprHelpers.$helperCall($c)")
}

/** `graft_html_strip(html)` → main-content text (boilerplate removed). */
final case class HtmlStrip(child: Expression) extends GraftStringExpression {
  override def dataType: DataType = StringType
  override protected def helperCall: String = "htmlStrip"
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.htmlStrip(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): HtmlStrip = copy(child = c)
  override def prettyName: String = "graft_html_strip"
}

/** `graft_sentence_split(text)` → array of sentences (reference F1
  * semantics, `chunker.py:272-303`).
  */
final case class SentenceSplit(child: Expression) extends GraftStringExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def helperCall: String = "sentenceSplit"
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.sentenceSplit(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): SentenceSplit = copy(child = c)
  override def prettyName: String = "graft_sentence_split"
}

/** `graft_tokenize(text)` → BM25 tokens (reference P1 semantics,
  * `bm25_index.py:208-227`): [[graft.text.Tokenizer.tokenize]], the
  * golden-tested tokenizer, as one codegen'd call. It is the column
  * tokenizer of the whole retrieval layer (`Retrieval.tokenizeCol`).
  */
final case class Bm25Tokenize(child: Expression) extends GraftStringExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def helperCall: String = "tokenize"
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.tokenize(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): Bm25Tokenize = copy(child = c)
  override def prettyName: String = "graft_tokenize"
}

/** `graft_term_counts(tokens)` → the distinct terms of one document's
  * token array with their counts, `array<struct<term: string, tf:
  * bigint>>` in ascending term order ([[ExprHelpers.termCounts]]); null
  * tokens are skipped. `inline` of it is the document's postings rows, so
  * a corpus whose rows are one per document needs no aggregation, and no
  * exchange, to count its terms.
  */
final case class TermCounts(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<string> argument, got ${t.sql}")
  }
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.termCounts(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprHelpers.termCounts($c)")
  override protected def withNewChildInternal(c: Expression): TermCounts = copy(child = c)
  override def prettyName: String = "graft_term_counts"
}

/** `graft_nfc(text)` → Unicode NFC (canonical composition) normalization,
  * codegen'd. Mirrors DuckDB's `nfc_normalize` for oracle parity.
  */
final case class NfcNormalize(child: Expression) extends GraftStringExpression {
  override def dataType: DataType = StringType
  override protected def helperCall: String = "nfc"
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.nfc(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): NfcNormalize = copy(child = c)
  override def prettyName: String = "graft_nfc"
}

/** `graft_shingles(text)` → distinct adjacent-token bigram shingles of
  * the lowercased text (see [[ExprHelpers.shingles]]) — the codegen'd
  * front of every near-dup plan.
  */
final case class BigramShingles(child: Expression) extends GraftStringExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def helperCall: String = "shingles"
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.shingles(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): BigramShingles = copy(child = c)
  override def prettyName: String = "graft_shingles"
}

/** `graft_ws_tokens(text)` → lowercased whitespace tokens, empties
  * dropped (see [[ExprHelpers.wsTokens]]) — the battery's `simpleTokens`
  * front, codegen'd.
  */
final case class WsTokens(child: Expression) extends GraftStringExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def helperCall: String = "wsTokens"
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.wsTokens(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): WsTokens = copy(child = c)
  override def prettyName: String = "graft_ws_tokens"
}

/** `graft_tri_ids(text)` → packed codepoint character-trigram ids
  * ([[ExprHelpers.triIds]]), the Cavnar–Trenkle profile grain.
  */
final case class TriIds(child: Expression) extends GraftStringExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def helperCall: String = "triIds"
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.triIds(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): TriIds = copy(child = c)
  override def prettyName: String = "graft_tri_ids"
}

/** `graft_tri_counts(text)` → distinct trigram ids with counts, sorted
  * by (count desc, sid asc) — see [[ExprHelpers.triCounts]]. Position
  * is the Cavnar–Trenkle per-doc rank, so a doc's top-P profile is
  * `slice(...)` with no per-doc aggregate or window.
  */
final case class TriCounts(child: Expression) extends GraftStringExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("sid", LongType, nullable = false),
      StructField("c", LongType, nullable = false))),
    containsNull = false)
  override protected def helperCall: String = "triCounts"
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.triCounts(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): TriCounts = copy(child = c)
  override def prettyName: String = "graft_tri_counts"
}

/** `graft_l2q(a, b)` → exact fixed-point squared L2 distance between two
  * double vectors quantized at 2²⁰:
  * Σ (floor(aᵢ·2²⁰) − floor(bᵢ·2²⁰))², a BIGINT — the codegen'd twin of
  * the `aggregate(zip_with(...))` lambda chain in the mutual-kNN
  * candidate verifier (bit-identical: same per-element quantization,
  * exact integer arithmetic, so ordering and the DuckDB oracle are
  * unchanged).
  */
final case class L2Quantized(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments")
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ExprHelpers.l2Quantized(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ExprHelpers.l2Quantized($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): L2Quantized =
    copy(left = l, right = r)
  override def prettyName: String = "graft_l2q"
}

/** `graft_lsh_sigs(e, r)` → the [[ExprHelpers.LshBands]] band-amplified
  * random-hyperplane LSH signatures of embedding `e` at `r` bits per band
  * (the ANN/near-dup family's per-vector hot loop), codegen'd.
  */
final case class LshBandSigs(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double>, int), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  }
  override protected def nullSafeEval(e: Any, r: Any): Any =
    ExprHelpers.lshSigs(e.asInstanceOf[ArrayData], r.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (e, r) => s"graft.functions.ExprHelpers.lshSigs($e, $r)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): LshBandSigs = copy(left = l, right = r)
  override def prettyName: String = "graft_lsh_sigs"
}

/** `graft_cosine(a, b)` → cosine similarity of two embedding columns,
  * codegen'd (replaces three interpreted `aggregate`/`zip_with` chains).
  */
final case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double>, array<double>), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ExprHelpers.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ExprHelpers.cosine($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CosineSim = copy(left = l, right = r)
  override def prettyName: String = "graft_cosine"
}

/** `graft_dot(e, w)` → the dot product of an embedding (array<float> or
  * array<double>) with a weight vector (array<double>), summed over the
  * non-zero weights only ([[ExprHelpers.dot]]), codegen'd. Null when `e`
  * is null or lacks an element a non-zero weight needs. A weight literal
  * is codegen'd as a reference object, so every weight vector shares one
  * generated class.
  */
final case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  private def floats: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float|double>, array<double>), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  }
  override protected def nullSafeEval(e: Any, w: Any): Any = {
    val (ea, wa) = (e.asInstanceOf[ArrayData], w.asInstanceOf[ArrayData])
    if (ExprHelpers.dotDefined(ea, wa)) ExprHelpers.dot(ea, wa, floats) else null
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, w) =>
      s"""if (graft.functions.ExprHelpers.dotDefined($e, $w)) {
         |  ${ev.value} = graft.functions.ExprHelpers.dot($e, $w, $floats);
         |} else {
         |  ${ev.isNull} = true;
         |}""".stripMargin)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DotProduct = copy(left = l, right = r)
  override def prettyName: String = "graft_dot"
}

/** `graft_best_cell(e, cents)` → index of the max-dot centroid in
  * `cents` (array<array<double>>) for embedding `e` — the IVF cell
  * assignment, codegen'd.
  */
final case class BestCell(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double>, array<array<double>>), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  }
  override protected def nullSafeEval(e: Any, cents: Any): Any =
    ExprHelpers.bestCell(e.asInstanceOf[ArrayData], cents.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (e, c) => s"graft.functions.ExprHelpers.bestCell($e, $c)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): BestCell = copy(left = l, right = r)
  override def prettyName: String = "graft_best_cell"
}

/** `graft_pq_encode(e, codebooks)` → binary PQ codes (one byte per
  * subspace; codebooks is array<array<array<double>>> indexed
  * [subspace][codeword][dim]) — the [[graft.retrieval.PqIndex]] encode
  * hot loop, codegen'd.
  */
final case class PqEncode(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(ArrayType(ArrayType(DoubleType, _), _), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double>, array<array<array<double>>>), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  }
  override protected def nullSafeEval(e: Any, books: Any): Any =
    ExprHelpers.pqEncode(e.asInstanceOf[ArrayData], books.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (e, b) => s"graft.functions.ExprHelpers.pqEncode($e, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): PqEncode = copy(left = l, right = r)
  override def prettyName: String = "graft_pq_encode"
}

/** `graft_pq_adc(codes, lut)` → the asymmetric-distance score of one PQ
  * code row against a per-query lookup table (array<array<double>>
  * indexed [subspace][codeword]), codegen'd — the PQ scan's only
  * per-row work.
  */
final case class PqAdc(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (BinaryType, ArrayType(ArrayType(DoubleType, _), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (binary, array<array<double>>), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  }
  override protected def nullSafeEval(codes: Any, lut: Any): Any =
    ExprHelpers.pqAdc(codes.asInstanceOf[Array[Byte]], lut.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, l) => s"graft.functions.ExprHelpers.pqAdc($c, $l)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): PqAdc = copy(left = l, right = r)
  override def prettyName: String = "graft_pq_adc"
}

/** `graft_bytes(bin)` → array<int> of unsigned byte values (PQ code
  * unpack — lets the k-means training pass explode codes without an
  * interpreted lambda).
  */
final case class BytesToInts(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a binary argument, got ${child.dataType.sql}")
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.bytesToInts(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprHelpers.bytesToInts($c)")
  override protected def withNewChildInternal(c: Expression): BytesToInts = copy(child = c)
  override def prettyName: String = "graft_bytes"
}

/** `graft_chunks(text[, size, overlap])` → rows of
  * `(chunk_index, content, start, end)` — the golden-locked overlap
  * chunker (reference F4, `chunker.py:223-270`, span-carrying) as a
  * Catalyst GENERATOR: the one-row→N-rows rung of the extension-function
  * ladder (codegen'd scalar Expressions and TypedImperativeAggregates
  * cover the other two). SQL surface for the flagship algorithm:
  *
  *   SELECT doc_id, c.content, c.start, c.end
  *   FROM docs LATERAL VIEW graft_chunks(text, 512, 50) c
  *
  * The extraction pipeline's hot path stays the mapPartitions form
  * (one semantics, two entry points — same policy as the scalar twins);
  * this gives ad-hoc SQL users the identical chunker. Custom generators
  * run eval-based inside GenerateExec (CodegenFallback is the supported
  * path); `size`/`overlap` must be foldable int literals — validated at
  * ANALYSIS time together with the `overlap < size` non-termination
  * guard (the reference's fail-at-construction config check, P23).
  */
final case class ChunkGen(child: Expression, size: Expression, overlap: Expression)
    extends Expression with Generator with CodegenFallback {
  override def children: Seq[Expression] = Seq(child, size, overlap)

  override def elementSchema: StructType = StructType(Seq(
    StructField("chunk_index", IntegerType, nullable = false),
    StructField("content", StringType, nullable = false),
    StructField("start", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${child.dataType.sql}")
    else if (size.dataType != IntegerType || !size.foldable ||
      overlap.dataType != IntegerType || !overlap.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName size/overlap must be foldable int literals")
    else {
      val sz = size.eval().asInstanceOf[Int]
      val ov = overlap.eval().asInstanceOf[Int]
      if (sz <= 0 || ov < 0 || ov >= sz)
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires 0 <= overlap < size, got size=$sz overlap=$ov")
      else TypeCheckResult.TypeCheckSuccess
    }

  private lazy val sz = size.eval().asInstanceOf[Int]
  private lazy val ov = overlap.eval().asInstanceOf[Int]

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = child.eval(input)
    if (t == null) Nil
    else {
      val spans =
        Chunker.splitTextWithOverlap(t.asInstanceOf[UTF8String].toString, sz, ov)
      val out = new Array[InternalRow](spans.length)
      var i = 0
      while (i < spans.length) {
        val c = spans(i)
        out(i) = InternalRow(i, UTF8String.fromString(c.content), c.start, c.end)
        i += 1
      }
      out
    }
  }

  override def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): ChunkGen =
    copy(child = newChildren(0), size = newChildren(1), overlap = newChildren(2))
  override def prettyName: String = "graft_chunks"
}

object GraftFunctions {
  /** graft_chunks arity dispatch: 1-arg form uses the reference defaults
    * (chunk_size=512, chunk_overlap=50 — `config.py:71-82`).
    */
  private[functions] def chunkGenBuilder(cs: Seq[Expression]): Expression = cs match {
    case Seq(text) => ChunkGen(text, Literal(Chunker.DefaultChunkSize),
      Literal(Chunker.DefaultOverlap))
    case Seq(text, sz, ov) => ChunkGen(text, sz, ov)
    case _ => throw new IllegalArgumentException(
      s"graft_chunks expects 1 or 3 arguments, got ${cs.length}")
  }

  /** Every graft_* SQL function by name: the one table both [[register]]
    * and [[GraftExtensions]] install from.
    */
  private[graft] val fns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_chunks" -> (chunkGenBuilder _),
    "graft_html_strip" -> (cs => HtmlStrip(cs.head)),
    "graft_sentence_split" -> (cs => SentenceSplit(cs.head)),
    "graft_tokenize" -> (cs => Bm25Tokenize(cs.head)),
    "graft_term_counts" -> (cs => TermCounts(cs.head)),
    "graft_nfc" -> (cs => NfcNormalize(cs.head)),
    "graft_shingles" -> (cs => BigramShingles(cs.head)),
    "graft_ws_tokens" -> (cs => WsTokens(cs.head)),
    "graft_char_entropy" -> (cs => CharEntropyStats(cs.head)),
    "graft_winnow" -> (cs => WinnowKeys(cs.head)),
    "graft_l2q" -> (cs => L2Quantized(cs(0), cs(1))),
    "graft_topk" -> (cs => TopKAgg(cs(0), cs(1), cs(2))),
    "graft_hll" -> (cs => HllAgg(cs(0), cs(1))),
    "graft_gram" -> (cs => GramAgg(cs.head)),
    "graft_vec_sum" -> (cs => VecSumAgg(cs.head)),
    "graft_lsh_sigs" -> (cs => LshBandSigs(cs(0), cs(1))),
    "graft_tri_ids" -> (cs => TriIds(cs.head)),
    "graft_tri_counts" -> (cs => TriCounts(cs.head)),
    "graft_cosine" -> (cs => CosineSim(cs(0), cs(1))),
    "graft_dot" -> (cs => DotProduct(cs(0), cs(1))),
    "graft_best_cell" -> (cs => BestCell(cs(0), cs(1))),
    "graft_pq_encode" -> (cs => PqEncode(cs(0), cs(1))),
    "graft_pq_adc" -> (cs => PqAdc(cs(0), cs(1))),
    "graft_bytes" -> (cs => BytesToInts(cs.head)))

  /** Imperative registration into an existing session (tests, REPL, and
    * the query battery — called idempotently at query-build time so the
    * battery works in a vanilla session without `spark.sql.extensions`).
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    fns.foreach { case (name, builder) =>
      val id = FunctionIdentifier(name)
      if (!reg.functionExists(id)) reg.registerFunction(id, info(name), builder)
    }
  }

  private[functions] def info(name: String): ExpressionInfo =
    new ExpressionInfo("graft.functions.GraftFunctions", name)

  /** `graft_dot(e, w)` ([[DotProduct]]) as a Column that needs no
    * registered function, so it resolves in any session.
    */
  def dot(embedding: Column, weights: Column): Column =
    PlanBridge.column(DotProduct(PlanBridge.expression(embedding),
      PlanBridge.expression(weights)))

  /** `graft_term_counts(tokens)` ([[TermCounts]]) as a Column, like [[dot]]. */
  def termCounts(tokens: Column): Column =
    PlanBridge.column(TermCounts(PlanBridge.expression(tokens)))
}

/** `--conf spark.sql.extensions=graft.functions.GraftExtensions` for
  * spark-submit deployments (SparkSessionExtensions injection path).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.fns.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), GraftFunctions.info(name), builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRule)
    ext.injectOptimizerRule(_ => graft.plans.AsofJoinPruneRule)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
  }
}
