package graft.retrieval

import graft.functions.GraftFunctions
import graft.pipeline.VersionedDir
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructType}

/** Persisted product-quantization index over an embeddings table — the
  * 100 TB STORAGE path of the ANN family (S7, `vector_store.py:154-223`;
  * Jégou et al., "Product Quantization for Nearest Neighbor Search",
  * TPAMI 2011), complementing [[VectorIndex]]'s IVF compute path:
  *
  *   - each vector is split into `m` subspaces; per subspace a small
  *     k-means codebook (≤256 codewords) quantizes the sub-vector to ONE
  *     BYTE — the persisted `codes` column is `binary` of m bytes, a
  *     d·4/m shrink (64-dim float → 8 bytes is 32×). At 10⁹ vectors ×
  *     m=8 the whole codes table is ~8 GB — cold-scannable anywhere,
  *     while the raw embeddings table is 256 GB;
  *   - a query is scored by asymmetric distance computation (ADC): the
  *     driver precomputes `lut[j][c] = q_subⱼ·codeword` (m×ks doubles —
  *     KBs), and the scan is ONE narrow codegen'd pass
  *     (`graft_pq_adc`): m byte-lookups + adds per row, no join, no
  *     shuffle before the `TakeOrderedAndProject` top-k;
  *   - [[rerank]] refetches exact scores for the ADC top candidates from
  *     the raw embeddings table via a broadcast semi-join — the standard
  *     PQ recall repair, giving final scores bit-identical to the
  *     brute-force scan ([[VectorIndex.dotColumn]], the same fold).
  *
  * Training mirrors [[VectorIndex.build]]'s deterministic k-means: seeds
  * are the ks smallest-`xxhash64(chunk_id)` vectors (sliced per
  * subspace), then `iters` Lloyd rounds where assignment is the
  * codegen'd `graft_pq_encode` (one narrow pass encodes ALL m subspaces)
  * and the update is a per-(subspace, codeword, dim) mean. All m
  * codebooks train in the same two shuffles per round.
  *
  * Layout (under a [[VersionedDir]] root, atomic rebuilds):
  *   - `codebooks` — `(j:int, cid:int, cent:array<double>)`, m×ks rows;
  *   - `codes` — `(chunk_id, codes:binary)`, m bytes per vector.
  */
object PqIndex extends VectorFamily {

  val DefaultM = 8
  val DefaultKs = 256
  val DefaultIters = 2

  def indexRoot(storeDir: String): String = s"$storeDir/pqindex"

  def codebooksDir(root: String): String = VersionedDir.tableDir(root, "codebooks")
  def codesDir(root: String): String = VersionedDir.tableDir(root, "codes")

  protected def rewrite(spark: SparkSession, root: String)(f: DataFrame => DataFrame): Unit =
    VersionedDir.commit(root, VectorFamily.carried(spark, root, "codebooks"),
      "codes" -> f(spark.read.parquet(codesDir(root))).write)

  /** File compaction: the codes in a quarter of the default parallelism's files. */
  def compact(spark: SparkSession, root: String): Unit =
    rewrite(spark, root)(_.coalesce(math.max(1, spark.sparkContext.defaultParallelism / 4)))

  /** codebooks[j][c] = codeword c of subspace j. */
  type Books = IndexedSeq[IndexedSeq[Seq[Double]]]

  private[retrieval] def encodeCol(books: Books): Column =
    call_function("graft_pq_encode",
      col("embedding").cast("array<double>"), typedlit(books))

  /** Deterministic per-subspace k-means over `(chunk_id, embedding)`
    * rows: seeds are the ks smallest-`xxhash64(chunk_id)` vectors (the
    * same seedless uniform sample VectorIndex uses, so any re-run
    * reproduces it), each sliced into the m subspace codebooks, then
    * `iters` Lloyd rounds where assignment is the codegen'd
    * `graft_pq_encode` (ALL m subspaces encoded in one narrow pass).
    * Shared by [[build]] and the [[IvfPqIndex]] residual quantizer.
    */
  def train(e: DataFrame, m: Int, ks: Int, iters: Int): Books = {
    require(ks >= 1 && ks <= 256, s"ks must be in [1,256] (byte codes), got $ks")
    val spark = e.sparkSession
    import spark.implicits._
    GraftFunctions.register(spark)

    val dim = e.select(size(col("embedding"))).as[Int].first()
    require(dim % m == 0, s"embedding dim $dim not divisible by m=$m")
    val w = dim / m

    val seeds = e
      .orderBy(xxhash64(col("chunk_id")), col("chunk_id"))
      .limit(ks)
      .select(col("embedding").cast("array<double>"))
      .as[Seq[Double]].collect().toIndexedSeq
    var books: Books = (0 until m).map(j =>
      seeds.map(v => v.slice(j * w, (j + 1) * w)))

    for (_ <- 1 to iters) {
      // Lloyd round over ALL subspaces at once: encode (narrow codegen'd
      // pass) → per-(subspace, codeword, dim) mean. The posexplode
      // shuffles N×dim rows once per round — an index BUILD cost.
      val means = e
        .select(col("embedding"),
          posexplode(call_function("graft_bytes", encodeCol(books)))
            .as(Seq("j", "cid")))
        .select(col("j"), col("cid"),
          posexplode(expr(s"slice(cast(embedding as array<double>), j * $w + 1, $w)"))
            .as(Seq("i", "x")))
        .groupBy("j", "cid", "i").agg(avg("x").as("x"))
        .groupBy("j", "cid")
        .agg(expr("transform(sort_array(collect_list(struct(i, x))), s -> s.x)")
          .as("cent"))
        .as[(Int, Int, Seq[Double])].collect()
        .map { case (j, c, cent) => (j, c) -> cent }.toMap
      // empty codewords keep their previous centroid
      books = books.indices.map(j =>
        books(j).indices.map(c => means.getOrElse((j, c), books(j)(c))).toIndexedSeq)
    }
    books
  }

  /** Build (or atomically rebuild) from `(chunk_id,
    * embedding:array<float>)` rows. Returns the number of codewords per
    * subspace actually trained (< the requested ks when the corpus holds
    * fewer vectors).
    */
  def build(emb: DataFrame, root: String, m: Int = DefaultM,
      ks: Int = DefaultKs, iters: Int = DefaultIters): Int = {
    require(ks >= 1 && ks <= 256, s"ks must be in [1,256] (byte codes), got $ks")
    val spark = emb.sparkSession
    GraftFunctions.register(spark)
    val e = emb.select(col("chunk_id"), col("embedding"))
    val books = train(e, m, ks, iters)
    VersionedDir.commit(root,
      "codebooks" -> booksTable(spark, books).write,
      "codes" -> e.select(col("chunk_id"), encodeCol(books).as("codes")).write)
    books.head.length
  }

  /** The `codebooks` table of `books`, one file — shared with
    * [[IvfPqIndex]].
    */
  private[retrieval] def booksTable(spark: SparkSession, books: Books): DataFrame = {
    import spark.implicits._
    spark.createDataset(for {
      (book, j) <- books.zipWithIndex
      (cent, c) <- book.zipWithIndex
    } yield (j, c, cent))
      .toDF("j", "cid", "cent").coalesce(1)
  }

  /** The `codebooks` table as [[build]] writes it (and [[IvfPqIndex]]).
    * Declared on every read, so no read pays a schema-inference job.
    */
  val BooksSchema: StructType = new StructType()
    .add("j", IntegerType).add("cid", IntegerType).add("cent", ArrayType(DoubleType))

  def loadBooks(spark: SparkSession, root: String): Books = {
    import spark.implicits._
    spark.read.schema(BooksSchema).parquet(codebooksDir(root))
      .as[(Int, Int, Seq[Double])].collect()
      .groupBy(_._1).toIndexedSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(_._3).toIndexedSeq }
  }

  /** Incremental add: encode new vectors against the FROZEN codebooks,
    * append (no retrain) — the same discipline as [[VectorIndex.add]].
    */
  def add(emb: DataFrame, root: String): Unit = {
    val spark = emb.sparkSession
    GraftFunctions.register(spark)
    val books = loadBooks(spark, root)
    emb.select(col("chunk_id"), encodeCol(books).as("codes"))
      .write.mode(SaveMode.Append).parquet(codesDir(root))
  }

  /** The per-query ADC lookup table: lut[j][c] = q_subⱼ · codeword (the
    * left-to-right fold, mirroring `graft_pq_adc`'s own loop).
    */
  def lut(books: Books, qv: Array[Float]): IndexedSeq[IndexedSeq[Double]] = {
    var off = 0
    books.map { book =>
      val w = if (book.nonEmpty) book.head.length else 0
      val terms = book.map { cent =>
        var s = 0.0
        var i = 0
        while (i < w && off + i < qv.length) { s += qv(off + i).toDouble * cent(i); i += 1 }
        s
      }
      off += w
      terms
    }
  }

  /** ADC scan: ONE narrow codegen'd pass over the codes table (m
    * byte-lookups per row) + `TakeOrderedAndProject` top-k. Returns
    * `(chunk_id, adc_score)` — approximate scores; follow with
    * [[rerank]] when exact ordering matters.
    */
  def scan(spark: SparkSession, root: String, qv: Array[Float],
      topK: Int): DataFrame = {
    GraftFunctions.register(spark)
    val l = lut(loadBooks(spark, root), qv)
    spark.read.schema(VectorIndex.storedSchema(spark, root, "codes")).parquet(codesDir(root))
      .select(col("chunk_id"),
        call_function("graft_pq_adc", col("codes"), typedlit(l)).as("adc_score"))
      .orderBy(desc("adc_score"), col("chunk_id"))
      .limit(topK)
  }

  /** ADC scan + exact rerank: fetch `fetch` candidates by ADC, then
    * re-score them against the RAW embeddings table (broadcast semi-join
    * of the ≤fetch candidate ids) with the same dot fold as the
    * brute-force path — final `(chunk_id, score)` values bit-identical
    * to [[VectorIndex.dotColumn]] on the candidate set.
    */
  def rerank(spark: SparkSession, root: String, qv: Array[Float],
      emb: DataFrame, fetch: Int, topK: Int): DataFrame =
    VectorIndex.rerankExact(
      scan(spark, root, qv, fetch).select("chunk_id"), emb, qv, topK)

  /** [[rerank]] for several questions in one plan: one codes scan crossed
    * with a broadcast `(v, lut)` table (each question's own LUT as a
    * column), the `fetch` best ADC candidates per question, then one
    * exact rerank against `weights` ([[VectorIndex.weightsTable]] of the
    * same `qvs`). Returns the `topK` best `(v, chunk_id, score, rn)` of
    * each question, with [[rerank]]'s values.
    */
  private[retrieval] def rerankMulti(spark: SparkSession, root: String, qvs: Seq[(Int, Array[Float])],
      weights: DataFrame, emb: DataFrame, fetch: Int, topK: Int): DataFrame = {
    GraftFunctions.register(spark)
    val books = loadBooks(spark, root)
    val luts = spark.createDataFrame(qvs.map { case (v, qv) => (v, lut(books, qv): Seq[Seq[Double]]) })
      .toDF("v", "lut")
    val cand = Retrieval.topPer(
      spark.read.schema(VectorIndex.storedSchema(spark, root, "codes")).parquet(codesDir(root))
        .crossJoin(broadcast(luts))
        .select(col("v"), col("chunk_id"),
          call_function("graft_pq_adc", col("codes"), col("lut")).as("adc_score")),
      "v", "chunk_id", "adc_score", fetch)
    VectorIndex.rerankExactMulti(cand.select("v", "chunk_id"), emb, weights, topK)
  }
}
