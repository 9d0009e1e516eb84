package graft.retrieval

import graft.functions.GraftFunctions
import graft.pipeline.VersionedDir
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-PQ ("IVFADC", Jégou et al. TPAMI 2011 §IV) — the composition of
  * [[VectorIndex]]'s compute pruning with [[PqIndex]]'s storage
  * compression, and the standard billion-scale ANN serving layout:
  *
  *   - a coarse √N-cell quantizer routes each vector to a cell
  *     (deterministic k-means, shared trainer `VectorIndex.trainCentroids`);
  *   - the RESIDUAL `e − centroid(cell)` is product-quantized to m bytes
  *     (shared trainer `PqIndex.train` — residuals carry far less
  *     variance than raw vectors, so the same byte budget quantizes
  *     finer);
  *   - the codes table is PARTITIONED BY CELL, so a probe is a Parquet
  *     partition-pruned scan of `nprobe` cells reading m BYTES per
  *     vector: both prunings compound — scan N·nprobe/nlist rows × m
  *     bytes instead of N rows × d·4 bytes;
  *   - scoring uses the ADC identity `q·e ≈ q·centroid(cell) + Σⱼ
  *     lut[j][codeⱼ]`: one shared per-query LUT (the books quantize
  *     residuals, which are cell-independent here) plus a per-cell
  *     constant, both driver-computed and broadcast;
  *   - [[rerank]] re-scores the fetched candidates against the raw
  *     embeddings table for exact final ordering.
  *
  * Layout (under a [[VersionedDir]] root, atomic rebuilds):
  *   - `centroids` — `(cell:int, centroid:array<double>)`, nlist rows;
  *   - `codebooks` — `(j:int, cid:int, cent:array<double>)`, m×ks rows
  *     (residual-space codewords);
  *   - `codes` — `(chunk_id, codes:binary)` partitioned by `cell`.
  */
object IvfPqIndex extends VectorFamily {

  val DefaultNprobe = 2

  def indexRoot(storeDir: String): String = s"$storeDir/ivfpqindex"

  def centroidsDir(root: String): String = VersionedDir.tableDir(root, "centroids")
  def codebooksDir(root: String): String = VersionedDir.tableDir(root, "codebooks")
  def codesDir(root: String): String = VersionedDir.tableDir(root, "codes")

  protected def rewrite(spark: SparkSession, root: String)(f: DataFrame => DataFrame): Unit =
    VersionedDir.commit(root, VectorFamily.carried(spark, root, "centroids"),
      VectorFamily.carried(spark, root, "codebooks"),
      "codes" -> f(spark.read.parquet(codesDir(root))).write.partitionBy("cell"))

  /** File compaction: one codes file per cell. */
  def compact(spark: SparkSession, root: String): Unit =
    rewrite(spark, root)(_.repartition(col("cell")))

  /** The `centroids`/`codebooks` table names match [[VectorIndex]] and
    * [[PqIndex]]'s layouts, so their readers apply directly.
    */
  private def loadCentroids(spark: SparkSession, root: String): IndexedSeq[Seq[Double]] =
    VectorIndex.loadCentroids(spark, root)

  def loadBooks(spark: SparkSession, root: String): PqIndex.Books =
    PqIndex.loadBooks(spark, root)

  /** Residual column: `e − centroid(cell)`, against the broadcast
    * centroid literal (element-wise; build/add-time only).
    */
  private def residCol(cents: IndexedSeq[Seq[Double]]) =
    zip_with(col("embedding").cast("array<double>"),
      element_at(typedlit(cents), col("cell") + 1),
      (a, b) => a - b)

  /** Build (or atomically rebuild) from `(chunk_id,
    * embedding:array<float>)` rows. Returns `(nlist, ks)` actually
    * trained.
    */
  def build(emb: DataFrame, root: String, nlist: Option[Int] = None,
      m: Int = PqIndex.DefaultM, ks: Int = PqIndex.DefaultKs,
      iters: Int = PqIndex.DefaultIters): (Int, Int) = {
    require(ks >= 1 && ks <= 256, s"ks must be in [1,256] (byte codes), got $ks")
    val spark = emb.sparkSession
    GraftFunctions.register(spark)
    val e = emb.select(col("chunk_id"), col("embedding"))

    val n = e.count()
    val k = nlist.getOrElse(VectorIndex.defaultNlist(n))
    val cents = VectorIndex.trainCentroids(e, k, iters)

    // residual frame (chunk_id, cell, embedding := e − centroid(cell));
    // persisted: consumed by the PQ Lloyd rounds AND the codes write
    val resid = e
      .withColumn("cell", VectorIndex.cellCol(cents))
      .withColumn("embedding", residCol(cents))
      .persist()
    try {
      val books = PqIndex.train(resid.select("chunk_id", "embedding"), m, ks, iters)

      VersionedDir.commit(root,
        "centroids" -> VectorIndex.centroidsTable(spark, cents).write,
        "codebooks" -> PqIndex.booksTable(spark, books).write,
        "codes" -> resid.select(col("chunk_id"), col("cell"), PqIndex.encodeCol(books).as("codes"))
          .write.partitionBy("cell"))
      (cents.length, books.head.length)
    } finally resid.unpersist()
  }

  /** Incremental add: assign to the FROZEN centroids, encode the
    * residual against the FROZEN codebooks, append to the cells.
    */
  def add(emb: DataFrame, root: String): Unit = {
    val spark = emb.sparkSession
    GraftFunctions.register(spark)
    val cents = loadCentroids(spark, root)
    val books = loadBooks(spark, root)
    emb.select(col("chunk_id"), col("embedding"))
      .withColumn("cell", VectorIndex.cellCol(cents))
      .withColumn("embedding", residCol(cents))
      .select(col("chunk_id"), col("cell"), PqIndex.encodeCol(books).as("codes"))
      .write.mode(SaveMode.Append).partitionBy("cell")
      .parquet(codesDir(root))
  }

  /** ADC probe: rank cells by centroid dot on the DRIVER, scan the
    * top-`nprobe` cells' codes (partition-pruned, m bytes per row),
    * score `q·centroid(cell) + graft_pq_adc(codes, lut)`, return the
    * `fetch` best `(chunk_id, adc_score)` candidates.
    */
  def probe(spark: SparkSession, root: String, qv: Array[Float],
      nprobe: Int = DefaultNprobe, fetch: Int = QueryPipeline.PqFetch): DataFrame = {
    GraftFunctions.register(spark)
    import spark.implicits._
    val top = VectorIndex.topCells(loadCentroids(spark, root), qv, nprobe)
    val consts = spark.createDataset(top).toDF("cell", "cconst")
    val lut = PqIndex.lut(loadBooks(spark, root), qv)
    spark.read.schema(VectorIndex.storedSchema(spark, root, "codes")).parquet(codesDir(root))
      .filter(col("cell").isin(top.map(_._1): _*))
      .join(broadcast(consts), "cell")
      .select(col("chunk_id"),
        (call_function("graft_pq_adc", col("codes"), typedlit(lut)) +
          col("cconst")).as("adc_score"))
      .orderBy(desc("adc_score"), col("chunk_id"))
      .limit(fetch)
  }

  /** Probe + exact rerank against the raw embeddings table — final
    * `(chunk_id, score)` bit-identical to [[VectorIndex.dotColumn]] on
    * the candidate set.
    */
  def rerank(spark: SparkSession, root: String, qv: Array[Float],
      emb: DataFrame, nprobe: Int, fetch: Int, topK: Int): DataFrame =
    VectorIndex.rerankExact(
      probe(spark, root, qv, nprobe, fetch).select("chunk_id"), emb, qv, topK)

  /** [[rerank]] for several questions in one plan: each question `v`
    * probes only its own cells, through a broadcast `(cell, v, cconst,
    * lut)` join over the union of the probed cells (a partition-pruned
    * codes scan), keeps its `fetch` best ADC candidates, and all are
    * reranked exactly against `weights` ([[VectorIndex.weightsTable]] of
    * the same `qvs`). Returns the `topK` best `(v, chunk_id, score, rn)`
    * of each question, with [[rerank]]'s values.
    */
  private[retrieval] def rerankMulti(spark: SparkSession, root: String, qvs: Seq[(Int, Array[Float])],
      weights: DataFrame, emb: DataFrame, nprobe: Int, fetch: Int,
      topK: Int): DataFrame = {
    GraftFunctions.register(spark)
    val cents = loadCentroids(spark, root)
    val books = loadBooks(spark, root)
    val probes = qvs.flatMap { case (v, qv) =>
      val lut: Seq[Seq[Double]] = PqIndex.lut(books, qv)
      VectorIndex.topCells(cents, qv, nprobe).map { case (c, cconst) => (c, v, cconst, lut) }
    }
    val cand = Retrieval.topPer(
      spark.read.schema(VectorIndex.storedSchema(spark, root, "codes")).parquet(codesDir(root))
        .filter(array_contains(typedlit(probes.map(_._1).distinct), col("cell")))
        .join(broadcast(spark.createDataFrame(probes).toDF("cell", "v", "cconst", "lut")), "cell")
        .select(col("v"), col("chunk_id"),
          (call_function("graft_pq_adc", col("codes"), col("lut")) +
            col("cconst")).as("adc_score")),
      "v", "chunk_id", "adc_score", fetch)
    VectorIndex.rerankExactMulti(cand.select("v", "chunk_id"), emb, weights, topK)
  }
}
