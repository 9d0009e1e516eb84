package graft.retrieval

import graft.functions.GraftFunctions
import graft.pipeline.VersionedDir
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructType}

import java.nio.file.{Files, Paths}

/** Persisted IVF (inverted-file) vector index over an embeddings table —
  * the scale path for the reference's kNN search (S7, `vector_store.py:
  * 154-223`, ChromaDB HNSW): at 100 TB a per-query brute-force scan of
  * the embeddings table is the wrong plan; the IVF index trades it for a
  * scan of `nprobe` CELLS, and because the assignments table is
  * PARTITIONED BY CELL, the probe is a Parquet partition-pruned read —
  * Spark never opens the other cells' files.
  *
  * Layout (under a [[VersionedDir]] root, atomic rebuilds):
  *   - `centroids` — `(cell:int, centroid:array<double>)`, nlist rows,
  *     unit-normalized (so argmax dot = argmax cosine);
  *   - `assignments` — `(chunk_id, embedding, cell)` partitioned by
  *     `cell`.
  *
  * Sizing: `nlist = max(8, ⌊√N⌋)` (cells keep ~√N members as the corpus
  * grows — the textbook IVF balance between centroid-table size and cell
  * scan cost). Training is deterministic k-means: seeds are the nlist
  * vectors with the smallest `xxhash64(chunk_id)` (a uniform, seedless
  * sample that any re-run reproduces), then `iters` Lloyd rounds where
  * cell assignment is the codegen'd `graft_best_cell` expression — one
  * tight loop per row against the broadcast centroid literal, instead of
  * an N×nlist crossJoin + argmax shuffle. The centroid table stays
  * √N-small (31k × 64 doubles ≈ 16 MB at N = 10⁹), comfortably a task
  * literal at any realistic corpus size.
  */
object VectorIndex extends VectorFamily {

  val DefaultIters = 2
  val DefaultNprobe = 2

  def indexRoot(storeDir: String): String = s"$storeDir/vecindex"

  def centroidsDir(root: String): String = VersionedDir.tableDir(root, "centroids")
  def assignmentsDir(root: String): String = VersionedDir.tableDir(root, "assignments")

  protected def rewrite(spark: SparkSession, root: String)(f: DataFrame => DataFrame): Unit =
    VersionedDir.commit(root, VectorFamily.carried(spark, root, "centroids"),
      "assignments" -> f(spark.read.parquet(assignmentsDir(root))).write.partitionBy("cell"))

  /** File compaction: one assignments file per cell. */
  def compact(spark: SparkSession, root: String): Unit =
    rewrite(spark, root)(_.repartition(col("cell")))

  private def normalize(v: Seq[Double]): Seq[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n > 0) v.map(_ / n) else v
  }

  /** The dot product every vector path scores with: `graft_dot` over
    * the query's non-zero components in ascending index order, each
    * float widened to double, starting from the first product (sparse
    * queries skip zeros). The weights are one array literal, which Spark
    * codegens as a reference object, so every question runs the same
    * generated class. An all-zero query scores the literal 0.0 (null
    * embeddings included); otherwise a null embedding scores null.
    * Shared so the probed, reranked and brute-force scores are
    * bit-identical; needs no registered function.
    */
  def dotColumn(qv: Array[Float], embCol: Column): Column =
    if (qv.forall(_ == 0f)) lit(0.0)
    else GraftFunctions.dot(embCol, typedlit(qv.toSeq.map(_.toDouble)))

  /** [[dotColumn]] of the `embedding` column against a `qv` weight
    * column (a [[weightsTable]] row): the same values, for plans that
    * score several questions in one pass. An all-zero `qv` scores 0.0.
    */
  private[retrieval] def dotWeights: Column =
    GraftFunctions.dot(col("embedding"), col("qv"))

  /** `(v, qv)`: one row per question, its weights widened to double —
    * the broadcast side of a multi-question scan ([[dotWeights]]).
    */
  private[retrieval] def weightsTable(spark: SparkSession, qvs: Seq[(Int, Array[Float])]): DataFrame =
    spark.createDataFrame(qvs.map { case (v, qv) => (v, qv.toSeq.map(_.toDouble)) })
      .toDF("v", "qv")

  /** Cell assignment column against a centroid literal. */
  private[retrieval] def cellCol(cents: Seq[Seq[Double]]): Column =
    call_function("graft_best_cell",
      col("embedding").cast("array<double>"), typedlit(cents))

  /** Deterministic k-means over `(chunk_id, embedding)` rows: seeds are
    * the k smallest-`xxhash64(chunk_id)` vectors (a uniform, seedless
    * sample any re-run reproduces), then `iters` Lloyd rounds with the
    * codegen'd `graft_best_cell` assignment. Shared by the IVF build and
    * the [[IvfPqIndex]] coarse quantizer.
    */
  def trainCentroids(e: DataFrame, k: Int, iters: Int): IndexedSeq[Seq[Double]] = {
    val spark = e.sparkSession
    import spark.implicits._
    GraftFunctions.register(spark)
    var cents: IndexedSeq[Seq[Double]] = e
      .orderBy(xxhash64(col("chunk_id")), col("chunk_id"))
      .limit(k)
      .select(col("embedding").cast("array<double>"))
      .as[Seq[Double]].collect().toIndexedSeq.map(normalize)

    for (_ <- 1 to iters) {
      // Lloyd round: assign (narrow codegen'd pass) → per-cell vector
      // sum via ONE TypedImperativeAggregate buffer (VERDICT r3 #7).
      // The previous posexplode → groupBy(cell, i) EXPANDED N×d
      // (cell, i, x) rows through the partial aggregate (hash-agg
      // map-side combine kept its shuffle at k·d partials — rows were a
      // CPU cost, not bytes); graft_vec_sum folds each vector into a
      // d+1-double buffer in one tight loop — no row expansion, no
      // per-dimension keys, and ~2.4× fewer shuffle bytes (measured:
      // 2.0 vs 5.0 MiB at N=10⁶, d=64, k=64; wall 8.0 vs 11.5 s at
      // k=512 — BASELINE.md, Lloyd-round shuffle diet). Same adds in
      // the same within-partition row order, same final sum/count division
      // (avg's own arithmetic), so centroids are unchanged
      // (VectorIndexSpec pins equality vs the relational form).
      // null/empty embeddings contribute nothing, exactly as the old
      // posexplode path dropped them (posexplode of null/[] → no rows)
      val sums = e
        .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
        .withColumn("cell", cellCol(cents))
        .groupBy("cell")
        .agg(call_function("graft_vec_sum",
          col("embedding").cast("array<double>")).as("sc"))
        .as[(Int, Seq[Double])].collect().toMap
      // empty cells keep their previous centroid
      cents = cents.indices.map { c =>
        normalize(sums.get(c) match {
          case Some(sc) if sc.length > 1 && sc.last > 0 =>
            sc.dropRight(1).map(_ / sc.last)
          case _ => cents(c)
        })
      }
    }
    cents
  }

  /** The pre-round-4 relational Lloyd mean (posexplode → per-dimension
    * avg) — retained as the arithmetic REFERENCE the aggregate path is
    * spec-pinned against (`VectorIndexSpec`), not used by builds.
    */
  private[graft] def lloydRoundRelational(
      e: DataFrame, cents: IndexedSeq[Seq[Double]]): Map[Int, Seq[Double]] = {
    val spark = e.sparkSession
    import spark.implicits._
    e.withColumn("cell", cellCol(cents))
      .select(col("cell"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("i", "x")))
      .groupBy("cell", "i").agg(avg("x").as("x"))
      .groupBy("cell")
      .agg(expr("transform(sort_array(collect_list(struct(i, x))), s -> s.x)")
        .as("centroid"))
      .as[(Int, Seq[Double])].collect().toMap
  }

  /** The `centroids` table as [[build]] writes it (and [[IvfPqIndex]]).
    * Declared on every read, so no read pays a schema-inference job.
    */
  val CentroidsSchema: StructType = new StructType()
    .add("cell", IntegerType).add("centroid", ArrayType(DoubleType))

  private val storedSchemas =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), StructType]()

  /** The schema of `table` in the index at `root`, for the tables whose
    * id and embedding columns keep the types of the rows the index was
    * built from (IVF assignments, PQ and IVF-PQ codes). It is inferred
    * once per index version, keyed by the resolved table directory and
    * the version pointer's mtime (a rebuild at the same path reads it
    * again; an `add` keeps the types), and then declared on every read.
    */
  private[graft] def storedSchema(spark: SparkSession, root: String,
      table: String): StructType = {
    val dir = VersionedDir.tableDir(root, table)
    val pointer = Paths.get(root, "current")
    val stamp = if (Files.exists(pointer)) Files.getLastModifiedTime(pointer).toMillis else -1L
    if (storedSchemas.size > 64) storedSchemas.clear()
    storedSchemas.computeIfAbsent((dir, stamp), _ => spark.read.parquet(dir).schema)
  }

  /** `nlist = max(8, ⌊√N⌋)` unless overridden. */
  def defaultNlist(n: Long): Int = math.max(8, math.sqrt(n.toDouble).toInt)

  /** Build (or atomically rebuild) the index from `(chunk_id,
    * embedding:array<float>)` rows. Returns the number of centroids
    * actually written (less than the requested nlist when the corpus
    * holds fewer vectors).
    */
  def build(emb: DataFrame, root: String, nlist: Option[Int] = None,
      iters: Int = DefaultIters): Int = {
    val spark = emb.sparkSession
    GraftFunctions.register(spark)
    val e = emb.select(col("chunk_id"), col("embedding"))

    val n = e.count()
    val k = nlist.getOrElse(defaultNlist(n))
    val cents = trainCentroids(e, k, iters)

    VersionedDir.commit(root,
      "centroids" -> centroidsTable(spark, cents).write,
      "assignments" -> e.withColumn("cell", cellCol(cents)).write.partitionBy("cell"))
    cents.length
  }

  /** The `centroids` table of `cents`, one file — shared with
    * [[IvfPqIndex]].
    */
  private[retrieval] def centroidsTable(spark: SparkSession, cents: IndexedSeq[Seq[Double]]): DataFrame = {
    import spark.implicits._
    spark.createDataset(cents.zipWithIndex.map { case (c, i) => (i, c) })
      .toDF("cell", "centroid").coalesce(1)
  }

  /** Reads the `centroids` table under `root`'s current version —
    * shared with [[IvfPqIndex]], whose layout uses the same table name.
    */
  private[retrieval] def loadCentroids(spark: SparkSession, root: String): IndexedSeq[Seq[Double]] = {
    import spark.implicits._
    spark.read.schema(CentroidsSchema).parquet(centroidsDir(root))
      .as[(Int, Seq[Double])].collect().sortBy(_._1).map(_._2).toIndexedSeq
  }

  /** Incremental add (the IVF standard: assign new vectors to the FROZEN
    * centroids, append to their cells — no retrain). Pairs with
    * [[graft.pipeline.Ingestion.add]]'s per-upload lifecycle.
    */
  def add(emb: DataFrame, root: String): Unit = {
    val spark = emb.sparkSession
    GraftFunctions.register(spark)
    val cents = loadCentroids(spark, root)
    emb.select(col("chunk_id"), col("embedding"))
      .withColumn("cell", cellCol(cents))
      .write.mode(SaveMode.Append).partitionBy("cell")
      .parquet(assignmentsDir(root))
  }

  /** Exact re-scoring of a small candidate set against the raw
    * embeddings table: broadcast semi-join, the shared [[dotColumn]]
    * fold, deterministic (score desc, chunk_id) cut — the rerank tail
    * [[PqIndex]] and [[IvfPqIndex]] both end in, kept in ONE place so
    * the bit-exactness contract with the brute-force scan cannot drift.
    */
  private[retrieval] def rerankExact(cand: DataFrame, emb: DataFrame,
      qv: Array[Float], topK: Int): DataFrame =
    emb.join(broadcast(cand), "chunk_id")
      .select(col("chunk_id"), dotColumn(qv, col("embedding")).as("score"))
      .orderBy(desc("score"), col("chunk_id"))
      .limit(topK)

  /** The `nprobe` cells whose centroids score highest against `qv`
    * (ties to the lower cell), ranked on the DRIVER: the centroid table
    * is √N-small. Returns `(cell, q·centroid)` best first.
    */
  private[retrieval] def topCells(cents: IndexedSeq[Seq[Double]], qv: Array[Float],
      nprobe: Int): Seq[(Int, Double)] = {
    val qd = qv.map(_.toDouble)
    def dot(c: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      val m = math.min(qd.length, c.length)
      while (i < m) { s += qd(i) * c(i); i += 1 }
      s
    }
    cents.indices.map(i => (i, dot(cents(i))))
      .sortBy { case (i, d) => (-d, i) }
      .take(math.max(1, nprobe))
  }

  /** Exact re-scoring of each question's candidates against the raw
    * embeddings table: [[rerankExact]] for many questions in one plan.
    * `cand` is `(v, chunk_id)`, `weights` a [[weightsTable]]; returns the
    * `topK` best `(v, chunk_id, score, rn)` of each question.
    */
  private[retrieval] def rerankExactMulti(cand: DataFrame, emb: DataFrame,
      weights: DataFrame, topK: Int): DataFrame =
    Retrieval.topPer(
      emb.join(broadcast(cand), "chunk_id").join(broadcast(weights), "v")
        .select(col("v"), col("chunk_id"), dotWeights.as("score")),
      "v", "chunk_id", "score", topK)

  /** Probe: rank cells by centroid dot on the DRIVER (the centroid table
    * is √N-small), then scan only the top-`nprobe` cells — a
    * partition-pruned Parquet read. Returns `(chunk_id, score)` with the
    * same dot-product scores as the brute-force scan.
    */
  def probe(spark: SparkSession, root: String, qv: Array[Float],
      nprobe: Int = DefaultNprobe): DataFrame = {
    val top = topCells(loadCentroids(spark, root), qv, nprobe).map(_._1)
    spark.read.schema(storedSchema(spark, root, "assignments")).parquet(assignmentsDir(root))
      .filter(col("cell").isin(top: _*))
      .select(col("chunk_id"), dotColumn(qv, col("embedding")).as("score"))
  }

  /** [[probe]] for several questions in one scan: each question `v`
    * scores only its own top-`nprobe` cells, through a broadcast
    * `(cell, v, qv)` join over the union of the probed cells (still a
    * partition-pruned read; the cell list is an array literal, so its
    * length does not change the generated code). Returns `(v, chunk_id,
    * score)`.
    */
  private[retrieval] def probeMulti(spark: SparkSession, root: String, qvs: Seq[(Int, Array[Float])],
      nprobe: Int = DefaultNprobe): DataFrame = {
    val cents = loadCentroids(spark, root)
    val probes = qvs.flatMap { case (v, qv) =>
      topCells(cents, qv, nprobe).map { case (c, _) => (c, v, qv.toSeq.map(_.toDouble)) }
    }
    spark.read.schema(storedSchema(spark, root, "assignments")).parquet(assignmentsDir(root))
      .filter(array_contains(typedlit(probes.map(_._1).distinct), col("cell")))
      .join(broadcast(spark.createDataFrame(probes).toDF("cell", "v", "qv")), "cell")
      .select(col("v"), col("chunk_id"), dotWeights.as("score"))
  }
}
