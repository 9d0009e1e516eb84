package graft.retrieval

import graft.text.Tokenizer
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, NoSuchFileException, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import scala.jdk.CollectionConverters._

/** The BM25 keyword index persisted as TABLES — the Spark-native
  * re-expression of the reference's JSON-blob index (rafalpronko/
  * pdf-parser `app/retrieval/bm25_index.py:238-315`: parallel arrays
  * `doc_ids/texts/tokenized_corpus` + k1/b params, full rebuild per
  * add/remove at `bm25_index.py:140-141,168-171`).
  *
  * Ours keeps the relational factorization instead:
  *   - `postings(doc_id, term, tf, dl)` — the inverted index
  *   - `doclens(doc_id, dl)` — row per doc incl. zero-token docs
  *     (they count toward N/avgdl in rank_bm25)
  * Derived stats are never serialized, so they cannot go stale (the
  * reference's "corruption detector" at `bm25_index.py:376-409` exists
  * precisely because its parallel arrays CAN drift; tables can't). The
  * three corpus scalars — N, avgdl and the vocabulary's mean raw idf that
  * the epsilon floor scales — are what rank_bm25 computes once per index
  * build (`bm25_index.py:229-236`); here they are aggregated once per
  * index SNAPSHOT and memoized ([[snapshot]]), keyed by the version
  * directory and every data file's name, length and mtime, so any
  * build/add/delete/compact moves the key. A question then reads only
  * its own terms' postings rows: a term's df is its row count among
  * them, since each postings row is one (doc, term).
  *
  * Each table is written in one narrow pass over the corpus, with no
  * exchange: `graft_tokenize`, then the document's length (doclens) or
  * its inlined `graft_term_counts` (postings, [[Retrieval.postings]]).
  * That needs one corpus row per id, which chunk ids and the new ids of
  * an [[add]] are.
  *
  * Maintenance is incremental at partition granularity instead of the
  * reference's full O(corpus) rebuild:
  *   - add: append the new docs' postings/doclens
  *   - delete: anti-join rewrite (the S10 cascade-delete shape)
  *
  * Snapshot discipline: both tables live under a VERSION directory
  * (`v<N>/postings`, `v<N>/doclens`) and a single `current` pointer file
  * is atomically swapped per commit — one flip covers both tables, so a
  * reader never sees postings and doclens from different rewrites and a
  * crash mid-rewrite leaves the old version intact (the same
  * manifest-swap discipline [[graft.pipeline.TableIO]] uses). The
  * previous version is retained for in-flight readers; older ones are
  * garbage-collected.
  */
object Bm25IndexTables {

  import graft.pipeline.VersionedDir

  def postingsDir(indexDir: String): String =
    VersionedDir.tableDir(indexDir, "postings")
  def doclensDir(indexDir: String): String =
    VersionedDir.tableDir(indexDir, "doclens")

  /** `(doclens, postings)` rows of a corpus: one doclens row per doc,
    * one postings row per (doc, term). Each is one narrow pass over
    * `docs`, which holds one row per id ([[Retrieval.postings]]'
    * contract).
    */
  private def tables(docs: DataFrame, idCol: String, textCol: String): (DataFrame, DataFrame) =
    (Retrieval.tokenized(docs, idCol, textCol).select(col(idCol), col("dl")),
      Retrieval.postings(docs, idCol, textCol))

  /** Build (overwrite) the index tables from a corpus: write a fresh
    * version directory, then flip the pointer once.
    */
  def build(docs: DataFrame, idCol: String, textCol: String, indexDir: String): Unit = {
    val (doclens, postings) = tables(docs, idCol, textCol)
    VersionedDir.commit(indexDir, "doclens" -> doclens.write, "postings" -> postings.write)
  }

  /** Append new documents (incremental add; caller guarantees new ids,
    * one row each).
    */
  def add(docs: DataFrame, idCol: String, textCol: String, indexDir: String): Unit = {
    val (doclens, postings) = tables(docs, idCol, textCol)
    doclens.write.mode(SaveMode.Append).parquet(doclensDir(indexDir))
    postings.write.mode(SaveMode.Append).parquet(postingsDir(indexDir))
  }

  /** Cascade delete: anti-join rewrite of both tables (S10 shape) into a
    * NEW version directory, committed by one pointer flip — readers see
    * either the old pair or the new pair, never a mix or a missing table.
    */
  def delete(spark: SparkSession, ids: DataFrame, idCol: String, indexDir: String): Unit = {
    def kept(dir: String) =
      spark.read.parquet(dir).join(broadcast(ids), Seq(idCol), "left_anti").write
    VersionedDir.commit(indexDir,
      "postings" -> kept(postingsDir(indexDir)), "doclens" -> kept(doclensDir(indexDir)))
  }

  /** File compaction: incremental [[add]]s append a few small files per
    * batch; after many batches the listing/open overhead dominates scan
    * time. Rewrite both tables into a new version at a bounded partition
    * count and flip — contents unchanged, atomic like every other
    * version swap.
    */
  def compact(spark: SparkSession, indexDir: String, targetPartitions: Int = 8): Unit =
    VersionedDir.commit(indexDir,
      "postings" -> spark.read.parquet(postingsDir(indexDir)).repartition(targetPartitions).write,
      "doclens" -> spark.read.parquet(doclensDir(indexDir))
        .repartition(math.max(1, targetPartitions / 2)).write)

  /** The postings columns a scorer reads, typed as [[build]] and [[add]]
    * write them; the id column keeps the corpus's own type. A declared
    * read schema spares the per-read schema-inference job.
    */
  def postingsReadSchema(idCol: String, idType: DataType): StructType =
    new StructType().add(idCol, idType).add("dl", IntegerType)
      .add("term", StringType).add("tf", LongType)

  /** The corpus scalars of one index snapshot, resolved at `dir` (the
    * version directory): document count (zero-token docs included), mean
    * document length, and the mean raw Okapi idf over the vocabulary.
    * `postings` is the snapshot's stored postings schema.
    */
  final case class Snapshot(dir: String, nDocs: Long, avgdl: Double,
      avgIdf: Double, postings: StructType)

  private final case class SnapshotKey(dir: String, files: Vector[(String, Long, Long)])

  private val MemoCapacity = 16

  // access-ordered LRU: a get reorders entries, so every access holds its lock
  private val memo = new java.util.LinkedHashMap[SnapshotKey, Snapshot](
      MemoCapacity, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[SnapshotKey, Snapshot]): Boolean = size() > MemoCapacity
  }

  /** (path under `root`, length, mtime) of every data file below `root`,
    * sorted. `_`/`.`-prefixed names are skipped before any stat, as
    * Spark's file index does; an entry that vanishes between listing and
    * stat (a concurrent append's committer clearing its `_temporary`
    * files) is skipped, not an error.
    */
  private def dataFiles(root: Path): Vector[(String, Long, Long)] = {
    def walk(dir: Path): Vector[(String, Long, Long)] = {
      val entries =
        try { val s = Files.newDirectoryStream(dir); try s.asScala.toVector finally s.close() }
        catch { case _: NoSuchFileException => Vector.empty }
      entries.filterNot { p =>
        val n = p.getFileName.toString
        n.startsWith("_") || n.startsWith(".")
      }.flatMap { p =>
        try {
          val a = Files.readAttributes(p, classOf[BasicFileAttributes])
          if (a.isDirectory) walk(p)
          else Vector((root.relativize(p).toString, a.size(), a.lastModifiedTime().toMillis))
        } catch { case _: NoSuchFileException => Vector.empty }
      }
    }
    walk(root).sorted
  }

  /** The current snapshot's corpus scalars, from the memo when the
    * snapshot's files are unchanged, else aggregated over its tables.
    */
  def snapshot(spark: SparkSession, indexDir: String): Snapshot = {
    val dir = VersionedDir.currentDir(indexDir)
    // the version directory holds exactly the postings and doclens tables
    val key = SnapshotKey(dir, dataFiles(Paths.get(dir)))
    memo.synchronized(Option(memo.get(key))).getOrElse {
      val post = spark.read.parquet(s"$dir/postings")
      val stats = spark.read.schema(new StructType().add("dl", IntegerType))
        .parquet(s"$dir/doclens")
        .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl")).head()
      val nDocs = stats.getLong(0)
      val avgIdf = post.groupBy("term").agg(count(lit(1)).as("df"))
        .agg(avg(Retrieval.idfRaw(lit(nDocs), col("df")))).head()
      def orNaN(r: Row, i: Int) = if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
      val snap = Snapshot(dir, nDocs, orNaN(stats, 1), orNaN(avgIdf, 0), post.schema)
      memo.synchronized(memo.put(key, snap))
      snap
    }
  }

  /** BM25Okapi scores of several queries against the persisted index:
    * (v, idCol, score), only docs with at least one query term. The
    * corpus scalars come from [[snapshot]]; the one postings scan reads
    * only the query terms' rows, and df is counted among them. Same
    * formula as [[Retrieval.bm25ScoresFromIndex]], without its tf_sum.
    * The scalars enter as data, on every row of the broadcast query-term
    * table (no extra broadcast, so no extra job), never as literals: a
    * literal would be compiled into the scoring code, so each index
    * snapshot would compile its own classes.
    */
  def scoreMulti(spark: SparkSession, indexDir: String,
      queries: Seq[(Int, String)], idCol: String,
      k1: Double = Retrieval.DefaultK1,
      b: Double = Retrieval.DefaultB): DataFrame = {
    val snap = snapshot(spark, indexDir)
    val qRows = queries.flatMap { case (v, q) =>
      Tokenizer.tokenize(q).groupBy(identity).map { case (t, os) =>
        (v, t, os.size, snap.nDocs, snap.avgdl, snap.avgIdf)
      }
    }
    val idType = snap.postings(idCol).dataType
    if (qRows.isEmpty)
      return spark.createDataFrame(java.util.List.of[Row](),
        new StructType().add("v", IntegerType).add(idCol, idType).add("score", DoubleType))
    val qDf = spark.createDataFrame(qRows)
      .toDF("v", "term", "qn", "n_docs", "avgdl", "avg_idf")
    spark.read.schema(postingsReadSchema(idCol, idType)).parquet(s"${snap.dir}/postings")
      .filter(col("term").isin(qRows.map(_._2).distinct: _*))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .join(broadcast(qDf), "term")
      .withColumn("idf", Retrieval.flooredIdf(
        Retrieval.idfRaw(col("n_docs"), col("df")), col("avg_idf")))
      .withColumn("contrib", Retrieval.bm25Contrib(col("avgdl"), k1, b))
      .groupBy(col("v"), col(idCol))
      .agg(sum(col("contrib")).as("score"))
  }

  /** Score one query against the persisted index: (idCol, score)
    * ([[scoreMulti]] for a single query).
    */
  def score(spark: SparkSession, indexDir: String, query: String,
      idCol: String, k1: Double = Retrieval.DefaultK1,
      b: Double = Retrieval.DefaultB): DataFrame =
    scoreMulti(spark, indexDir, Seq(0 -> query), idCol, k1, b).drop("v")

  /** The reference's index invariants (`bm25_index.py:376-409`), as
    * relational assertions. Returns (ok, message).
    */
  def validate(spark: SparkSession, indexDir: String, idCol: String): (Boolean, String) = {
    val post = spark.read.parquet(postingsDir(indexDir))
    val lens = spark.read.parquet(doclensDir(indexDir))
    // docs with postings must exist in doclens
    val orphans = post.select(idCol).distinct()
      .join(lens.select(idCol), Seq(idCol), "left_anti").count()
    if (orphans > 0) return (false, s"$orphans posting docs missing doclens")
    // tf sums must equal dl for docs with postings
    val badLen = post.groupBy(idCol).agg(sum("tf").as("tfsum"), first("dl").as("dl"))
      .filter(col("tfsum") =!= col("dl")).count()
    if (badLen > 0) return (false, s"$badLen docs where sum(tf) != dl")
    // duplicate doclens rows
    val dups = lens.groupBy(idCol).count().filter(col("count") > 1).count()
    if (dups > 0) return (false, s"$dups duplicate doclens ids")
    (true, "ok")
  }
}
