package graft.retrieval

import graft.pipeline.VersionedDir
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._

/** What a store's maintenance paths need of a vector index family
  * ([[VectorIndex]], [[IvfPqIndex]], [[PqIndex]]): where it lives in a
  * store, whether it is built, an incremental add against its frozen
  * quantizers, and delete and compaction. Both rewrite the family's
  * per-vector table into a new [[VersionedDir]] version and carry its
  * trained tables over unchanged.
  */
trait VectorFamily {

  /** Conventional index root inside an ingestion store. */
  def indexRoot(storeDir: String): String

  def exists(root: String): Boolean = VersionedDir.exists(root)

  /** Append `(chunk_id, embedding)` rows, encoded against the frozen
    * quantizers (no retrain).
    */
  def add(emb: DataFrame, root: String): Unit

  /** Commit the next version: the per-vector table is `f` of the current
    * one, written in the family's layout; the trained tables are carried
    * over ([[VectorFamily.carried]]).
    */
  protected def rewrite(spark: SparkSession, root: String)(f: DataFrame => DataFrame): Unit

  /** Cascade delete: anti-join rewrite of the per-vector table. */
  def delete(spark: SparkSession, ids: DataFrame, idCol: String, root: String): Unit =
    rewrite(spark, root)(_.join(broadcast(ids), Seq(idCol), "left_anti"))

  /** File compaction after many [[add]] batches; contents unchanged. */
  def compact(spark: SparkSession, root: String): Unit
}

object VectorFamily {

  /** Every vector index family a store may carry: the one list the
    * store's append, delete and compaction fan-outs iterate.
    */
  val all: Seq[VectorFamily] = Seq(VectorIndex, IvfPqIndex, PqIndex)

  /** The families built in the store at `storeDir`, with their roots. */
  def present(storeDir: String): Seq[(VectorFamily, String)] =
    all.map(f => f -> f.indexRoot(storeDir)).filter { case (f, root) => f.exists(root) }

  /** A trained `table` of `root`'s current version, rewritten as one
    * file into the next version.
    */
  private[retrieval] def carried(spark: SparkSession, root: String,
      table: String): (String, DataFrameWriter[Row]) =
    table -> spark.read.parquet(VersionedDir.tableDir(root, table)).coalesce(1).write
}
