package graft.pipeline

import org.apache.spark.sql.{DataFrameWriter, Row, SaveMode}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Snapshot discipline shared by the four persisted index families
  * ([[graft.retrieval.Bm25IndexTables]], [[graft.retrieval.VectorIndex]],
  * [[graft.retrieval.PqIndex]], [[graft.retrieval.IvfPqIndex]]): all
  * tables of one index version live under `v<N>/` and a single `current`
  * pointer file is atomically swapped per commit — a reader never sees
  * tables from different rewrites, and a crash mid-rewrite leaves the old
  * version intact (the same manifest-swap discipline [[TableIO]] uses).
  * Every build, delete and compaction commits through [[commit]]; an
  * incremental add appends inside the current version instead. The
  * previous version is retained for in-flight readers; older ones are
  * garbage-collected.
  */
object VersionedDir {

  private def pointer(root: String) = Paths.get(root, "current")

  /** Whether an index has been committed at `root`. */
  def exists(root: String): Boolean = Files.exists(pointer(root))

  def currentVersion(root: String): Option[Long] = {
    val p = pointer(root)
    if (!Files.exists(p)) None
    else new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLongOption
  }

  /** The directory holding the current version's tables (`root/v<N>`),
    * or `root` itself in the legacy unversioned layout (no pointer yet).
    */
  def currentDir(root: String): String = currentVersion(root) match {
    case Some(v) => s"$root/v$v"
    case None => root
  }

  /** Resolve a table path inside the current version ([[currentDir]]). */
  def tableDir(root: String, table: String): String = s"${currentDir(root)}/$table"

  /** Atomically point `current` at version `v` (the single-commit flip). */
  def flip(root: String, v: Long): Unit =
    TableIO.writeAtomically(pointer(root), v.toString.getBytes(StandardCharsets.UTF_8))

  /** Commit one new version of the index at `root`: each `(table, rows)`
    * writes `rows` (a plan over the current version's tables where it
    * rewrites them) as that table of the next version, then one [[flip]]
    * publishes them all and [[gc]] drops versions older than the previous
    * one.
    */
  def commit(root: String, tables: (String, DataFrameWriter[Row])*): Unit = {
    val v = currentVersion(root).getOrElse(0L) + 1
    tables.foreach { case (table, rows) =>
      rows.mode(SaveMode.Overwrite).parquet(s"$root/v$v/$table")
    }
    flip(root, v)
    gc(root, v)
  }

  /** Drop versions older than the previous one (kept for live readers). */
  def gc(root: String, current: Long): Unit = {
    import scala.jdk.CollectionConverters._
    val rootPath = Paths.get(root)
    if (!Files.isDirectory(rootPath)) return
    val dirs = scala.util.Using.resource(Files.list(rootPath))(_.iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("v"))
      .filter(p => p.getFileName.toString.drop(1).toLongOption.exists(_ < current - 1))
      .toVector)
    dirs.foreach { d =>
      scala.util.Using.resource(Files.walk(d))(
        _.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.toVector)
        .foreach(f => try Files.delete(f) catch { case _: Exception => () })
    }
  }
}
