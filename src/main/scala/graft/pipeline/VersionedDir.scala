package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Snapshot discipline shared by the persisted index families
  * ([[graft.retrieval.Bm25IndexTables]], [[graft.retrieval.VectorIndex]]):
  * all tables of one index version live under `v<N>/` and a single
  * `current` pointer file is atomically swapped per commit — a reader
  * never sees tables from different rewrites, and a crash mid-rewrite
  * leaves the old version intact (the same manifest-swap discipline
  * [[TableIO]] uses). The previous version is retained for in-flight
  * readers; older ones are garbage-collected.
  */
object VersionedDir {

  private def pointer(root: String) = Paths.get(root, "current")

  def currentVersion(root: String): Option[Long] = {
    val p = pointer(root)
    if (!Files.exists(p)) None
    else new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLongOption
  }

  /** The next version number a rebuild should write into. */
  def nextVersion(root: String): Long = currentVersion(root).getOrElse(0L) + 1

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
  def flip(root: String, v: Long): Unit = {
    Files.createDirectories(Paths.get(root))
    val tmp = Paths.get(root, "current.tmp")
    Files.write(tmp, v.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, pointer(root),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
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
