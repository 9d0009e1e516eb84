package graft.pipeline

import com.fasterxml.jackson.annotation.JsonProperty
import graft.JsonCodec
import org.apache.spark.sql.{DataFrame, SaveMode}

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** Iceberg-emulating table layout (SURVEY.md §1.3): no Iceberg runtime jar
  * ships in this offline sandbox, so tables are bucket-partitioned Parquet
  * plus an explicit JSON manifest recording committed buckets and
  * snapshot lineage. The manifest IS the per-partition checkpoint ledger
  * of the north rule: a bucket listed in the manifest is durably
  * committed; restart = skip manifest buckets. Kept behind this narrow
  * object so a real Iceberg catalog (`spark.table(...)` + `MERGE`) drops
  * in unchanged on a real cluster.
  *
  * Schema evolution: ADDED columns work across snapshots via parquet
  * schema merging at read (older buckets surface NULL — see
  * `SchemaEvolutionSpec`). Column RENAMES/DROPS need Iceberg's field-id
  * indirection — provided by the [[SchemaEvolution]] sidecar
  * (`schema-v<id>.json` beside each manifest snapshot), whose
  * `readMerged` remaps/prunes/backfills every bucket to the current
  * schema by id. With a real Iceberg catalog both drop in unchanged.
  *
  * Manifest format ([[JsonCodec]]):
  * `{"snapshot_id":<id>,"completed":[<entry>,…]}`, entries in bucket
  * order, each `{"bucket":…,"rows":…,"bytes":…,"wall_ms":…,"writer":…}`.
  *
  * Commit protocol: write JSON to `manifest.json.tmp`, then atomic
  * `Files.move(..., ATOMIC_MOVE)` over `manifest.json` — readers never see
  * a torn manifest (same single-file-swap discipline Iceberg uses for its
  * metadata pointer).
  */
object TableIO {

  /** `writer` is the snapshot id that committed this bucket — stamped by
    * [[commit]] (callers pass -1), carried durably in every manifest so
    * schema attribution ([[SchemaEvolution.writerSnapshots]]) survives
    * [[expireSnapshots]] deleting the writer's own manifest file. -1 =
    * legacy entry predating the stamp (attribution falls back to
    * first-retained-snapshot derivation); an entry without `"writer"`
    * reads as -1.
    */
  final case class BucketEntry(bucket: Int, rows: Long, bytes: Long,
      @JsonProperty("wall_ms") wallMs: Long, writer: Long = -1L)

  final case class Manifest(
      snapshotId: Long,
      completed: Map[Int, BucketEntry]) {
    def isDone(bucket: Int): Boolean = completed.contains(bucket)
  }

  val Empty: Manifest = Manifest(0L, Map.empty)

  /** A manifest as its file holds it: the entries as a list. */
  private final case class ManifestFile(
      @JsonProperty("snapshot_id") snapshotId: Long, completed: Seq[BucketEntry])

  private def readManifest(p: Path): Option[Manifest] =
    JsonCodec.readFile[ManifestFile](p)
      .map(f => Manifest(f.snapshotId, f.completed.map(e => e.bucket -> e).toMap))

  private def manifestPath(tableDir: String): Path =
    Paths.get(tableDir, "manifest.json")

  /** The live manifest; Empty when it is absent, torn or corrupted, so
    * resume degrades to re-processing instead of failing.
    */
  def read(tableDir: String): Manifest =
    readManifest(manifestPath(tableDir)).getOrElse(Empty)

  private def snapshotPath(tableDir: String, id: Long): Path =
    Paths.get(tableDir, s"manifest-v$id.json")

  /** Append newly completed buckets and atomically swap the manifest.
    * Each commit also retains its manifest as an immutable
    * `manifest-v<id>.json` — the snapshot history behind [[readAt]]'s
    * time travel (the Iceberg metadata-file lineage, emulated).
    */
  def commit(tableDir: String, prev: Manifest, done: Seq[BucketEntry]): Manifest = {
    val id = prev.snapshotId + 1
    // stamp each newly committed bucket with ITS writer snapshot —
    // buckets re-listed from prev keep their original stamp
    val next = Manifest(id,
      prev.completed ++ done.map(e => e.bucket -> e.copy(writer = id)))
    JsonCodec.writeFile(manifestPath(tableDir),
      ManifestFile(id, next.completed.values.toSeq.sortBy(_.bucket)))
    // history copy strictly AFTER the atomic swap: a crash between the
    // two then loses only the snapshot file (readAt → Empty), never
    // publishes an id the table never committed — the reverse order
    // would let snapshots() advertise phantom buckets that orphan
    // cleanup is about to delete
    Files.copy(manifestPath(tableDir), snapshotPath(tableDir, next.snapshotId),
      StandardCopyOption.REPLACE_EXISTING)
    next
  }

  /** Committed snapshot ids, oldest first. */
  def snapshots(tableDir: String): Seq[Long] = {
    val d = Paths.get(tableDir)
    if (!Files.isDirectory(d)) return Nil
    scala.util.Using.resource(Files.list(d))(_.iterator().asScala
      .map(_.getFileName.toString)
      .flatMap {
        case n if n.startsWith("manifest-v") && n.endsWith(".json") =>
          n.stripPrefix("manifest-v").stripSuffix(".json").toLongOption
        case _ => None
      }
      .toVector.sorted)
  }

  /** The manifest as of snapshot `id` (time travel). Buckets are written
    * once and never rewritten, so the bucket set of an old manifest
    * exactly reproduces that snapshot's table contents.
    */
  def readAt(tableDir: String, id: Long): Manifest =
    readAtStrict(tableDir, id).getOrElse(Empty)

  /** [[readAt]] that DISTINGUISHES "snapshot absent/torn" (None) from a
    * committed empty manifest. Consumers whose correctness depends on
    * the manifest's contents being real — incremental deltas, not
    * point-in-time degradable reads — must use this: a torn
    * `manifest-v<id>.json` (the documented [[commit]] crash window)
    * degrading to Empty would silently turn "delta since id" into
    * "everything". The decode is strict, so a truncated file reads as
    * None, never as a partial bucket set.
    */
  def readAtStrict(tableDir: String, id: Long): Option[Manifest] =
    readManifest(snapshotPath(tableDir, id))

  /** Expire old snapshots, keeping the newest `keepLast` (Iceberg's
    * `expireSnapshots` emulation — bounds metadata growth on a table
    * that commits every micro-batch forever). Commits are append-only
    * and buckets write-once, so every bucket an expired manifest lists
    * is still listed by a retained one — expiration deletes ONLY
    * metadata files, never data, and `readAt`/`tableChanges` on an
    * expired id degrade exactly like the documented absent-snapshot
    * cases (Empty / rejected), not into wrong answers. The live
    * `manifest.json` is never touched.
    */
  def expireSnapshots(tableDir: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val ids = snapshots(tableDir)
    val expire = ids.dropRight(keepLast)
    expire.foreach(id => Files.deleteIfExists(snapshotPath(tableDir, id)))
    expire
  }

  /** Delete `p` and everything under it, children first; a missing `p`
    * is a no-op. An entry that vanished between the walk and its delete
    * is skipped; every other IO error propagates.
    */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p))(
        _.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala.toVector)
        .foreach(Files.deleteIfExists(_))

  /** Write `bytes` to `dst` through a `.tmp` sibling and one atomic
    * rename, creating the parent directory: a reader never sees a torn
    * file — the single-file-swap every manifest, pointer and marker uses.
    */
  def writeAtomically(dst: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(dst.getParent)
    val tmp = dst.resolveSibling(dst.getFileName.toString + ".tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Replace the parquet table at `dir` with `rows` (a plan that may read
    * it), partitioned by `partitions`: written beside the table, then
    * swapped in — the anti-join rewrite every whole-document delete uses.
    */
  def replace(rows: DataFrame, dir: String, partitions: String*): Unit = {
    val tmp = Paths.get(s"$dir.rewrite")
    rows.write.mode(SaveMode.Overwrite).partitionBy(partitions: _*).parquet(tmp.toString)
    deleteTree(Paths.get(dir))
    Files.move(tmp, Paths.get(dir))
  }

  def clear(tableDir: String): Unit = {
    val p = manifestPath(tableDir)
    if (Files.exists(p)) Files.delete(p)
    val d = Paths.get(tableDir)
    if (Files.isDirectory(d)) {
      val history = scala.util.Using.resource(Files.list(d))(_.iterator().asScala
        .filter { f =>
          val n = f.getFileName.toString
          n.startsWith("manifest-v") && n.endsWith(".json")
        }
        .toVector)
      history.foreach(Files.delete)
    }
  }
}
