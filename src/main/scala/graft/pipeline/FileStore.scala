package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.time.Instant

/** Raw-payload staging store — the native analog of the reference's
  * `FileStorageService` (rafalpronko/pdf-parser
  * `app/storage/file_storage.py:76-137,139-198`): uploads land on disk
  * keyed by file id with the original extension preserved, behind a
  * path-traversal guard and a size cap, and carry (size, sha256,
  * created_at) metadata.
  *
  * In our pipeline raw bytes normally travel as parquet binary columns
  * (driver-distributed, no shared-filesystem assumption), so this store
  * is the UPLOAD-EDGE surface only: the place a §3.1 ingestion flow
  * stages an incoming file before the extraction job reads it. The
  * validation contract is the reference's, test-for-test
  * (`tests/test_security.py`, `tests/test_file_storage.py`):
  *  - the resolved path must stay inside the store root — ids like
  *    `../../etc/passwd`, absolute paths, or encoded traversal that
  *    survives decoding are rejected (`file_storage.py:129-135`);
  *  - payloads over the cap are rejected before any write
  *    (`file_storage.py:76-92`, 50 MB — shared constant with the
  *    extractor's `too_large` skip reason);
  *  - the extension comes from the ORIGINAL filename, the basename from
  *    the id (`file_storage.py:124-126`).
  */
object FileStore {

  final case class FileValidationError(message: String)
    extends IllegalArgumentException(message)

  /** file_storage.py metadata row (FileMetadata, `:190-198`). */
  final case class FileMeta(
      fileId: String,
      filename: String,
      fileSize: Long,
      sha256: String,
      path: String,
      createdAt: Instant)

  val MaxBytes: Long = graft.extract.Extractor.DefaultMaxPayloadChars.toLong

  /** Resolve `fileId + extension(originalFilename)` strictly inside
    * `root` (`file_storage.py:114-137`). Throws [[FileValidationError]]
    * when the resolved path escapes the root.
    */
  def storagePath(root: String, fileId: String, originalFilename: String): Path = {
    val rootPath = Paths.get(root).toAbsolutePath.normalize()
    // extension of the BASENAME only (pathlib `.suffix` semantics,
    // file_storage.py:125) — a filename tail containing separators is
    // not an extension and must never reach the path expression
    val base = originalFilename.substring(
      originalFilename.lastIndexOf('/') + 1)
    val dot = base.lastIndexOf('.')
    val ext = if (dot > 0) base.substring(dot) else ""
    val resolved = rootPath.resolve(fileId + ext).normalize()
    if (!resolved.startsWith(rootPath) || resolved == rootPath)
      throw FileValidationError(
        "Invalid file path: resolved path is outside upload directory")
    resolved
  }

  /** Validate + write the payload atomically (tmp + move), returning its
    * metadata (`file_storage.py:139-198`). Size cap is checked BEFORE
    * any byte lands on disk.
    */
  def save(root: String, fileId: String, filename: String,
      content: Array[Byte]): FileMeta = {
    if (content.length > MaxBytes)
      throw FileValidationError(
        s"File too large: ${content.length} bytes exceeds maximum $MaxBytes")
    val dst = storagePath(root, fileId, filename)
    TableIO.writeAtomically(dst, content)
    val digest = MessageDigest.getInstance("SHA-256").digest(content)
    FileMeta(fileId, filename, content.length.toLong,
      digest.map("%02x".format(_)).mkString, dst.toString, Instant.now())
  }

  def load(root: String, fileId: String, filename: String): Array[Byte] =
    Files.readAllBytes(storagePath(root, fileId, filename))

  def exists(root: String, fileId: String, filename: String): Boolean =
    Files.exists(storagePath(root, fileId, filename))

  def delete(root: String, fileId: String, filename: String): Boolean =
    Files.deleteIfExists(storagePath(root, fileId, filename))
}
