package graft

import graft.pipeline.{SchemaEvolution, TableIO}
import graft.pipeline.SchemaEvolution.{Field, TableSchema}
import graft.streaming.StreamingCorpusBuild
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** The metadata files' formats are fixed: each literal below is a file
  * as the hand-written renderers before [[JsonCodec]] wrote it. Each
  * reads back to its value and re-renders byte for byte, so stores
  * written before and after the codec read each other.
  */
class MetadataFormatSpec extends AnyFunSuite {

  private def put(p: Path, content: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, content.getBytes(StandardCharsets.UTF_8))
  }

  private def text(p: Path): String = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  /** `raw` as manifest snapshot `id`, read back through both readers,
    * then committed again as snapshot `id` of a fresh table: the bytes
    * that commit writes.
    */
  private def manifestRoundTrip(raw: String, id: Long, want: TableIO.Manifest): String = {
    val dir = Files.createTempDirectory("manifest-golden")
    put(dir.resolve("manifest.json"), raw)
    put(dir.resolve(s"manifest-v$id.json"), raw)
    assert(TableIO.read(dir.toString) == want)
    assert(TableIO.readAtStrict(dir.toString, id) == Some(want))
    val again = Files.createTempDirectory("manifest-golden").toString
    TableIO.commit(again, want.copy(snapshotId = id - 1), Nil)
    assert(text(Paths.get(again, s"manifest-v$id.json")) == text(Paths.get(again, "manifest.json")))
    text(Paths.get(again, "manifest.json"))
  }

  test("a manifest reads back and re-renders byte-identically") {
    val raw = """{"snapshot_id":3,"completed":[""" +
      """{"bucket":0,"rows":120,"bytes":40960,"wall_ms":17,"writer":1},""" +
      """{"bucket":5,"rows":7,"bytes":900,"wall_ms":2,"writer":3},""" +
      """{"bucket":12,"rows":1099511627776,"bytes":0,"wall_ms":0,"writer":2}]}"""
    val want = TableIO.Manifest(3L, Map(
      0 -> TableIO.BucketEntry(0, 120L, 40960L, 17L, 1L),
      5 -> TableIO.BucketEntry(5, 7L, 900L, 2L, 3L),
      12 -> TableIO.BucketEntry(12, 1099511627776L, 0L, 0L, 2L)))
    assert(manifestRoundTrip(raw, 3L, want) == raw)
  }

  test("a legacy manifest entry without a writer reads writer = -1") {
    val raw = """{"snapshot_id":2,"completed":[""" +
      """{"bucket":1,"rows":10,"bytes":300,"wall_ms":4},""" +
      """{"bucket":2,"rows":11,"bytes":310,"wall_ms":5,"writer":2}]}"""
    val want = TableIO.Manifest(2L, Map(
      1 -> TableIO.BucketEntry(1, 10L, 300L, 4L, -1L),
      2 -> TableIO.BucketEntry(2, 11L, 310L, 5L, 2L)))
    assert(manifestRoundTrip(raw, 2L, want) == """{"snapshot_id":2,"completed":[""" +
      """{"bucket":1,"rows":10,"bytes":300,"wall_ms":4,"writer":-1},""" +
      """{"bucket":2,"rows":11,"bytes":310,"wall_ms":5,"writer":2}]}""")
  }

  test("a schema sidecar with widened fields reads back and re-renders byte-identically") {
    val raw = """{"last_assigned_id":5,"fields":[{"id":1,"name":"conv_id"},""" +
      """{"id":3,"name":"n_toks","widened":"bigint"},{"id":5,"name":"score","widened":"double"}]}"""
    val dir = Files.createTempDirectory("schema-golden")
    put(dir.resolve("schema-v4.json"), raw)
    val schema = SchemaEvolution.schemaAt(dir.toString, 4L)
    assert(schema == Some(TableSchema(Vector(Field(1, "conv_id"),
      Field(3, "n_toks", Some("bigint")), Field(5, "score", Some("double"))), 5)))
    val again = Files.createTempDirectory("schema-golden")
    SchemaEvolution.commitSchema(again.toString, 4L, schema.get)
    assert(text(again.resolve("schema-v4.json")) == raw)
  }

  test("a corpus-build state file reads back and re-renders byte-identically") {
    val words = (0 until 256).map(i => if (i % 7 == 0) Long.MinValue + i else i * 31L)
    val raw = s"""{"batch":2,"cursor":1234,"bloom":[${words.mkString(",")}]}"""
    val build = Files.createTempDirectory("state-golden")
    put(build.resolve("_history/state/v2.json"), raw)
    val st = StreamingCorpusBuild.lastState(build.toString)
    assert(st.batchId == 2L && st.cursor == 1234L && st.bloom.toSeq == words)
    val again = Files.createTempDirectory("state-golden")
    StreamingCorpusBuild.commitState(again.toString, st)
    assert(text(again.resolve("_history/state/v2.json")) == raw)
  }
}
