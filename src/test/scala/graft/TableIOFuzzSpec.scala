package graft

import graft.pipeline.TableIO
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.util.Random

/** Fuzz the manifest checkpoint ledger: corrupted/truncated/garbage
  * manifests must never throw and never fabricate completed buckets that
  * could make resume SKIP real work.
  */
class TableIOFuzzSpec extends AnyFunSuite {

  private def writeManifest(dir: String, content: Array[Byte]): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, "manifest.json"), content)
  }

  private def randomManifest(r: Random): TableIO.Manifest = {
    val entries = (0 until r.nextInt(20)).map { _ =>
      val b = r.nextInt(256)
      b -> TableIO.BucketEntry(b, r.nextLong(1L << 40), r.nextLong(1L << 40),
        r.nextLong(1L << 20))
    }.toMap
    TableIO.Manifest(r.nextLong(1L << 30), entries)
  }

  test("render/parse round-trips random manifests (200 cases)") {
    val r = new Random(618L)
    (0 until 200).foreach { i =>
      val dir = Files.createTempDirectory("tio").toString
      val m = randomManifest(r)
      // write via the public commit API, then read back
      val committed = TableIO.commit(dir, TableIO.Manifest(m.snapshotId - 1, Map.empty),
        m.completed.values.toSeq)
      val back = TableIO.read(dir)
      assert(back == committed, s"case $i roundtrip")
    }
  }

  test("corrupted manifests never throw; entries never invent buckets (300 cases)") {
    val r = new Random(271828L)
    val base = {
      val dir = Files.createTempDirectory("tio").toString
      TableIO.commit(dir, TableIO.Empty,
        (0 until 10).map(b => TableIO.BucketEntry(b, b * 100L, b * 1000L, b.toLong)))
      new String(Files.readAllBytes(Paths.get(dir, "manifest.json")), StandardCharsets.UTF_8)
    }
    val validBuckets = (0 until 10).toSet
    (0 until 300).foreach { i =>
      val dir = Files.createTempDirectory("tio").toString
      val mode = r.nextInt(4)
      val corrupted: Array[Byte] = mode match {
        case 0 => // truncate at a random point
          base.substring(0, r.nextInt(base.length + 1)).getBytes(StandardCharsets.UTF_8)
        case 1 => // flip random bytes
          val b = base.getBytes(StandardCharsets.UTF_8).clone()
          (0 until 1 + r.nextInt(8)).foreach(_ => b(r.nextInt(b.length)) = (r.nextInt(256) - 128).toByte)
          b
        case 2 => // pure garbage
          val b = new Array[Byte](r.nextInt(200)); r.nextBytes(b); b
        case _ => // valid JSON, wrong shape
          s"""{"x": [${r.nextInt(100)}], "snapshot_id": "not-a-number"}"""
            .getBytes(StandardCharsets.UTF_8)
      }
      writeManifest(dir, corrupted)
      val m = TableIO.read(dir) // must not throw
      // a parsed entry must be one the uncorrupted manifest could contain —
      // resume uses isDone to SKIP buckets, so fabrications lose data.
      // (byte flips inside digits may alter rows/bytes VALUES — tolerated —
      // but bucket ids must stay in-range single flips aside)
      m.completed.keys.foreach { b =>
        assert(b >= 0 && b <= 999999, s"case $i mode=$mode absurd bucket $b")
      }
      assert(m.snapshotId >= 0, s"case $i snapshot")
      if (mode == 2) assert(m == TableIO.Empty || m.completed.keySet.subsetOf(validBuckets))
    }
  }

  test("missing manifest and empty file read as Empty") {
    val dir = Files.createTempDirectory("tio").toString
    assert(TableIO.read(dir) == TableIO.Empty)
    writeManifest(dir, Array.emptyByteArray)
    assert(TableIO.read(dir) == TableIO.Empty)
  }

  test("every strict prefix of a committed manifest reads as Empty, and as None strictly") {
    val dir = Files.createTempDirectory("tio").toString
    TableIO.commit(dir, TableIO.Empty,
      (0 until 6).map(b => TableIO.BucketEntry(b, b * 100L, b * 1000L, b.toLong)))
    val snapshot = Paths.get(dir, "manifest-v1.json")
    val full = Files.readAllBytes(snapshot)
    assert(TableIO.readAtStrict(dir, 1L).map(_.completed.keySet) == Some((0 until 6).toSet))
    (0 until full.length).foreach { n =>
      Files.write(snapshot, full.take(n))
      assert(TableIO.readAt(dir, 1L) == TableIO.Empty, s"prefix of $n bytes")
      assert(TableIO.readAtStrict(dir, 1L).isEmpty, s"prefix of $n bytes")
      writeManifest(dir, full.take(n))
      assert(TableIO.read(dir) == TableIO.Empty, s"live manifest prefix of $n bytes")
    }
  }
}
