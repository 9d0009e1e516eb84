package graft

import graft.fixtures.TranscriptGen
import graft.model.Turn
import graft.pipeline.{ExtractionPipeline, Ingestion, VersionedDir}
import graft.retrieval.{IvfPqIndex, PqIndex, VectorIndex}
import graft.streaming.StreamingIngestion
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** A store carrying all three vector index families at once keeps each
  * of them covering exactly the embeddings table through every write:
  * `Ingestion.add`, `Ingestion.delete` (on a batch-built and on a
  * streamed store), a streamed micro-batch and `StreamingIngestion.compact`. The families are named here one by one,
  * so a family the store's fan-out skips leaves its chunk-id set behind.
  */
class VectorFanOutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val NBuckets = 4

  private def turns(convs: Range): Seq[Turn] =
    convs.flatMap(i => TranscriptGen.conversation(13L, i.toLong))

  private def extract(convs: Range): String = {
    import spark.implicits._
    val out = Files.createTempDirectory("fanout").toString
    ExtractionPipeline.run(spark, spark.createDataset(turns(convs)),
      ExtractionPipeline.Config(out, nBuckets = NBuckets, waves = 1, resume = false))
    out
  }

  private def buildAll(store: String): Unit = {
    Ingestion.buildVectorIndex(spark, store)
    Ingestion.buildPqIndex(spark, store, m = 8, ks = 16)
    Ingestion.buildIvfPqIndex(spark, store, m = 8, ks = 16)
  }

  /** Each family's root and the table holding its per-vector rows. */
  private def families(store: String): Seq[(String, String)] = {
    val ivf = VectorIndex.indexRoot(store)
    val pq = PqIndex.indexRoot(store)
    val ivfPq = IvfPqIndex.indexRoot(store)
    Seq(ivf -> VectorIndex.assignmentsDir(ivf), pq -> PqIndex.codesDir(pq),
      ivfPq -> IvfPqIndex.codesDir(ivfPq))
  }

  private def versions(store: String): Seq[Long] =
    families(store).map { case (root, _) => VersionedDir.currentVersion(root).get }

  private def chunkIds(store: String): Set[String] = {
    import spark.implicits._
    spark.read.parquet(Ingestion.embeddingsDir(store)).select(Ingestion.chunkId)
      .as[String].collect().toSet
  }

  private def assertCovered(store: String, after: String): Set[String] = {
    import spark.implicits._
    val expected = chunkIds(store)
    families(store).foreach { case (root, table) =>
      val got = spark.read.parquet(table).select("chunk_id").as[String].collect().toSet
      assert(got == expected, s"$root after $after: ${(got -- expected).size} extra, " +
        s"${(expected -- got).size} missing")
    }
    expected
  }

  test("Ingestion.add and Ingestion.delete keep every vector family covering the store") {
    val store = extract(0 until 6)
    Ingestion.run(spark, store)
    buildAll(store)
    val built = versions(store)

    Ingestion.add(spark, store, extract(6 until 9))
    val afterAdd = assertCovered(store, "add")
    assert(afterAdd.exists(_.startsWith("conv-000007:")), "the add reached the embeddings")
    assert(versions(store) == built, "an add appends inside the current version")

    Ingestion.delete(spark, store, Seq("conv-000001", "conv-000007"))
    val afterDelete = assertCovered(store, "delete")
    assert(!afterDelete.exists(id => id.startsWith("conv-000001:") || id.startsWith("conv-000007:")))
    assert(afterDelete.nonEmpty && afterDelete.size < afterAdd.size)
    assert(versions(store) == built.map(_ + 1), "a delete commits one new version per family")
  }

  test("streamed batches, a compaction and a delete keep every vector family covering the store") {
    import spark.implicits._
    val store = Files.createTempDirectory("fanout-stream").toString
    def batch(convs: Range, id: Long) = StreamingIngestion.processBatch(
      spark.createDataset(turns(convs)), store, id, nBuckets = NBuckets)
    batch(0 until 3, 0L)
    buildAll(store)
    val built = versions(store)

    batch(3 until 5, 1L)
    assert(assertCovered(store, "a streamed batch").exists(_.startsWith("conv-000004:")))
    batch(5 until 6, 2L)
    val before = assertCovered(store, "a second streamed batch")

    StreamingIngestion.compact(spark, store)
    assert(assertCovered(store, "compact") == before)
    assert(versions(store) == built.map(_ + 1), "a compaction commits one new version per family")

    // a delete keeps the streamed layout, so the next batch still appends
    Ingestion.delete(spark, store, Seq("conv-000001"))
    assert(!assertCovered(store, "a streamed-store delete").exists(_.startsWith("conv-000001:")))
    batch(6 until 7, 3L)
    assert(assertCovered(store, "a batch after a delete").exists(_.startsWith("conv-000006:")))
  }
}
