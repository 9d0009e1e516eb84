package graft.streaming

import com.fasterxml.jackson.annotation.JsonProperty
import graft.JsonCodec
import graft.model.Turn
import graft.pipeline.CorpusBuild
import graft.pipeline.TableIO.deleteTree
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Continuous corpus building — the streaming twin of
  * [[graft.pipeline.CorpusBuild]]: every micro-batch of arriving turns
  * runs the curation funnel (gate → in-batch dedup → HISTORY dedup →
  * decontamination → packing) and appends training shards, exactly
  * once.
  *
  * The part batch CorpusBuild gets for free and a stream must carry is
  * HISTORY: dedup against everything ever kept, and globally
  * consistent packing offsets. Both ride O(1) state in a versioned
  * state file (the `q_bloom_prune` discipline):
  *
  *  - a 256-word (2 KB) Bloom filter over kept content hashes — the
  *    batch probes it as a broadcast literal, so history is NEVER
  *    re-shuffled; Bloom HITS (and only hits) are exactly verified
  *    against the compact fingerprints table with the hit-set
  *    broadcast, so false positives cost a narrow scan, never a wrong
  *    drop;
  *  - a token cursor — this batch's pack offsets start where the last
  *    committed batch ended, so `window_id = off DIV capacity` is
  *    globally consistent across the stream's lifetime.
  *
  * Crash safety: shards and fingerprints are partitioned by batch id;
  * the state file `state/v<batch>.json`
  * (`{"batch":…,"cursor":…,"bloom":[<256 words>]}`, [[JsonCodec]]) is
  * written LAST via tmp + atomic move and doubles as the commit marker. Replay of a committed
  * batch is a no-op; replay of an uncommitted one scrubs its
  * partitions and redoes the work — exactly-once end to end.
  */
object StreamingCorpusBuild {

  val WindowTokens: Long = CorpusBuild.WindowTokens

  /** Pack shards per micro-batch (the batch build uses 2^16). Window ids
    * depend on it, so a store keeps this count for life.
    */
  private val PackShards = 1L << 12

  private val BloomWords = 256
  private val BloomK = 4
  private val BloomBits = BloomWords * 63

  def shardsDir(buildDir: String): String = s"$buildDir/shards"
  def fingerprintsDir(buildDir: String): String = s"$buildDir/_history/fingerprints"
  private def stateDir(buildDir: String) = Paths.get(buildDir, "_history", "state")

  final case class State(@JsonProperty("batch") batchId: Long, cursor: Long,
      bloom: Array[Long])

  private def emptyState = State(-1L, 0L, new Array[Long](BloomWords))

  /** Record `st` as batch `st.batchId`'s committed state (atomic swap). */
  private[graft] def commitState(buildDir: String, st: State): Unit =
    JsonCodec.writeFile(stateDir(buildDir).resolve(s"v${st.batchId}.json"), st)

  /** Latest committed state (empty filter, zero cursor before batch 0). */
  def lastState(buildDir: String): State = {
    val d = stateDir(buildDir)
    if (!Files.isDirectory(d)) return emptyState
    val versions = scala.util.Using.resource(Files.list(d))(_.iterator().asScala
      .map(_.getFileName.toString)
      .flatMap { n =>
        if (n.startsWith("v") && n.endsWith(".json"))
          n.stripPrefix("v").stripSuffix(".json").toLongOption
        else None
      }.toVector.sorted)
    versions.reverse.iterator
      .flatMap(id => JsonCodec.readFile[State](d.resolve(s"v$id.json")))
      .find(_.bloom.length == BloomWords)
      .getOrElse(emptyState)
  }

  /** `df` (…, h) with one row per Bloom probe `j` < BloomK of its content
    * hash `h`: bit position `p`, filter word `w` and bit mask `m`.
    */
  private def bloomBits(df: DataFrame): DataFrame =
    df.select(col("*"), explode(typedLit((0 until BloomK).toList)).as("j"))
      .withColumn("p", pmod(conv(substring(md5(concat(col("h"),
        col("j").cast("string"))), 1, 12), 16, 10).cast("long"), lit(BloomBits.toLong)))
      .withColumn("w", expr("CAST(p DIV 63 AS INT)"))
      .withColumn("m", expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 63 AS INT))"))

  private def committed(buildDir: String, batchId: Long): Boolean =
    Files.exists(stateDir(buildDir).resolve(s"v$batchId.json"))

  /** Process one micro-batch. Public so specs (and [[foreachBatch]]
    * replays) can drive it directly; idempotent by batch id.
    */
  def processBatch(spark: SparkSession, batch: Dataset[Turn], batchId: Long,
      buildDir: String, evalTrigrams: DataFrame): Unit = {
    if (committed(buildDir, batchId)) return // replay of a committed batch
    // replay of an UNcommitted batch: scrub its partitions, then redo
    deleteTree(Paths.get(shardsDir(buildDir), s"batch_id=$batchId"))
    deleteTree(Paths.get(fingerprintsDir(buildDir), s"batch_id=$batchId"))
    val st = lastState(buildDir)

    // extract + gate (same rules as the batch CorpusBuild)
    val ex = StreamingExtraction.extracted(batch)
      .filter(col("skip_reason") === "")
      .select(col("conv_id"), col("turn_idx"), col("text"))
    val gated = CorpusBuild.withTokenCount(ex)
      .filter(CorpusBuild.gatePass)
      .withColumn("h", md5(col("text")))

    // in-batch exact dedup, first wins
    val inBatch = gated.withColumn("rn", row_number().over(
        Window.partitionBy("h").orderBy("conv_id", "turn_idx")))
      .filter(col("rn") === 1).drop("rn")

    // history dedup: broadcast-literal Bloom probe, exact verify on hits
    val bloomLit = typedLit(st.bloom.toSeq)
    val bloomHits = bloomBits(inBatch.select(col("h")))
      .withColumn("set",
        when((element_at(bloomLit, col("w") + 1).bitwiseAND(col("m"))) =!= 0, 1)
          .otherwise(0))
      .groupBy("h").agg((sum("set") === BloomK).as("hit"))
      .filter(col("hit")).select("h")
    val confirmedDups =
      if (!Files.isDirectory(Paths.get(fingerprintsDir(buildDir))))
        spark.emptyDataFrame.selectExpr("'' AS h").limit(0)
      else spark.read.parquet(fingerprintsDir(buildDir))
        .join(broadcast(bloomHits), "h").select("h").distinct()
    val fresh = inBatch.join(broadcast(confirmedDups), Seq("h"), "leftanti")

    // decontamination (keyed broadcast anti-join on eval trigram hashes)
    val clean = CorpusBuild.decontaminate(fresh, evalTrigrams).persist()

    // pack from the committed cursor (offsets globally consistent across
    // batches)
    val packed = CorpusBuild.pack(clean, PackShards, st.cursor)
      .withColumn("batch_id", lit(batchId))
      .select("batch_id", "conv_id", "turn_idx", "text", "n_toks", "off", "window_id")
      .persist()

    packed.write.mode(SaveMode.Append).partitionBy("batch_id")
      .parquet(shardsDir(buildDir))
    val keptTokens = packed.agg(coalesce(sum("n_toks"), lit(0L))).head().getLong(0)

    // fingerprints of what we KEPT, for future exact verification
    clean.select(col("h"), lit(batchId).as("batch_id"))
      .write.mode(SaveMode.Append).partitionBy("batch_id")
      .parquet(fingerprintsDir(buildDir))

    // fold this batch's kept hashes into the Bloom words (KB-scale agg)
    val newBits = bloomBits(clean.select(col("h")))
      .groupBy("w").agg(expr("bit_or(m)").as("wd"))
      .collect().map(r => r.getAs[Int]("w") -> r.getAs[Long]("wd")).toMap
    val bloom = st.bloom.clone()
    newBits.foreach { case (w, wd) => bloom(w) |= wd }
    clean.unpersist(); packed.unpersist()

    // commit: state write is the atomic marker, strictly last
    commitState(buildDir, State(batchId, st.cursor + keptTokens, bloom))
  }

  /** Continuous build: wire a streaming Dataset[Turn] through
    * [[processBatch]]. Caller invokes `.start()`.
    */
  def writer(turns: Dataset[Turn], buildDir: String, checkpoint: String,
      evalTrigrams: DataFrame): DataStreamWriter[Turn] =
    turns.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Turn], id: Long) =>
        processBatch(batch.sparkSession, batch, id, buildDir, evalTrigrams)
      }
}
