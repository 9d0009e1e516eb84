package graft.model

import java.sql.Timestamp

/** The input row shape from BASELINE.json `input_hint`:
  * `(conv_id:string, turn_idx:int32, role:string, text:string,
  * tool:string, ts:timestamp)`.
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp)

/** Output of the extraction stage, one row per turn (north rule: extracted
  * text + span offsets + lineage-friendly columns). `bucket` is the salted
  * partition key the row was processed under — the checkpoint/lineage unit.
  */
final case class ExtractedTurn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    tool: String,
    ts: java.sql.Timestamp,
    kind: String,
    text: String,
    span_starts: Array[Int],
    span_ends: Array[Int],
    span_labels: Array[String],
    block_lens: Array[Int],
    bytes_parsed: Long,
    skip_reason: String,
    bucket: Int)

/** Chunk payload carried as an ARRAY COLUMN next to its extracted turn in
  * the single-pass pipeline (chunks computed inside the same mapPartitions
  * as extraction, exploded at write — no read-back scan, no second
  * chunking pass). Keyless: conv_id/turn_idx/bucket live on the parent row.
  */
final case class ChunkLite(chunk_index: Int, content: String, start: Int, end: Int)

/** Structure-aware twin of [[ChunkLite]] (F6 fields). */
final case class StructChunkLite(
    chunk_index: Int,
    content: String,
    page: Int,
    section_boundary: Boolean,
    section_heading: String)

/** One embedded chunk (reference `EmbeddedChunk`, `app/models/chunk.py:
  * 44-49`: chunk + embedding + modality). The embedding column is the
  * pluggable-scorer stand-in of SURVEY.md §7.3: deterministic hashed
  * features in tests, a real model's vectors in production.
  */
final case class ChunkEmbedding(
    conv_id: String,
    turn_idx: Int,
    chunk_index: Int,
    modality: String,
    embedding: Array[Float],
    bucket: Int)

/** Per-partition lineage/metrics row (north rule: "per-partition lineage
  * rows and metrics (turns/sec, bytes parsed, skip reasons)").
  */
final case class PartitionLineage(
    bucket: Int,
    partition_id: Int,
    input_rows: Long,
    output_rows: Long,
    bytes_parsed: Long,
    skipped_empty: Long,
    skipped_blank: Long,
    wall_ms: Long,
    turns_per_sec: Double)
