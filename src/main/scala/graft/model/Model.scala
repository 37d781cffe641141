package graft.model

import java.sql.Timestamp

import org.apache.spark.sql.types._

/**
 * Data model for the CDC / incremental-ingest engine.
 *
 * The wire unit is a typed change event, not an opaque JSON byte payload as in
 * the reference (`/root/reference/data/json.go:13-15`): on Spark the columnar
 * `Dataset[ChangeEvent]` replaces bytes-on-channel so Catalyst/Tungsten can
 * optimize the whole plan (see SURVEY.md §1.4).
 *
 * Target table shape (BASELINE.json `input_hint`):
 *   transcripts(conv_id: string, turn_idx: int, role: string, text: string,
 *               tool: string, ts: timestamp)
 * Primary key for upserts: (conv_id, turn_idx).
 */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: Option[String],
    ts: Timestamp)

/**
 * WAL / binlog change record. `lsn` is globally unique and totally orders
 * changes; conflict resolution is max-LSN-wins. `op` is I/U/D; for D the
 * payload columns other than the key are null.
 *
 * `tool_meta` only appears in post-schema-evolution batches (added column,
 * mirrors the reference's dynamic column union, /root/reference/util/sql.go:300-317).
 */
final case class ChangeEvent(
    op: String,
    lsn: Long,
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: Option[String],
    ts: Timestamp,
    tool_meta: Option[String])

object Schemas {
  /** Change-event envelope columns every merge input carries: the op
    * (I/U/D) and the event lsn. The table stores the lsn as
    * [[graft.lake.LakeTable.LsnCol]]. */
  val OpCol = "op"
  val LsnCol = "lsn"
  /** `OpCol` value of a delete; every other op is an upsert. */
  val DeleteOp = "D"

  /** Payload (table) columns, in canonical order. */
  val turn: StructType = StructType(Seq(
    StructField("conv_id", StringType, nullable = false),
    StructField("turn_idx", IntegerType, nullable = false),
    StructField("role", StringType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("tool", StringType, nullable = true),
    StructField("ts", TimestampType, nullable = true)))

  /** Change-event envelope before schema evolution (no tool_meta). */
  val changeV1: StructType = StructType(
    StructField(OpCol, StringType, nullable = false) +:
    StructField(LsnCol, LongType, nullable = false) +:
    turn.fields.toSeq)

  /** Change-event envelope after evolution (adds tool_meta). */
  val changeV2: StructType = StructType(
    changeV1.fields.toSeq :+ StructField("tool_meta", StringType, nullable = true))

  /** Upsert key. */
  val keyCols: Seq[String] = Seq("conv_id", "turn_idx")
}
