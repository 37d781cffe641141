package graft.spark

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.connector.read.{streaming => v2}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.graft.GraftStreamingShim
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

import graft.lake.LakeTable

/**
 * V1 streaming source over a lake table's CDC-out feed:
 * `spark.readStream.format("graft").load(dir)` yields the table's resolved
 * change rows (payload + `_lsn` + `_deleted`) as a micro-batch stream — the
 * idiomatic-Spark face of the reference's pipelines-feeding-pipelines
 * topology (/root/reference/doc.go:53-110), where downstream pipelines tail
 * an upstream writer's output. [[graft.stream.ChangeFeed]] is the
 * library-call form of the same feed; this source trades its explicit cursor
 * file for a Structured Streaming checkpoint, so watermarks, stateful
 * transforms, and any writeStream sink compose for free.
 *
 * Offsets are upstream snapshot versions: batch (start, end] is exactly
 * `LakeTable.readChangesBetween(start, end)` — MoR delta files written in
 * those commits, which carry no duplicates within an epoch (merge resolves
 * max-lsn per key before writing). Fold/vacuum commits add no
 * delta files and contribute nothing, so maintenance never re-delivers rows.
 * Offset tracking, recovery, and exactly-once-per-batch replay come from the
 * streaming engine's offset log: on restart the engine re-asks for the same
 * version range and gets bit-identical rows (delta files are immutable once
 * committed).
 *
 * Options: `startingVersion` (default 0 = table creation — requires history
 * back to that version to be within the vacuum retention window; a stream
 * starting or catching up below the floor raises the lake's named
 * "vacuumed past the retention floor" error rather than silently skipping,
 * the binlog-aged-out contract). `startingVersion = latest` starts from the
 * live head (changes only).
 *
 * Defined for row-lsn (non-sparse) MoR tables, same contract as ChangeFeed:
 * sparse deltas carry per-column provenance a row changelog cannot express.
 *
 * Admission control: `maxVersionsPerBatch` caps how many upstream versions
 * one micro-batch consumes, so a consumer catching up over 10^4 versions
 * processes (and checkpoints) in bounded chunks instead of one giant batch
 * — the backpressure knob of the reference's channel buffering
 * (/root/reference/pipeline.go:23). `Trigger.AvailableNow` is supported
 * properly ([[v2.SupportsTriggerAvailableNow]], the same combination as
 * Spark's own file source): the head version is pinned when the trigger
 * fires, every version at or below it is processed across however many
 * admission-limited batches that takes, and the query then stops.
 */
final class GraftStreamSource(sqlContext: SQLContext, dir: String,
    startingVersion: Long, maxVersionsPerBatch: Option[Long] = None)
    extends Source with v2.SupportsTriggerAvailableNow with Logging {

  private val table = LakeTable.load(dir)
  require(!table.currentSnapshot.sparse,
    "graft streaming source is defined for row-lsn (non-sparse) tables")
  maxVersionsPerBatch.foreach(m => require(m > 0,
    s"maxVersionsPerBatch must be positive, got $m"))

  override val schema: StructType = GraftStreamSource.changeSchema(table)

  /** Upstream head pinned at AvailableNow trigger time — versions committed
    * after the trigger fired are for the NEXT run. */
  @volatile private var availableNowHead: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowHead = Some(table.currentVersion)
    logInfo(s"graft stream: AvailableNow pinned at v${availableNowHead.get}")
  }

  override def getDefaultReadLimit: v2.ReadLimit = v2.ReadLimit.allAvailable()

  /** Live head probe (`currentVersion` discovers other writers' commits),
    * capped by the AvailableNow pin and the per-batch version budget. An
    * unchanged offset (or null before the first) means no new data. */
  override def latestOffset(start: v2.Offset, limit: v2.ReadLimit): v2.Offset = {
    val from = Option(start).map(GraftStreamSource.versionOf)
      .getOrElse(startingVersion)
    val head = availableNowHead.getOrElse(table.currentVersion)
    val end = maxVersionsPerBatch.map(m => math.min(head, from + m)).getOrElse(head)
    if (end > from) LongOffset(end) else start
  }

  override def reportLatestOffset(): v2.Offset = LongOffset(table.currentVersion)

  /** Legacy probe — the engine prefers [[latestOffset]] on sources with
    * admission control; kept for direct callers. */
  override def getOffset: Option[Offset] = {
    val head = table.currentVersion
    if (head > startingVersion) Some(LongOffset(head)) else None
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(GraftStreamSource.versionOf).getOrElse(startingVersion)
    val until = GraftStreamSource.versionOf(end)
    logInfo(s"graft stream batch: $dir versions ($from, $until]")
    val changes = table.readChangesBetween(sqlContext.sparkSession, from, until)
    // A streaming query's schema is pinned at start; silently projecting a
    // mid-run upstream widening away would deliver rows MISSING the new
    // column's values — permanently, since committed offsets are never
    // re-read. Fail loudly instead: this batch is uncommitted, so a restart
    // re-reads it under the widened schema and no change is lost.
    // compare PAYLOAD columns only — stored schemas may carry meta columns
    // (e.g. provenance) the change schema intentionally excludes
    val extra = changes.columns.filterNot(LakeTable.MetaCols.contains)
      .filterNot(schema.fieldNames.contains)
    if (extra.nonEmpty)
      throw new IllegalStateException(
        s"graft stream: upstream schema evolved (new columns " +
          s"${extra.mkString(", ")}) after this stream started; restart the " +
          "query from its checkpoint to pick up the widened schema — no " +
          "changes are lost, the restart re-reads from the last committed offset")
    val projected = changes.select(schema.fieldNames.toSeq.map {
      case LakeTable.DeletedCol =>
        coalesce(col(LakeTable.DeletedCol), lit(false)).as(LakeTable.DeletedCol)
      case c => col(c)
    }: _*)
    GraftStreamingShim.asStreaming(projected)
  }

  override def stop(): Unit = ()
}

object GraftStreamSource {
  /** Change-row shape: payload columns + `_lsn` + `_deleted` (normalized
    * non-null — stored deltas may omit it for pure upserts). */
  def changeSchema(table: LakeTable): StructType =
    StructType(table.payloadSchema.fields ++ Seq(
      StructField(LakeTable.LsnCol, LongType, nullable = false),
      StructField(LakeTable.DeletedCol, BooleanType, nullable = false)))

  /** The engine replays restored offsets as [[SerializedOffset]] JSON. */
  def versionOf(offset: v2.Offset): Long = offset match {
    case LongOffset(v) => v
    case SerializedOffset(json) => json.trim.toLong
    case other => other.json.trim.toLong
  }

  def resolveStartingVersion(table: LakeTable,
      parameters: Map[String, String]): Long =
    parameters.get("startingVersion").map(_.trim) match {
      case None | Some("0") => 0L
      case Some("latest") => table.currentVersion
      case Some(v) => v.toLong
    }
}
