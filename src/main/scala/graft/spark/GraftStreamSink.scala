package graft.spark

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.functions.{lit, monotonically_increasing_id}
import org.apache.spark.sql.graft.GraftStreamingShim

import graft.lake.LakeTable
import graft.merge.{MergeInto, MergeOptions, Resolve}
import graft.model.Schemas

/**
 * V1 streaming sink over a lake table: `df.writeStream.format("graft")
 * .option("path", dir)` turns every micro-batch into one idempotent merge
 * epoch — the writeStream face of [[graft.stream.CdcIngestJob]]'s
 * foreachBatch loop, so `readStream.format("graft")` (upstream CDC-out) and
 * `writeStream.format("graft")` (downstream ingest) compose into the
 * reference's pipelines-feeding-pipelines topology
 * (/root/reference/doc.go:53-110) with no user-written glue.
 *
 * Exactly-once: epochId = the engine's batchId under a checkpoint-derived
 * ckptId, so a replayed micro-batch hits the (ckptId, epochId) commit ledger
 * and is a no-op — the same contract as every other write path.
 *
 * Batch shape, by column inspection (first match wins):
 *  1. CDC envelope ([[Schemas.OpCol]] + [[Schemas.LsnCol]] columns):
 *     merged as-is — inserts, updates, deletes, late events.
 *  2. Change-feed stored shape (`_lsn` [+ `_deleted`]): the output of a
 *     graft streaming READ — tombstones map to deletes, lsns carry through,
 *     so upstream ordering (including late lower-lsn losers) is preserved
 *     downstream bit-for-bit.
 *  3. Plain rows (neither): upsert-by-key with lsns auto-assigned above the
 *     table's current max (arrival order wins), the streaming analogue of
 *     the SQL INSERT path ([[GraftSqlTable.upsert]]).
 *
 * The table is created on first commit if absent (keyCols from the `keyCols`
 * option, default [[MergeOptions]]'s), mirroring the reference's
 * auto-create-table writer (/root/reference/processors/big_query_writer.go).
 * Default merge mode is MoR — each epoch writes only its batch, and the
 * sink's own CDC-out feed stays live for the next pipeline.
 *
 * Sessions: `spark` is the session the provider's `createSink` received —
 * the one that started the stream. Each micro-batch is re-planned onto it
 * and merged there, the rule [[graft.stream.CdcIngestJob]] follows too:
 * the query's own clone of the session has its own executor class loader,
 * and so an empty generated-code cache, under Spark's artifact isolation.
 * Every batch merges through one table handle, loaded once the table
 * exists, so head discovery probes forward from the last commit instead of
 * listing the snapshot log per epoch.
 */
final class GraftStreamSink(spark: SparkSession, dir: String, ckptId: String,
    opts: MergeOptions, keyColsOpt: Option[Seq[String]]) extends Sink with Logging {

  /** the sink's one table handle: the first batch creates the table first */
  private lazy val table = LakeTable.load(dir)

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // Re-plan the incremental frame as a plain batch of `spark` (see the
    // class doc): the merge runs several jobs over it (stats, resolution,
    // write) and a streaming-tagged plan may be executed at most once. Our
    // sources are deterministic per batch (immutable delta files), so
    // re-execution is safe.
    val df = GraftStreamingShim.asBatch(data, spark)
    val cols = df.columns.toSet

    if (!LakeTable.exists(dir)) {
      val createKeyCols = keyColsOpt.getOrElse(opts.keyCols)
      val payload = df.schema.fields.filterNot { f =>
        f.name == Schemas.OpCol || f.name == Schemas.LsnCol ||
          LakeTable.MetaCols.contains(f.name)
      }
      createKeyCols.foreach(k => require(payload.exists(_.name == k),
        s"graft sink: key column $k missing from stream schema " +
          df.schema.fieldNames.mkString("(", ", ", ")")))
      LakeTable.create(dir, org.apache.spark.sql.types.StructType(payload),
        createKeyCols)
    }
    val snap = table.currentSnapshot
    // an EXPLICIT keyCols option on an existing table must agree with it —
    // silently merging on different keys than the user asked for would be
    // a correctness surprise, not a convenience
    keyColsOpt.foreach(k => require(k == snap.keyCols,
      s"graft sink: option keyCols ${k.mkString(",")} does not match " +
        s"existing table keys ${snap.keyCols.mkString(",")}"))
    val mergeOpts = opts.copy(keyCols = snap.keyCols)

    val batch =
      if (cols.contains(Schemas.OpCol) && cols.contains(Schemas.LsnCol)) df
      else if (cols.contains(LakeTable.LsnCol)) Resolve.storedAsChanges(df)
      else {
        // snapshot-ref high-watermark: O(manifest count), parses no manifests
        val lsnBase = table.maxLsn(snap) + 1L
        df.withColumn(Schemas.OpCol, lit("U"))
          .withColumn(Schemas.LsnCol,
            lit(lsnBase) + monotonically_increasing_id())
      }

    val stats = MergeInto.merge(spark, table, batch, ckptId, batchId, mergeOpts)
    logInfo(s"graft sink: $dir epoch $batchId " +
      (if (stats.noop) "replayed (no-op)" else s"v${stats.snapshotVersion}"))
  }

  override def toString: String = s"GraftStreamSink[$dir]"
}
