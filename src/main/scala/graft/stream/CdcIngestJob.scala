package graft.stream

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.GraftStreamingShim
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.lake.{LakeTable, LocalFs}
import graft.merge.{Maintenance, MergeInto, MergeOptions, SourceRange}
import graft.model.Schemas

/**
 * The flagship pipeline (north rule): tail a WAL/binlog-style append-only
 * directory of change files and apply key-partitioned MERGE upserts to the
 * lake table with exactly-once commits.
 *
 * This replaces the reference's whole pipeline-stage model
 * (/root/reference/pipeline.go:20-27: stages of goroutines joined by
 * channels) with one declarative Structured Streaming job:
 *
 *   readStream.parquet(wal)                       — source stage (S3Reader /
 *     IoReader analogue, /root/reference/processors/s3_reader.go:40-47);
 *     `maxFilesPerTrigger` is the batching/backpressure knob the reference
 *     implements with bounded channels (/root/reference/pipeline.go:182-184)
 *   .writeStream.foreachBatch(MergeInto.merge)    — the SQLWriter upsert stage
 *     (/root/reference/processors/sql_writer.go:44-68), made exactly-once by
 *     the (checkpointId, epochId) ledger instead of at-least-once
 *   checkpointLocation                            — offsets WAL; restart
 *     resumes from the last committed epoch (the reference restarts from
 *     scratch — SURVEY.md §2.6 "Streaming")
 *
 * Telemetry: each applied epoch's `_metrics` record ([[graft.merge.MergeStats]])
 * carries the WAL offsets it consumed, read from the query's own offset log,
 * next to the snapshot version they landed in — the reference's per-stage
 * stats (`execution_stat.go`) as one record per epoch.
 * Spark's per-trigger durations stay on `StreamingQuery.recentProgress`.
 *
 * Duplicates need no streaming state: a redelivered event carries the same
 * (key, lsn) and payload (the WAL contract), so the merge's max-lsn
 * resolution collapses it, within an epoch and across epochs alike.
 *
 * Sessions: Structured Streaming runs each query on a clone of `spark`,
 * and with Spark's artifact isolation every clone has its own executor
 * class loader, under which Spark's generated-code cache (keyed by loader
 * and source) starts empty. So each micro-batch is re-planned onto `spark`
 * itself and the whole merge — and the folds it queues — runs there: every
 * epoch of every drain reuses one warm code cache instead of recompiling
 * the merge's classes per query. Every epoch of a query merges through one
 * table handle, so head discovery probes forward from the last commit
 * instead of listing the snapshot log per epoch.
 *
 * Schema evolution: the source schema is fixed at query start, so a restart
 * (with the widened schema) picks up newly added columns — same contract as
 * Iceberg streaming reads. Old files read as null for added columns.
 */
final case class IngestConfig(
    walDir: String,
    tableDir: String,
    checkpointDir: String,
    schema: StructType = Schemas.changeV2,
    maxFilesPerTrigger: Option[Int] = None,
    /** merge-on-read by default: a streaming epoch writes O(batch) delta
      * files, never a copy-on-write rewrite of the table (see MergeMode) —
      * and trigger-fired folds run OUT-OF-BAND (foldAsync): a stream must
      * never stall an epoch behind an O(table) fold (see MergeOptions) */
    mergeOptions: MergeOptions =
      MergeOptions(mode = graft.merge.MergeMode.Mor, foldAsync = true),
    /** consumed-source handling — the reference S3Reader's delete-after-read
      * (/root/reference/processors/s3_reader.go): "delete" removes WAL files
      * once their batch is committed, "archive" moves them aside, "off"
      * (default) leaves them. Safe only when this job is the sole consumer. */
    cleanSource: String = "off",
    /** archive target for cleanSource = "archive" */
    sourceArchiveDir: Option[String] = None,
    /** Run `Compaction.vacuum` every N committed epochs (None = never, the
      * default — retention is destructive, so it is opt-in). Executes on the
      * out-of-band maintenance thread, never inside the epoch: a long-lived
      * ingest otherwise accumulates one snapshot + manifest per epoch
      * forever. `vacuumRetainVersions` counts snapshot VERSIONS, not
      * epochs: async fold commits (and fold retries) consume version slots
      * too, so downstream change-feed consumers
      * ([[graft.stream.ChangeFeed]]) get a catch-up window somewhat SHORTER
      * than this many epochs — size it with the table's fold cadence in
      * mind (folds land at most once per ratio/file-count trigger, so the
      * window is at least ~half this many epochs in the worst case). */
    vacuumEveryEpochs: Option[Int] = None,
    vacuumRetainVersions: Int = 64,
    /** passed through to vacuum's orphan GC age floor; the 24h default is
      * the safe one — lower it only in tests / single-writer replays */
    vacuumOrphanMinAgeMs: Long = 24L * 3600 * 1000)

object CdcIngestJob {

  /** Stable commit-ledger id for a checkpoint location. */
  def ckptId(checkpointDir: String): String = {
    val d = MessageDigest.getInstance("SHA-1")
      .digest(checkpointDir.getBytes(StandardCharsets.UTF_8))
    d.take(8).map(b => f"$b%02x").mkString
  }

  /** Payload schema = change schema minus the envelope (op, lsn). */
  def payloadSchema(changeSchema: StructType): StructType =
    StructType(changeSchema.fields.filterNot(f =>
      f.name == Schemas.OpCol || f.name == Schemas.LsnCol))

  /** Read-partition size for the stream's batch scans. Spark's default
    * 128 MiB packs small WAL files into a handful of read partitions,
    * capping every epoch's map side (stats pass, dedup shuffle write, merge
    * scan) at that parallelism no matter how many cores exist — measured as
    * THE scaling bottleneck. 16 MiB keeps typical binlog segments
    * one-per-task.
    *
    * Applied to the shared session config at [[start]] and left in place
    * (micro-batch planning re-reads it every epoch, so it cannot be scoped
    * to the stream); [[drainAvailableNow]] restores the prior value when the
    * stream ends. */
  val MaxPartitionBytes: Long = 16L * 1024 * 1024

  def start(spark: SparkSession, cfg: IngestConfig, trigger: Trigger): StreamingQuery = {
    // before the query exists: its checkpoint logs take their filesystem
    // from the Hadoop configuration at start
    LocalFs.install(spark)
    // the query's one table handle (see Sessions above)
    val table =
      if (LakeTable.exists(cfg.tableDir)) LakeTable.load(cfg.tableDir)
      // the merge key comes from the caller's merge options — creating with
      // a different key would fail (or corrupt pruning) on the first epoch
      else LakeTable.create(cfg.tableDir, payloadSchema(cfg.schema),
        cfg.mergeOptions.keyCols)
    spark.conf.set("spark.sql.files.maxPartitionBytes", MaxPartitionBytes)
    val id = ckptId(cfg.checkpointDir)
    // the WAL offsets each epoch consumed, for its `_metrics` record
    val sourceRange = GraftStreamingShim.sourceRanges(spark, cfg.checkpointDir)

    var src = spark.readStream
      .schema(cfg.schema)
      .option("recursiveFileLookup", "true")
    cfg.maxFilesPerTrigger.foreach(n => src = src.option("maxFilesPerTrigger", n))
    if (cfg.cleanSource != "off") {
      src = src.option("cleanSource", cfg.cleanSource)
      cfg.sourceArchiveDir.foreach(d => src = src.option("sourceArchiveDir", d))
    }

    src.parquet(cfg.walDir).writeStream
      // unique per checkpoint: a checkpoint runs at most one active query
      .queryName(s"cdc-ingest-$id")
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        // merge on the caller's session, not the clone: a merge planned on a
        // new query's clone recompiles all of its generated code and runs
        // its first epoch cold (see Sessions above)
        MergeInto.merge(spark, table, GraftStreamingShim.asBatch(batch, spark),
          id, epochId, cfg.mergeOptions, Some(SourceRange.tupled(sourceRange(epochId))))
        // retention cadence: out-of-band like async folds — a vacuum is
        // driver-side fs work but still O(retained snapshots) and must never
        // stretch an epoch; the maintenance queue also serializes it against
        // a concurrent fold on the same table (one thread)
        cfg.vacuumEveryEpochs.foreach { n =>
          if (epochId > 0 && epochId % n == 0)
            Maintenance.submit(table, "vacuum") { () =>
              graft.lake.Compaction.vacuum(table, cfg.vacuumRetainVersions,
                cfg.vacuumOrphanMinAgeMs)
              ()
            }
        }
        ()
      }
      .trigger(trigger)
      .start()
  }

  /**
   * Process everything currently in the WAL, then stop (replay / catch-up
   * mode — the analogue of one reference Pipeline.Run()). Returns rows in the
   * table afterwards.
   */
  def runAvailableNow(spark: SparkSession, cfg: IngestConfig): Long = {
    drainAvailableNow(spark, cfg)
    LakeTable.load(cfg.tableDir).read(spark).count()
  }

  /** [[runAvailableNow]] without the trailing row count — for callers that
    * read the table themselves afterwards (the count is a full resolved
    * read+fold the caller would immediately repeat). */
  def drainAvailableNow(spark: SparkSession, cfg: IngestConfig): Unit = {
    val priorMpb = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    // bounded lifecycle => restore the session's scan-partitioning config
    try start(spark, cfg, Trigger.AvailableNow()).awaitTermination()
    finally priorMpb match {
      case Some(v) => spark.conf.set("spark.sql.files.maxPartitionBytes", v)
      case None => spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
  }
}
