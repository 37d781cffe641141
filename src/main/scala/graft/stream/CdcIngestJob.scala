package graft.stream

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.GraftStreamingShim
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.StructType

import graft.lake.{LakeTable, LocalFs}
import graft.merge.{Maintenance, MergeInto, MergeOptions}
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
    /** Read-partition size for batch scans. The default 128 MiB packs small
      * WAL files into a handful of read partitions, capping every epoch's
      * map side (stats pass, dedup shuffle write, merge scan) at that
      * parallelism no matter how many cores exist — measured as THE scaling
      * bottleneck. 16 MiB keeps typical binlog segments one-per-task.
      *
      * NOTE: applied to the shared session config at `start` and left in
      * place (micro-batch planning re-reads it every epoch, so it cannot be
      * scoped to the stream). Pass None to leave the session untouched;
      * `runAvailableNow` restores the prior value when the stream ends. */
    maxPartitionBytes: Option[Long] = Some(16L * 1024 * 1024),
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

  /** The streaming query's name: unique per checkpoint, and a checkpoint
    * runs at most one active query. */
  def queryName(checkpointDir: String): String = s"cdc-ingest-${ckptId(checkpointDir)}"

  def start(spark: SparkSession, cfg: IngestConfig, trigger: Trigger): StreamingQuery =
    startWithLineage(spark, cfg, trigger)._1

  /** [[start]], plus the query's [[LineageListener]]: registered before the
    * query starts, it removes itself when the query terminates. */
  private def startWithLineage(spark: SparkSession, cfg: IngestConfig,
      trigger: Trigger): (StreamingQuery, LineageListener) = {
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
    cfg.maxPartitionBytes.foreach(b =>
      spark.conf.set("spark.sql.files.maxPartitionBytes", b))
    val id = ckptId(cfg.checkpointDir)

    var src = spark.readStream
      .schema(cfg.schema)
      .option("recursiveFileLookup", "true")
    cfg.maxFilesPerTrigger.foreach(n => src = src.option("maxFilesPerTrigger", n))
    if (cfg.cleanSource != "off") {
      src = src.option("cleanSource", cfg.cleanSource)
      cfg.sourceArchiveDir.foreach(d => src = src.option("sourceArchiveDir", d))
    }

    val lineage = new LineageListener(spark, cfg.tableDir, queryName(cfg.checkpointDir))
    spark.streams.addListener(lineage)
    val q = try src.parquet(cfg.walDir).writeStream
      .queryName(queryName(cfg.checkpointDir))
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        // merge on the caller's session, not the clone: a merge planned on a
        // new query's clone recompiles all of its generated code and runs
        // its first epoch cold (see Sessions above)
        MergeInto.merge(spark, table, GraftStreamingShim.asBatch(batch, spark),
          id, epochId, cfg.mergeOptions)
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
    catch { case e: Throwable => spark.streams.removeListener(lineage); throw e }
    (q, lineage)
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
    try {
      val (q, lineage) = startWithLineage(spark, cfg, Trigger.AvailableNow())
      q.awaitTermination()
      // progress events arrive asynchronously: return once every epoch's
      // lineage record is on disk
      lineage.awaitDetached()
    } finally {
      // bounded lifecycle => restore the session's scan-partitioning config
      if (cfg.maxPartitionBytes.isDefined)
        priorMpb match {
          case Some(v) => spark.conf.set("spark.sql.files.maxPartitionBytes", v)
          case None => spark.conf.unset("spark.sql.files.maxPartitionBytes")
        }
    }
  }
}

/**
 * Per-epoch lineage: source offset ranges + row counts + durations from query
 * progress, dropped as JSON next to the table (`_lineage/`). Together with
 * the `_metrics` table (MergeStats incl. snapshot version + lsn range per
 * epoch) this is the engine's upgrade of the reference's per-stage stats
 * (/root/reference/execution_stat.go:9-48, pipeline.go:205-221).
 *
 * A listener sees every query of the session, so it records only the first
 * query named `queryName` to start after it is registered (the ingest writing
 * `tableDir`), and removes itself from the session when that query
 * terminates. Progress events are delivered off the query's thread, so the
 * writes stay off the epoch's critical path.
 */
final class LineageListener(spark: SparkSession, tableDir: String, queryName: String)
    extends StreamingQueryListener {
  private val dir = Paths.get(tableDir, "_lineage")
  @volatile private var runId: java.util.UUID = null
  private val detached = new java.util.concurrent.CountDownLatch(1)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    if (runId == null && e.name == queryName) {
      Files.createDirectories(dir)
      runId = e.runId
    }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.runId == runId)
      Files.write(dir.resolve(f"epoch-${p.batchId}%010d.json"),
        p.json.getBytes(StandardCharsets.UTF_8))
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    if (e.runId == runId) {
      spark.streams.removeListener(this)
      detached.countDown()
    }

  /** Waits (bounded) until the query's last event has been handled. */
  def awaitDetached(): Unit = {
    detached.await(1, java.util.concurrent.TimeUnit.MINUTES); ()
  }
}
