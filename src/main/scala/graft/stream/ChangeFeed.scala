package graft.stream

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.lake.LakeTable
import graft.merge.{MergeInto, MergeMode, MergeOptions, Resolve}

/**
 * Checkpointed change-stream consumer: follows a lake table's CDC-out feed
 * (`LakeTable.readChangesBetween`) into a downstream lake table with a
 * persisted version cursor — pipelines feeding pipelines, the reference's
 * core topology (/root/reference/doc.go:53-110, where one pipeline's SQLWriter
 * output is the next pipeline's SQLReader input), expressed over table
 * versions instead of a shared database.
 *
 * Delivery model: each poll applies the resolved change rows of upstream
 * versions (cursor, head] as ONE idempotent merge into the downstream table,
 * then advances the cursor (atomic tmp+rename). Crash anywhere between the
 * two steps is safe twice over — the downstream epoch ledger (epochId =
 * upstream head version, monotone) makes an exact replay a no-op, and a
 * WIDER replay (new upstream commits landed before the retry) re-delivers
 * old rows whose max-lsn resolution is idempotent. So the feed is
 * exactly-once effective with at-least-once plumbing, the same convergence
 * argument as the ingest itself.
 *
 * Retention contract: a consumer must keep up within the upstream vacuum
 * window. A cursor that falls behind the retention floor raises the named
 * "vacuumed past the retention floor" error (from `snapshot`) rather than
 * silently skipping changes — the consumer must then re-sync via
 * [[ChangeFeed.bootstrap]], exactly like a binlog client whose position aged
 * out of server log retention.
 *
 * Scheduling: `pollOnce`/`catchUp` are plain driver calls — run them from a
 * timer, a foreachBatch hook of another stream, or a loop. No custom
 * streaming Source is needed: the cursor file IS the checkpoint, and a poll
 * is a bounded batch job.
 */
object ChangeFeed {

  final case class Config(
      upstreamDir: String,
      downstreamDir: String,
      /** cursor file holding the last APPLIED upstream version */
      cursorPath: String,
      /** downstream merge tuning; keyCols are always taken from the upstream
        * table (a mismatched key would corrupt downstream pruning) */
      mergeOptions: MergeOptions = MergeOptions(mode = MergeMode.Mor))

  def readCursor(path: String): Option[Long] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) None
    else Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLong)
  }

  /** atomic replace — a crash mid-write must never leave a torn cursor */
  def writeCursor(path: String, version: Long): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.write(tmp, version.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /**
   * One poll tick: apply upstream changes (cursor, head] downstream and
   * advance the cursor. Returns the number of upstream versions consumed
   * (0 = caught up). First call with no cursor file consumes from table
   * creation — valid only while version history back to creation is
   * retained; otherwise `bootstrap` first.
   */
  def pollOnce(spark: SparkSession, cfg: Config): Long = {
    val upstream = LakeTable.load(cfg.upstreamDir)
    val head = upstream.currentVersion
    val from = readCursor(cfg.cursorPath).getOrElse(0L)
    require(from <= head,
      s"cursor $from is ahead of upstream head $head — wrong cursor file?")
    if (head == from) return 0L
    val usnap = upstream.snapshot(head)
    require(!usnap.sparse,
      "ChangeFeed is defined for row-lsn (non-sparse) tables: sparse delta " +
        "rows carry per-column provenance a row-changelog cannot express")
    // raises the named retention error if (from, head] fell behind vacuum
    val changes = upstream.readChangesBetween(spark, from, head)
    applyBatch(spark, cfg, upstream, changes, epochId = head)
    writeCursor(cfg.cursorPath, head)
    head - from
  }

  /** Poll until caught up with the upstream head (bounded: upstream may keep
    * committing, but each tick strictly advances the cursor). Returns total
    * versions consumed. */
  def catchUp(spark: SparkSession, cfg: Config): Long = {
    var total = 0L
    var n = pollOnce(spark, cfg)
    while (n > 0) { total += n; n = pollOnce(spark, cfg) }
    total
  }

  /**
   * Full re-sync for a consumer whose cursor aged out of upstream retention
   * (or a brand-new consumer of a long-lived table): seed the downstream
   * with the upstream's CURRENT resolved state — INCLUDING tombstones, with
   * their original lsns. Tombstones matter: a later change-feed row carrying
   * a late lower-lsn event for a key deleted before the bootstrap must still
   * lose downstream, which only the carried tombstone can enforce. Sets the
   * cursor to the snapshot version the state was taken at.
   */
  def bootstrap(spark: SparkSession, cfg: Config): Long = {
    val upstream = LakeTable.load(cfg.upstreamDir)
    val head = upstream.currentVersion
    val usnap = upstream.snapshot(head)
    require(!usnap.sparse, "ChangeFeed is defined for row-lsn (non-sparse) tables")
    applyBatch(spark, cfg, upstream, upstream.readResolved(spark, usnap), epochId = head)
    writeCursor(cfg.cursorPath, head)
    head
  }

  /** stored-shape rows (payload + _lsn + _deleted) -> one idempotent merge
    * into the downstream table under (feed ckptId, upstream version) */
  private def applyBatch(spark: SparkSession, cfg: Config, upstream: LakeTable,
      stored: DataFrame, epochId: Long): Unit = {
    val keyCols = upstream.currentSnapshot.keyCols
    if (!LakeTable.exists(cfg.downstreamDir))
      LakeTable.create(cfg.downstreamDir, upstream.payloadSchema, keyCols)
    MergeInto.merge(spark, LakeTable.load(cfg.downstreamDir),
      Resolve.storedAsChanges(stored),
      ckptId = "feed-" + CdcIngestJob.ckptId(cfg.cursorPath), epochId,
      cfg.mergeOptions.copy(keyCols = keyCols))
    ()
  }
}
