package graft.merge

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.graft.GraftStreamingShim
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{KeyCodec, KeyRanges, LakeTable, LocalFs, SchemaMerge}
import graft.model.Schemas

/**
 * Key-partitioned MERGE INTO — the Spark-native replacement for the
 * reference's `SQLWriter` + `ON DUPLICATE KEY UPDATE` load path
 * (/root/reference/processors/sql_writer.go:21-80,
 * /root/reference/util/sql.go:246-298), which delegates key-equality merge to
 * MySQL. Here an epoch is an explicit distributed plan that runs
 * plan -> write -> commit -> record:
 *
 *   1. [[EpochPlan]]: driver decisions from metadata alone — the base files a
 *      copy-on-write epoch rewrites (pruned against manifest key bounds), the
 *      write's size and its placement. A merge-on-read epoch writes ONLY the
 *      batch, as delta files (O(batch) IO, the streaming default).
 *   2. [[Resolve]]: with max-LSN-wins and globally unique lsns, MERGE is an
 *      associative arg-max fold, never a full-outer join: ONE exchange plus an
 *      in-partition sort and rank-limit dedup (each key's first row by
 *      `_lsn desc`, no window), shared with delta folds.
 *   3. `LakeTable.writeAndCommit`, as delta folds do. Deletes write
 *      tombstones so a late lower-lsn insert never resurrects a key; the
 *      per-checkpoint epoch high-watermark in the snapshot makes re-delivered
 *      micro-batches no-ops (epoch ids per checkpoint are monotone,
 *      Structured Streaming's foreachBatch contract).
 *   4. The `_metrics` record ([[MergeStats]], with the [[SourceRange]] the
 *      epoch consumed), the epoch history, and a MoR fold when one is due
 *      ([[Maintenance]]).
 *
 * Base files (CoW epochs, range folds) are range-partitioned and key-sorted
 * so per-file key bounds stay tight; file contents are deterministic given
 * the same final row set.
 */
final case class MergeOptions(
    keyCols: Seq[String] = Seq("conv_id", "turn_idx"),
    targetRowsPerFile: Long = 500000L,
    /** parallelism floor only applies while files stay above this size */
    minRowsPerFile: Long = 10000L,
    /** Write amplification mode. [[MergeMode.Cow]] rewrites the touched base
      * files each epoch: resolve-free reads, but O(touched table data) per
      * epoch — the WHOLE table under uniform update keys. [[MergeMode.Mor]]
      * writes ONLY the batch, resolved within itself, as delta files; reads
      * fold base+deltas by max-lsn and `Compaction.foldDeltas` (past the
      * thresholds below) folds them into the base: O(batch) per epoch, the
      * streaming-ingest default. */
    mode: MergeMode = MergeMode.Cow,
    /** MoR: fold deltas into base when delta rows exceed this multiple of
      * base rows — the LSM write-amp/read-amp dial: each fold rewrites
      * base+deltas, so ratio r bounds total write amplification at
      * ~(1 + 1/r) log_{1+r}(N) row-writes per ingested row while reads fan
      * in at most (1 + r) x base bytes between folds */
    morCompactDeltaRatio: Double = 2.0,
    /** MoR: ... or when delta file count alone exceeds this (bounds read
      * fan-in even when the base is huge). Well above files-per-epoch (up to
      * 2x cores): near it, folds would rewrite the base every few epochs —
      * O(T^2) total writes instead of the ratio trigger's logarithmic ones. */
    morCompactMaxDeltaFiles: Int = 1024,
    /** MoR: run trigger-fired delta folds OUT-OF-BAND on the maintenance
      * thread ([[Maintenance]]): an inline fold reads base+deltas in full,
      * stalling the stream inside its epoch. Async folds ride the
      * disjoint-writer rebase commit (epochs only ADD delta files; the fold
      * only REMOVES files of its start snapshot), so epochs keep committing
      * meanwhile. Default off, for deterministic single-shot batch jobs and
      * tests; the streaming ingest config turns it on. */
    foldAsync: Boolean = false)

sealed trait MergeMode
object MergeMode {
  case object Cow extends MergeMode
  case object Mor extends MergeMode
}

final case class MergeStats(
    ckptId: String,
    epochId: Long,
    snapshotVersion: Long,
    batchRows: Long,
    batchMinLsn: Long,
    batchMaxLsn: Long,
    outputRows: Long,
    /** delete events in this batch (tombstone writes) — telemetry only */
    tombstones: Long,
    filesRewritten: Int,
    filesPruned: Int,
    filesAdded: Int,
    wallMs: Long,
    /** phase breakdown (ms): batch stats pass (incl. the CoW key collect),
      * data write incl. range sampling, `footerMs`, snapshot commit.
      * `footerMs` keeps its name so `_metrics` readers keep their schema;
      * the write tasks now return each file's manifest stats, so it times
      * only building the `DataFile`s from their commit messages. */
    statsMs: Long,
    writeMs: Long,
    footerMs: Long,
    commitMs: Long,
    noop: Boolean,
    /** driver time (ms) from `merge` entry until the write starts: the
      * stats pass of a copy-on-write epoch, planning and building the
      * write's DataFrame; 0 when nothing is written */
    planMs: Long = 0L,
    /** the source range (sourceStart, sourceEnd] that landed in
      * `snapshotVersion` ([[SourceRange]]); null when the writer has no
      * source (a SQL `INSERT`, a direct `merge` call) */
    sourceStart: String = null,
    sourceEnd: String = null,
    /** when the epoch committed (epoch ms); 0 on a no-op */
    commitTimeMs: Long = 0L)

/** The source range (start, end] a merge epoch consumed, each side JSON: a
  * streaming query's offset log entries (`GraftStreamingShim.sourceRanges`)
  * or a change feed's upstream versions. `start` is null from the source's
  * own initial position (a query's first batch, a feed's bootstrap). */
final case class SourceRange(start: String, end: String)

object MergeInto {
  import LakeTable.{DeletedCol, LsnCol}

  /** max #distinct first-key values collected to the driver for pruning
    * (see [[cowStats]]) */
  private val CollectKeysLimit = 20000

  /**
   * Merge one change batch into the table under (ckptId, epochId) idempotence.
   * Batch columns: [[Schemas.OpCol]], [[Schemas.LsnCol]] + payload columns
   * (superset-merged into the table schema; missing payload columns read as
   * null). `source` is the range of the writer's source the batch holds,
   * recorded in the epoch's `_metrics` record.
   */
  def merge(
      spark: SparkSession,
      table: LakeTable,
      batch: DataFrame,
      ckptId: String,
      epochId: Long,
      opts: MergeOptions = MergeOptions(),
      source: Option[SourceRange] = None): MergeStats = {
    val t0 = System.nanoTime()
    LocalFs.install(spark)
    val snap = table.currentSnapshot
    // table totals come from snapshot manifest REFS: the per-epoch hot path
    // never lists files (a 10^10-event table's listing is 10^5+ entries)
    val refFileCount = snap.manifests.map(_.files).sum
    val refRowCount = snap.manifests.map(_.rows).sum
    if (snap.epochHwm.get(ckptId).exists(_ >= epochId)) {
      // exactly-once: replayed epoch is a no-op (epoch ids per checkpoint are
      // monotone — Structured Streaming's foreachBatch contract)
      return MergeStats(ckptId, epochId, snap.version, 0, -1, -1, 0, 0, 0,
        refFileCount, 0, 0, 0, 0, 0, 0, noop = true)
    }

    // the merge key lives in table metadata; a mismatched caller would
    // compute manifest bounds on the wrong column and corrupt pruning
    require(opts.keyCols == snap.keyCols,
      s"merge key mismatch: table has ${snap.keyCols}, options say ${opts.keyCols}")
    val keyCols = snap.keyCols
    val batchPayload = StructType(batch.schema.fields.filterNot(f =>
      f.name == Schemas.OpCol || f.name == Schemas.LsnCol))
    val mergedPayload = SchemaMerge.merge(snap.payloadSchema, batchPayload)
    val storedSchema =
      StructType(mergedPayload.fields.toSeq ++ LakeTable.metaFields(snap.sparse))
    val nonKeyPayload =
      mergedPayload.fields.map(_.name).filterNot(keyCols.contains).toSeq

    // Normalize the batch to stored shape: payload (nulls for D rows except
    // keys, nulls for columns the batch doesn't carry), _lsn, _deleted.
    val isDelete = col(Schemas.OpCol) === lit(Schemas.DeleteOp)
    val batchCols = batch.columns.toSet
    val payloadExprs = mergedPayload.fields.toSeq.map { f =>
      if (!batchCols.contains(f.name)) lit(null).cast(f.dataType).as(f.name)
      else if (keyCols.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else when(isDelete, lit(null).cast(f.dataType))
        .otherwise(col(f.name).cast(f.dataType)).as(f.name)
    }
    // sparse tables: record, per non-key column the event actually SET, the
    // event's lsn — the cell provenance resolveSparse folds by
    val sparseCols =
      if (!snap.sparse) Nil
      else Seq(
        Resolve.cellLsnMap(nonKeyPayload, nonKeyPayload.map { c =>
          if (!batchCols.contains(c)) lit(null).cast(LongType)
          else when(!isDelete && col(c).isNotNull, col(Schemas.LsnCol).cast(LongType))
        }).as(LakeTable.CellLsnCol),
        // raw events carry no fold history; the delete watermark appears only
        // on FOLDED rows (resolveSparse sets it) — see LakeTable.DelLsnCol
        lit(null).cast(LongType).as(LakeTable.DelLsnCol))
    // NOT persisted: bNorm is a cheap scan+project recomputed by each of the
    // few jobs below; building a columnar cache of it costs multiples of the
    // recompute (measured) and is a serial, cores-insensitive fixed cost.
    val bNorm = batch.select(payloadExprs ++ Seq(
      col(Schemas.LsnCol).cast(LongType).as(LsnCol),
      isDelete.as(DeletedCol)) ++ sparseCols: _*)

    // --- batch stats. A MoR epoch runs NO pre-write job: its stats ride the
    // write job as an Observation (a pre-count cost 1-2 s of serial time per
    // 8M-row epoch). A CoW epoch needs its key bounds BEFORE choosing which
    // base files to read, and its row count to size the write.
    val k1 = keyCols.head
    val k1Type = bNorm.schema(k1).dataType
    val isMor = opts.mode == MergeMode.Mor
    val tStats = System.nanoTime()
    val cow = if (isMor) None else Some(cowStats(bNorm, k1, k1Type))
    val statsMs = millisSince(tStats)

    if (cow.exists(_.rows == 0)) {
      val next = table.commitChange(snap, snap.schemaJson, Set.empty, Nil,
        Some((ckptId, epochId)))
      return recordEpoch(table, MergeStats(ckptId, epochId, next.version, 0, -1, -1,
        refRowCount, 0, 0, refFileCount, 0, millisSince(t0), statsMs, 0, 0, 0, noop = false),
        source)
    }

    // --- plan ------------------------------------------------------------
    val plan = EpochPlan.plan(spark, table, snap, opts, k1Type, cow,
      EpochPlan.history(table.dir, ckptId), GraftStreamingShim.partitions(batch))
    val touched = plan.touched

    // --- write and commit. MoR telemetry rides the write job (see the stats
    // pass above), with the rows per placement group
    val obs = new Observation()
    val obsNorm =
      if (!isMor) bNorm
      else bNorm.observe(obs, count(lit(1)).as("rows"),
        Seq(min(col(LsnCol)).as("minLsn"), max(col(LsnCol)).as("maxLsn"),
          sum(when(col(DeletedCol), 1L).otherwise(0L)).as("dels")) ++
          EpochPlan.groupRows(plan.placement, k1): _*)
    val toWrite =
      if (isMor)
        // merge-on-read: write ONLY the batch, resolved within itself
        // (cross-epoch conflicts fold at read / delta-fold time)
        Resolve.resolveExchanged(obsNorm, keyCols, snap.sparse, plan.nOut, plan.placement)
      else {
        val target =
          if (touched.isEmpty)
            spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              storedSchema)
          else
            spark.read.schema(storedSchema).parquet(touched.map(_.path): _*)
        Resolve.resolveExchanged(target.unionByName(bNorm), keyCols, snap.sparse, plan.nOut,
          plan.placement)
      }
    val planMs = millisSince(t0)
    val written = table.writeAndCommit(snap, storedSchema, toWrite, delta = isMor,
      touched, Some((ckptId, epochId)))

    // --- record. The ridden-along MoR telemetry: the write action finished,
    // so get() returns immediately
    val b = cow.getOrElse {
      val m = obs.get
      def l(k: String, d: Long) =
        m.get(k).collect { case v: java.lang.Long => v.longValue() }.getOrElse(d)
      EpochPlan.record(table.dir, ckptId, plan.placement, l("rows", 0L), m.get("groups"))
      BatchStats(l("rows", 0L), l("minLsn", -1L), l("maxLsn", -1L), l("dels", 0L))
    }
    // written.snapshot.version, not snap.version + 1: a disjoint-writer
    // commit retry (e.g. racing a delta fold) may land the epoch later
    val committed = written.snapshot
    val stats = recordEpoch(table, MergeStats(ckptId, epochId, committed.version, b.rows,
      b.minLsn, b.maxLsn, written.files.map(_.rows).sum + refRowCount - touched.map(_.rows).sum,
      b.deletes, touched.size, refFileCount - touched.size, written.files.size, millisSince(t0),
      statsMs, written.writeMs, written.footerMs, written.commitMs, noop = false,
      planMs = planMs), source)
    // an empty epoch adds nothing to fold
    if (isMor && written.files.nonEmpty) Maintenance.foldIfDue(spark, table, committed, opts)
    stats
  }

  /**
   * A copy-on-write batch's stats in ONE keyed aggregation job: per-key
   * (count, lsn bounds, deletes) collected under CollectKeysLimit, folded on
   * the driver, the keys being the exact prune set. A batch with more keys
   * (or a k1 type with no key encoding) pays a global-agg job and prunes by
   * its key span: it touches ~every file anyway, and collecting that many
   * keys would be the epoch's serial bottleneck.
   */
  private def cowStats(bNorm: DataFrame, k1: String, k1Type: DataType): BatchStats = {
    val prunable = KeyCodec.supports(k1Type)
    def globalStats(): BatchStats = {
      val r = bNorm.agg(count(lit(1)), min(col(LsnCol)), max(col(LsnCol)),
        sum(when(col(DeletedCol), 1L).otherwise(0L)),
        min(col(k1)), max(col(k1))).head()
      def enc(i: Int): String =
        if (!prunable || r.isNullAt(i)) null else KeyCodec.encode(k1Type, r.get(i))
      val (lo, hi) = (enc(4), enc(5))
      BatchStats(r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), if (r.isNullAt(3)) 0L else r.getLong(3),
        if (lo != null && hi != null) KeyRanges.span(Some(lo), Some(hi)) else KeyRanges.All)
    }
    if (!prunable) return globalStats()
    val keyRows = bNorm.groupBy(col(k1)).agg(count(lit(1)).as("n"),
      min(col(LsnCol)).as("mn"), max(col(LsnCol)).as("mx"),
      sum(when(col(DeletedCol), 1L).otherwise(0L)).as("d"))
      .limit(CollectKeysLimit + 1).collect()
    if (keyRows.length > CollectKeysLimit) return globalStats()
    val lsnMins = keyRows.filterNot(_.isNullAt(2)).map(_.getLong(2))
    val lsnMaxs = keyRows.filterNot(_.isNullAt(3)).map(_.getLong(3))
    val nonNull = keyRows.filterNot(_.isNullAt(0))
    val encoded = nonNull.map(r => KeyCodec.encode(k1Type, r.get(0))).toSeq
    // an exact prune set only without null keys (a null key has no
    // encoding); with one, pruning uses the range, as after the global pass
    val ranges =
      if (nonNull.length == keyRows.length) KeyRanges.points(encoded)
      else if (encoded.nonEmpty)
        KeyRanges.span(Some(encoded.min(KeyCodec.ordering)), Some(encoded.max(KeyCodec.ordering)))
      else KeyRanges.All
    BatchStats(keyRows.map(_.getLong(1)).sum, if (lsnMins.isEmpty) -1L else lsnMins.min,
      if (lsnMaxs.isEmpty) -1L else lsnMaxs.max,
      keyRows.map(r => if (r.isNullAt(4)) 0L else r.getLong(4)).sum, ranges)
  }

  /** Drain the maintenance queue. Kept here, as a forwarder, because the
    * frozen `graft.Bench` and the perfbench harness call it by this name. */
  def awaitMaintenance(): Unit = Maintenance.await()

  /** The max-lsn fold in built-ins alone: per key, `max_by(struct(*), _lsn)`
    * — none of the engine's own resolve code. Kept, under this name and
    * with its `saltBuckets` parameter, because the frozen `graft.Bench`
    * builds its expected state with it; salting is gone, so it must be 1.
    * Tests use it as the reference [[Resolve.resolveMaxLsn]] must match. */
  def resolveMaxLsn(union: DataFrame, keyCols: Seq[String], saltBuckets: Int): DataFrame = {
    require(saltBuckets == 1, s"salted arg-max is not supported (saltBuckets = $saltBuckets)")
    val all = union.columns.toSeq
    union.groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(all.map(col): _*), col(LsnCol)).as("_e"))
      .select(all.map(c => col(s"_e.`$c`").as(c)): _*)
  }

  /** An applied epoch's `_metrics` record (empty epochs included), with
    * the source range it consumed and its commit time. Returns it. */
  private def recordEpoch(table: LakeTable, stats: MergeStats,
      source: Option[SourceRange]): MergeStats = {
    val s = stats.copy(sourceStart = source.map(_.start).orNull,
      sourceEnd = source.map(_.end).orNull, commitTimeMs = System.currentTimeMillis())
    table.writeMetrics(f"epoch-${s.ckptId}-${s.epochId}%010d.json", s)
    s
  }

  private def millisSince(t0: Long): Long = (System.nanoTime() - t0) / 1000000L
}
