package graft.merge

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{Compaction, DataFile, KeyCodec, KeyRanges, LakeTable, LocalFs, SchemaMerge}
import graft.model.Schemas

/**
 * Key-partitioned MERGE INTO — the Spark-native replacement for the
 * reference's `SQLWriter` + `ON DUPLICATE KEY UPDATE` load path
 * (/root/reference/processors/sql_writer.go:21-80,
 * /root/reference/util/sql.go:246-298), which delegates key-equality merge to
 * MySQL. Here the merge is an explicit distributed plan.
 *
 * Plan shape (chosen for 100 TB scale; asserted in PlanSpec):
 *
 *   1. Write-amplification mode (MergeMode): merge-on-read epochs write ONLY
 *      the batch as resolved delta files (O(batch) IO — the streaming-ingest
 *      default); copy-on-write epochs rewrite the base files the batch's
 *      keys touch ([[graft.lake.KeyRanges]]). Manifest pruning happens on
 *      the driver against snapshot metadata in KeyCodec's single ordering —
 *      no data read for untouched files, and integral keys prune too.
 *   2. Conflict resolution: because the rule is max-LSN-wins with a globally
 *      unique lsn, MERGE degenerates to an associative/commutative arg-max
 *      fold — never a full-outer join (an SMJ would shuffle both sides and
 *      cannot be broadcast). Every epoch resolves with ONE exchange plus an
 *      in-partition window dedup (`resolveExchanged`, shared with delta
 *      folds). The exchange ([[Placement]]) is a range exchange for CoW base
 *      rewrites that simultaneously places rows for tight per-file key
 *      bounds and clusters keys for the dedup window (RangePartitioning
 *      satisfies the window's ClusteredDistribution) and feeds
 *      WindowGroupLimit so losing rows drop before full evaluation. MoR delta
 *      writes place by the key ranges of the table's current base files
 *      when those are disjoint (recorded in the snapshot by a range fold,
 *      so the epoch parses no manifest): a hash exchange on a
 *      driver-chosen integer per group of ranges, so each delta file lies
 *      inside one group and a point read opens one group's deltas per
 *      epoch, with no sampling job. A group's partitions follow the rows
 *      the checkpoint's previous epoch put in its ranges (counted in that
 *      epoch's write job), so the range of a hot conv_id gets more, and its
 *      turns spread over them by a hash of the FULL key tuple. With no base,
 *      a hash-folded base, unknown bounds or after a CoW epoch they fall
 *      back to a hash exchange on the full key tuple. The hash arg-max
 *      aggregate (`resolveMaxLsn`) serves read-time delta folds.
 *   3. One write path: every epoch writes and commits through
 *      `LakeTable.writeAndCommit`, as delta folds do.
 *   4. Deletes write tombstones (_deleted = true, _lsn = delete's lsn) so a
 *      late-arriving lower-lsn insert can never resurrect a deleted key —
 *      required for replay determinism under out-of-order delivery.
 *   5. Exactly-once: the per-checkpoint epoch high-watermark in the snapshot
 *      makes re-delivered micro-batches no-ops; the commit itself is an
 *      atomic rename. Epoch ids per checkpoint must be monotone (Structured
 *      Streaming's foreachBatch contract).
 *
 * Base files (CoW epochs, range folds) are range-partitioned and key-sorted
 * so per-file key bounds stay tight (pruning + read-side selectivity); file
 * contents are deterministic given the same final row set.
 */
final case class MergeOptions(
    keyCols: Seq[String] = Seq("conv_id", "turn_idx"),
    targetRowsPerFile: Long = 500000L,
    /** parallelism floor only applies while files stay above this size */
    minRowsPerFile: Long = 10000L,
    /** Write amplification mode.
      *  - [[MergeMode.Cow]] (copy-on-write): touched base files are rewritten
      *    each epoch. Reads are resolve-free; per-epoch write cost is
      *    O(touched table data) — with uniformly distributed update keys that
      *    is the WHOLE table per epoch, which at 100 TB is untenable.
      *  - [[MergeMode.Mor]] (merge-on-read): the epoch writes ONLY the batch
      *    (resolved within itself, key-clustered) as delta files;
      *    reads fold base+deltas by max-lsn; `Compaction.foldDeltas` (invoked
      *    automatically past the thresholds below) folds deltas into the base.
      *    Per-epoch write cost is O(batch) — the streaming-ingest default. */
    mode: MergeMode = MergeMode.Cow,
    /** MoR: fold deltas into base when delta rows exceed this multiple of
      * base rows — the LSM write-amp/read-amp dial: each fold rewrites
      * base+deltas, so ratio r bounds total write amplification at
      * ~(1 + 1/r) log_{1+r}(N) row-writes per ingested row while reads fan
      * in at most (1 + r) x base bytes between folds */
    morCompactDeltaRatio: Double = 2.0,
    /** MoR: ... or when delta file count alone exceeds this (bounds read
      * fan-in even when the base is huge). Sized well above files-per-epoch
      * (up to 2x cores): a threshold near the per-epoch file count would
      * fire every couple of epochs and rewrite the base each time — O(T^2)
      * total writes instead of the ratio trigger's logarithmic amortization,
      * and worse on wider clusters. 1024 files = tens of epochs of fan-in,
      * with the row-ratio trigger remaining the primary policy. */
    morCompactMaxDeltaFiles: Int = 1024,
    /** Sparse tables only: plan shape for partial-column resolution.
      *  - [[ResolveStrategy.SortDedup]] (default): clustered-window fold
      *    ([[MergeInto.resolveSparse]]) — one exchange that doubles as the
      *    write placement; per-key groups buffer in the window operator.
      *  - [[ResolveStrategy.Agg]]: one hash aggregate
      *    ([[MergeInto.resolveSparseAgg]], ObjectHashAggregate with map-side
      *    partial combine) — collapses high-duplication/hot-key batches
      *    BEFORE the shuffle; delta file count follows the aggregate's
      *    shuffle partitioning. Applies to MoR epochs (read-time folds and
      *    delta folds keep the window form). */
    sparseResolve: ResolveStrategy = ResolveStrategy.SortDedup,
    /** MoR: run trigger-fired delta folds OUT-OF-BAND on a maintenance
      * thread instead of inline in the epoch. An inline fold reads
      * base+deltas in full — at 100 TB that is a multi-hour job executed
      * INSIDE a foreachBatch epoch: the stream stalls, checkpoint progress
      * stops, upstream backlog grows unboundedly. Async folds ride the
      * disjoint-writer rebase commit (epochs only ADD delta files; the fold
      * only REMOVES files that existed at its start snapshot — provably
      * disjoint, raced cross-JVM in CommitRaceSpec), so epochs keep
      * committing while the fold runs. At most one fold per table is in
      * flight; a trigger that fires mid-fold is absorbed (the running fold
      * already shrinks the backlog, and the next epoch re-evaluates).
      * Default off: inline folds keep single-shot batch jobs and tests
      * deterministic; the streaming ingest config turns it on. */
    foldAsync: Boolean = false)

/** Sparse-table resolution plan shape, see [[MergeOptions.sparseResolve]]. */
sealed trait ResolveStrategy
object ResolveStrategy {
  case object SortDedup extends ResolveStrategy
  case object Agg extends ResolveStrategy
}

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
    noop: Boolean)

/** The `_metrics` record of a failed out-of-band maintenance task
  * (`op` = "fold-failed", "vacuum-failed"): the error's class and message,
  * the thread it ran on and when it failed (epoch ms). */
final case class MaintenanceFailure(
    op: String,
    errorClass: String,
    message: String,
    thread: String,
    timeMs: Long)

object MergeInto {
  import LakeTable.{DeletedCol, LsnCol}

  /** last observed batch rows per checkpoint — the MoR file-count estimator
    * (in-memory only: a restart's first epoch just falls back to the
    * parallelism floor) */
  private val lastBatchRows =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]

  /** rows per key range of the last epoch placed by base ranges, per
    * checkpoint — where the next epoch's rows are expected to land
    * ([[Placement.forDeltas]]; in-memory only like [[lastBatchRows]]) */
  private val lastLoads =
    new java.util.concurrent.ConcurrentHashMap[String, Placement.Loads]

  /** max #distinct first-key values collected to the driver for pruning.
    * Above it, pruning falls back to min/max range intersection: a batch
    * touching that many keys almost certainly intersects every file anyway,
    * and the driver-side collect becomes the epoch's serial bottleneck. */
  private val CollectKeysLimit = 20000

  /**
   * Merge one change batch into the table under (ckptId, epochId) idempotence.
   * Batch columns: [[Schemas.OpCol]], [[Schemas.LsnCol]] + payload columns
   * (superset-merged into the table schema; missing payload columns read as
   * null).
   */
  def merge(
      spark: SparkSession,
      table: LakeTable,
      batch: DataFrame,
      ckptId: String,
      epochId: Long,
      opts: MergeOptions = MergeOptions()): MergeStats = {
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
        cellLsnMap(nonKeyPayload, nonKeyPayload.map { c =>
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

    {
      // --- batch stats -------------------------------------------------------
      // Pass 1 (always, global): row count, lsn bounds, delete count, approx
      // key cardinality. Pass 2 (only when the key set is small enough to be
      // useful): exact per-key counts collected for manifest file pruning. A
      // batch touching more than CollectKeysLimit keys intersects virtually
      // every file anyway, so the keyed pass (a full hash aggregate + a large
      // driver collect) would be pure overhead.
      val k1 = keyCols.head
      val k1Type = bNorm.schema(k1).dataType
      val prunable = KeyCodec.supports(k1Type)
      val isMor = opts.mode == MergeMode.Mor
      val tStats = System.nanoTime()
      // MoR epochs never read the base, so they need NO pre-write job at all:
      // row count, lsn bounds and tombstone telemetry ride the WRITE job via
      // CollectMetrics (Observation) — measured 1-2s of serial per-epoch time
      // for even a zero-column pre-count at 8M-row epochs. CoW keeps a
      // pre-write stats pass: key bounds must exist BEFORE deciding which
      // base files to read, and file sizing needs the row estimate up front.
      //
      // CoW stats run as ONE keyed aggregation job (guide §1.2/§2.4 — fewer
      // jobs, not faster jobs): groupBy(k1) with per-key (count, lsn bounds,
      // delete count), collected under CollectKeysLimit. The global stats
      // (row count, lsn bounds, delete count, key envelope) fold from the
      // per-key rows on the driver — exactly, since the groups partition the
      // batch — replacing the former two serial jobs (global agg with
      // approx_count_distinct, then the keyed collect) with one. Only a batch
      // whose k1 cardinality exceeds the limit pays a second, global-agg job
      // (such a batch touches ~every file anyway, so the keyed pass being
      // wasted is the pre-existing trade — see CollectKeysLimit).
      val morObs = if (isMor) Some(new org.apache.spark.sql.Observation()) else None
      var bRows = -1L
      var bMinLsn0 = -1L
      var bMaxLsn0 = -1L
      var bDeletes0 = 0L
      // the keys the batch may touch: its exact key set when collected, else
      // its span; unknown (every file) without usable bounds
      var ranges = KeyRanges.All
      if (!isMor) {
        def globalStats(): Unit = {
          val r = bNorm.agg(count(lit(1)), min(col(LsnCol)), max(col(LsnCol)),
            sum(when(col(DeletedCol), 1L).otherwise(0L)),
            min(col(k1)), max(col(k1))).head()
          def enc(i: Int): String =
            if (!prunable || r.isNullAt(i)) null else KeyCodec.encode(k1Type, r.get(i))
          bRows = r.getLong(0)
          bMinLsn0 = if (r.isNullAt(1)) -1L else r.getLong(1)
          bMaxLsn0 = if (r.isNullAt(2)) -1L else r.getLong(2)
          bDeletes0 = if (r.isNullAt(3)) 0L else r.getLong(3)
          val (lo, hi) = (enc(4), enc(5))
          if (lo != null && hi != null) ranges = KeyRanges.span(Some(lo), Some(hi))
        }
        if (prunable) {
          val keyRows = bNorm.groupBy(col(k1)).agg(count(lit(1)).as("n"),
            min(col(LsnCol)).as("mn"), max(col(LsnCol)).as("mx"),
            sum(when(col(DeletedCol), 1L).otherwise(0L)).as("d"))
            .limit(CollectKeysLimit + 1).collect()
          if (keyRows.length > CollectKeysLimit) globalStats()
          else {
            bRows = keyRows.map(_.getLong(1)).sum
            val lsnMins = keyRows.filterNot(_.isNullAt(2)).map(_.getLong(2))
            val lsnMaxs = keyRows.filterNot(_.isNullAt(3)).map(_.getLong(3))
            bMinLsn0 = if (lsnMins.isEmpty) -1L else lsnMins.min
            bMaxLsn0 = if (lsnMaxs.isEmpty) -1L else lsnMaxs.max
            bDeletes0 = keyRows.map(r => if (r.isNullAt(4)) 0L else r.getLong(4)).sum
            val nonNull = keyRows.filterNot(_.isNullAt(0))
            val encoded = nonNull.map(r => KeyCodec.encode(k1Type, r.get(0))).toSeq
            // an exact prune set only without null keys (a null key has no
            // encoding); with one, pruning uses the range, as after the
            // global pass
            if (nonNull.length == keyRows.length) ranges = KeyRanges.points(encoded)
            else if (encoded.nonEmpty)
              ranges = KeyRanges.span(Some(encoded.min(KeyCodec.ordering)),
                Some(encoded.max(KeyCodec.ordering)))
          }
        } else globalStats()
      }
      val statsMs = millisSince(tStats)

      if (!isMor && bRows == 0) {
        val next = table.commitChange(snap, snap.schemaJson, Set.empty, Nil,
          Some((ckptId, epochId)))
        val stats = MergeStats(ckptId, epochId, next.version, 0, -1, -1, refRowCount, 0, 0,
          refFileCount, 0, millisSince(t0), statsMs, 0, 0, 0,
          noop = false)
        recordEpoch(table, stats)
        return stats
      }

      // --- file pruning against manifest key bounds (CoW reads the base;
      // MoR touches nothing). Two-level: whole manifests the batch's key
      // ranges miss are skipped WITHOUT being parsed (snapshot refs carry
      // per-manifest ranges), then the surviving candidates prune per file.
      val touched: List[DataFile] =
        if (isMor) Nil else table.filesIntersecting(snap, ranges).filter(ranges.touches)
      val touchedRows = touched.map(_.rows).sum
      // untouched = table minus touched, by REF arithmetic (no listing)
      val untouchedCount = refFileCount - touched.size
      val untouchedRows = refRowCount - touchedRows

      // File-count target (Compaction.outputFiles: floored at 2x cluster
      // parallelism, bounded by minRowsPerFile so tiny epochs don't spray
      // micro-files). MoR has no pre-write row count (by design, see the
      // stats pass) and instead sizes from the PREVIOUS epoch's observed
      // rows — steady streams see stable batch sizes, so this converges
      // after one epoch. The very first epoch (or the first after a JVM
      // restart) sizes from the batch's SCAN partition count instead of a
      // flat 2x-parallelism: scan partitions track input bytes
      // (maxPartitionBytes), so a large first batch still writes wide while
      // a small one (fresh e2e tables, replay smoke runs) no longer sprays
      // 2x-cores micro-files whose footer stats + manifest entries dominated
      // the epoch (measured: 64 files / ~600 ms write for a 5k-row seed
      // epoch vs 1 file / ~250 ms once the estimator kicks in).
      def sized(estRows: Long): Int = Compaction.outputFiles(spark, estRows,
        opts.targetRowsPerFile, opts.minRowsPerFile)
      val nOut = if (isMor) {
        Option(lastBatchRows.get(ckptId)).map(_.longValue()).filter(_ > 0)
          .map(sized)
          .getOrElse(math.max(1, math.min(
            2 * spark.sparkContext.defaultParallelism,
            bNorm.rdd.getNumPartitions)))
      } else {
        sized(touchedRows + bRows)
      }

      val aggResolve = isMor && snap.sparse && opts.sparseResolve == ResolveStrategy.Agg
      val placement =
        if (!isMor) Placement.ByRange
        else if (aggResolve) Placement.ByHash
        else Placement.forDeltas(snap.baseRanges, k1Type, nOut, Option(lastLoads.get(ckptId)))
      // MoR telemetry rides the write job (see stats pass above), with the
      // rows per placement group: exact, a histogram with one bin per group
      val groupRows = placement match {
        case p: Placement.ByBase =>
          // on doubles, read back rounded: merging partial histograms
          // averages a bin's x in floating point (1.9999… for group 2), and
          // an integral input type would truncate that to the wrong group
          Seq(histogram_numeric(p.groupIndex(col(k1)).cast(DoubleType),
            lit(math.max(2, p.counts.size))).as("groups"))
        case _ => Nil
      }
      val obsNorm = morObs.map(o => bNorm.observe(o, count(lit(1)).as("rows"),
        Seq(min(col(LsnCol)).as("minLsn"), max(col(LsnCol)).as("maxLsn"),
          sum(when(col(DeletedCol), 1L).otherwise(0L)).as("dels")) ++ groupRows: _*))
        .getOrElse(bNorm)
      val toWrite =
        if (aggResolve)
          // coalesce (not repartition) the aggregate output to nOut so file
          // sizing stays governed by targetRowsPerFile like every other
          // write path — the agg's own output partitioning is
          // spark.sql.shuffle.partitions, which would spray that many tiny
          // delta files per small epoch. Coalesce merges post-agg partitions
          // without a second exchange and no-ops when the agg already runs
          // at <= nOut partitions.
          resolveSparseAgg(obsNorm, keyCols, nonKeyPayload).coalesce(nOut)
        else if (isMor)
          // merge-on-read: write ONLY the batch, resolved within itself
          // (cross-epoch conflicts fold at read / delta-fold time)
          resolveExchanged(obsNorm, keyCols, snap.sparse, nOut, placement)
        else {
          val target =
            if (touched.isEmpty)
              spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                storedSchema)
            else
              spark.read.schema(storedSchema).parquet(touched.map(_.path): _*)
          resolveExchanged(target.unionByName(bNorm), keyCols, snap.sparse, nOut, placement)
        }
      // the aggregate's deltas span the keyspace: the table loses its base
      // ranges until the next range fold (see Snapshot.baseRanges)
      val written = table.writeAndCommit(snap, storedSchema, toWrite, delta = isMor,
        touched, Some((ckptId, epochId)),
        baseRanges = added => if (aggResolve && added.nonEmpty) Some(Nil) else None)
      // collect the ridden-along MoR telemetry (the write action finished,
      // so get() returns immediately)
      val (bRowsFinal, bMinLsn, bMaxLsn, bDeletes) = morObs match {
        case Some(o) =>
          val m = o.get
          def l(k: String, d: Long) =
            m.get(k).collect { case v: java.lang.Long => v.longValue() }.getOrElse(d)
          (placement, m.get("groups")) match {
            case (p: Placement.ByBase, Some(bins: Seq[_])) =>
              val rows = Array.fill(p.counts.size)(0.0)
              bins.collect { case b: org.apache.spark.sql.Row =>
                rows(math.round(b.getDouble(0)).toInt) += b.getDouble(1) }
              if (rows.sum > 0) lastLoads.put(ckptId, Placement.Loads(p.bounds, rows.toIndexedSeq))
            case _ =>
          }
          (l("rows", 0L), l("minLsn", -1L), l("maxLsn", -1L), l("dels", 0L))
        case None => (bRows, bMinLsn0, bMaxLsn0, bDeletes0)
      }
      // estimator update only on non-empty epochs: recording 0 would make the
      // NEXT epoch size to sized(0)=1 output partition and serialize a
      // potentially large batch through a single task — an idle tick must not
      // poison the estimate (nor should a restart: absent => parallelism floor)
      if (isMor && bRowsFinal > 0) lastBatchRows.put(ckptId, bRowsFinal)

      // written.snapshot.version, not snap.version + 1: a disjoint-writer
      // commit retry (e.g. racing a delta fold) may land the epoch later
      val committed = written.snapshot
      val stats = MergeStats(ckptId, epochId, committed.version, bRowsFinal, bMinLsn, bMaxLsn,
        written.files.map(_.rows).sum + untouchedRows, bDeletes, touched.size,
        untouchedCount, written.files.size, millisSince(t0), statsMs,
        written.writeMs, written.footerMs, written.commitMs, noop = false)
      recordEpoch(table, stats)

      // --- MoR delta maintenance: fold past the thresholds (trigger math
      // rides the committed snapshot's manifest refs — no file listing;
      // an empty epoch adds nothing to fold) ---------------------------------
      if (isMor && written.files.nonEmpty) {
        val deltaFiles = committed.manifests.map(_.deltaFiles).sum
        val deltaRows = committed.manifests.map(_.deltaRows).sum
        val baseRows = committed.manifests.map(_.rows).sum - deltaRows
        // ratio trigger only once a base EXISTS: with an empty base a "fold"
        // is a pure relabel (deltas -> base, same file count, no read-amp
        // gain) that rewrites every ingested row — measured as the single
        // largest cost of a from-empty ingest window. Until the first real
        // fold, the file-count trigger bounds read fan-in on its own.
        if (deltaFiles > opts.morCompactMaxDeltaFiles ||
            (baseRows > 0 && deltaRows > baseRows * opts.morCompactDeltaRatio)) {
          def fold(): Unit = {
            Compaction.foldDeltas(spark, table, opts.targetRowsPerFile, opts.minRowsPerFile)
            ()
          }
          if (opts.foldAsync) { submitMaintenance(table.dir, "fold")(() => fold()); () }
          else fold()
        }
      }
      stats
    }
  }

  /** Single maintenance thread for out-of-band folds/vacuums (see
    * [[MergeOptions.foldAsync]]): daemon so a finished driver never hangs on
    * it, one thread so two maintenance jobs never race each other's commit
    * (cross-PROCESS races remain covered by the rebase retry). */
  private lazy val maintenancePool = java.util.concurrent.Executors
    .newSingleThreadExecutor { r =>
      val t = new Thread(r, "graft-maintenance"); t.setDaemon(true); t
    }
  /** table dirs with a maintenance task queued or running */
  private val maintenanceInFlight =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Queue `task` (the maintenance op `op`, e.g. "fold") for `tableDir`
    * unless one is already pending — a trigger firing mid-fold is absorbed,
    * not queued behind it (the running fold already shrinks the delta
    * backlog; the next epoch re-evaluates the trigger). A failure clears the
    * flag and is recorded, not rethrown: maintenance is best-effort by design
    * (the stream's correctness never depends on a fold), so the table's
    * `_metrics` get a [[MaintenanceFailure]] record (op `"<op>-failed"`). */
  private[graft] def submitMaintenance(tableDir: String, op: String)(task: () => Unit): Boolean = {
    if (!maintenanceInFlight.add(tableDir)) return false
    maintenancePool.submit(new Runnable {
      override def run(): Unit =
        try task()
        catch {
          case e: Throwable =>
            System.err.println(s"[graft] maintenance task $op for $tableDir failed: $e")
            val failed = MaintenanceFailure(s"$op-failed", e.getClass.getName,
              String.valueOf(e.getMessage), Thread.currentThread.getName,
              System.currentTimeMillis())
            try LakeTable.load(tableDir).writeMetrics(
              f"${failed.op}-${failed.timeMs}%013d-${System.nanoTime()}%x.json", failed)
            catch {
              case NonFatal(w) => System.err.println(
                s"[graft] could not record the failed $op for $tableDir: $w")
            }
        } finally {
          maintenanceInFlight.remove(tableDir); ()
        }
    })
    true
  }

  /** Drain the maintenance queue (tests, bounded-lifecycle jobs): returns
    * once every task submitted before the call has finished. */
  def awaitMaintenance(): Unit = {
    maintenancePool.submit(new Runnable { override def run(): Unit = () }).get()
    ()
  }

  /**
   * The write-time resolver of merge epochs and delta folds: ONE exchange
   * that places every version of a key in one partition, then the per-key
   * fold inside each partition — the per-column window fold
   * ([[resolveSparse]]) on sparse tables, else a (key, lsn desc) sort and
   * first-row-per-key window, exact for max-lsn-wins because lsns are unique.
   * Every exchange satisfies the window's ClusteredDistribution and the
   * in-partition sort its ordering, so EnsureRequirements adds NO second
   * exchange or sort (asserted in PlanSpec); output is deterministic given
   * the data.
   *
   * `placement` picks the exchange. [[Placement.ByRange]] also gives each
   * output file tight key bounds and key-sorted rows — what long-lived base
   * files (CoW epochs, range folds) need for pruning; its boundary-sampling
   * job re-runs only the cheap scan+project input, and the sampler gives hot
   * key ranges more partitions. A hash exchange skips that job, scanning the
   * input once — the trade for merge-on-read delta files, which are folded
   * soon, and for pure-MoR folds, whose base bounds nothing prunes on.
   * [[Placement.ByHash]] hashes the FULL key tuple (a hot conv_id spreads
   * over its turns). [[Placement.ByBase]] (MoR epochs over a range-placed
   * base) hashes an integer column chosen per group of base ranges and
   * hash sub-partition, which joins the window's partition keys after the
   * key columns so the exchange still satisfies it; each delta file then
   * lies inside one group.
   */
  private[graft] def resolveExchanged(rows: DataFrame, keyCols: Seq[String], sparse: Boolean,
      nOut: Int, placement: Placement): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kc = keyCols.map(col)
    val (exchanged, cluster) = placement match {
      case Placement.ByRange => (rows.repartitionByRange(nOut, kc: _*), keyCols)
      case Placement.ByHash => (rows.repartition(nOut, kc: _*), keyCols)
      case p: Placement.ByBase =>
        (rows.withColumn(PlaceCol, p.column(keyCols)).repartition(p.partitions, col(PlaceCol)),
          keyCols :+ PlaceCol)
    }
    val cc = cluster.map(col)
    val resolved =
      if (sparse)
        resolveSparse(exchanged, cluster, rows.columns.toSeq.filterNot(c =>
          LakeTable.MetaCols.contains(c) || keyCols.contains(c)))
      else
        exchanged
          .sortWithinPartitions(cc :+ col(LsnCol).desc: _*)
          .withColumn("_rn", row_number().over(Window.partitionBy(cc: _*).orderBy(col(LsnCol).desc)))
          .filter(col("_rn") === 1).drop("_rn")
    if (cluster == keyCols) resolved else resolved.drop(PlaceCol)
  }

  /** the exchange column of [[Placement.ByBase]], dropped before the write */
  private val PlaceCol = "_place"

  /**
   * Partial-column (sparse) conflict resolution — the reference's
   * `OnDupKeyFields` column-subset upsert (/root/reference/processors/
   * sql_writer.go:25, /root/reference/util/sql.go:274-284), generalized to
   * per-event sparseness: a null payload column in an update event means
   * "unchanged", and the fold resolves EVERY column independently.
   *
   * Rule: per key, a column's final value comes from the highest-CELL-lsn
   * event that set the column AFTER the key's newest delete (`_cell_lsn`
   * records, per column, the lsn of the event that set it — without that
   * provenance a folded row would promote old column values to its row lsn,
   * and a late lower-lsn update arriving in a later epoch would lose;
   * with it the fold is associative, so within-batch collapse, cross-epoch
   * read folds and delta folds all compose exactly).
   *
   * The key's newest-delete lsn is itself fold state: when a row NEWER than
   * the delete survives the fold, the tombstone row is dropped, so its lsn
   * must persist on the folded row (`_del_lsn`) — otherwise a later fold
   * input carrying a late event with a cell lsn below the forgotten delete
   * would resurrect dead cells (fold associativity would break: final state
   * would depend on whether within-batch collapse or a fold ran). The
   * per-row delete watermark is therefore greatest(own tombstone lsn,
   * carried `_del_lsn`), folded by max per key and re-emitted.
   *
   * Explicit-null writes are unrepresentable in sparse mode (null = unset),
   * matching the reference's column-subset semantics.
   *
   * Plan shape: all window functions share ONE key clustering (a single
   * exchange, inserted by the planner if the caller hasn't already
   * placed/partitioned the data) — full-frame per-column max_by folds plus
   * one (key, lsn desc) row_number to keep a single resolved row per key.
   */
  def resolveSparse(rows0: DataFrame, keyCols: Seq[String],
      payloadCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = withDelLsn(rows0)
    val kc = keyCols.map(col)
    val wFull = Window.partitionBy(kc: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wOrd = Window.partitionBy(kc: _*).orderBy(col(LsnCol).desc)
    val lastDel = max(greatest(
      when(coalesce(col(DeletedCol), lit(false)), col(LsnCol)),
      col(LakeTable.DelLsnCol))).over(wFull)
    def cellOf(c: String) = element_at(col(LakeTable.CellLsnCol), lit(c))
    def masked(c: String) =
      when(cellOf(c) > coalesce(col("_ld"), lit(Long.MinValue)), cellOf(c))
    val valCols = payloadCols.map(c => max_by(col(c), masked(c)).over(wFull).as(s"_v_$c"))
    val lsnCols = payloadCols.map(c => max(masked(c)).over(wFull).as(s"_l_$c"))
    val folded = rows
      .withColumn("_ld", lastDel)
      .select((rows.columns.map(col).toSeq :+ col("_ld")) ++ valCols ++ lsnCols: _*)
      .withColumn("_rn", row_number().over(wOrd))
      .filter(col("_rn") === 1)
    val cellMap = cellLsnMap(payloadCols, payloadCols.map(c => col(s"_l_$c")))
    val outCols =
      rows.columns.toSeq.map {
        case c if payloadCols.contains(c) => col(s"_v_$c").as(c)
        case c if c == LakeTable.CellLsnCol => cellMap.as(c)
        case c if c == LakeTable.DelLsnCol => col("_ld").as(c)
        case c => col(c)
      }
    folded.select(outCols: _*)
  }

  /**
   * Aggregate-form sparse resolution — same fold semantics as
   * [[resolveSparse]] (per-column max-cell-lsn after the delete watermark,
   * watermark persisted), different plan shape: ONE hash aggregate
   * (ObjectHashAggregate via the native `max_row_by_long`, map-side partial
   * combine) instead of clustered windows. The window form buffers each key
   * group in memory before emitting; under heavy per-key duplication (hot
   * conv_ids updated many times within one batch) the aggregate collapses
   * duplicates map-side BEFORE the shuffle, bounding both shuffle volume and
   * per-key memory. Selectable via [[MergeOptions.sparseResolve]].
   *
   * Per column the aggregate takes the arg-max value by UNMASKED cell lsn
   * plus the max cell lsn, then masks at projection time: if the column's
   * max cell lsn is <= the key's delete watermark every older cell is too,
   * and if it is above, the unmasked winner IS the masked winner — so
   * post-masking is exact. null ordinals (events that didn't set the column)
   * are ignored by the aggregate, like nulls in `max_by`.
   */
  def resolveSparseAgg(rows0: DataFrame, keyCols: Seq[String],
      payloadCols: Seq[String]): DataFrame = {
    val rows = withDelLsn(rows0)
    graft.functions.GraftFunctions.register(rows.sparkSession)
    def amax(v: Column, o: Column): Column =
      call_function(graft.functions.GraftFunctions.MaxRowByLongName, v, o)
    def cellOf(c: String) = element_at(col(LakeTable.CellLsnCol), lit(c))
    val aggs: Seq[Column] =
      payloadCols.flatMap(c => Seq(
        amax(struct(col(c).as("v")), cellOf(c)).as(s"_av_$c"),
        max(cellOf(c)).as(s"_al_$c"))) ++ Seq(
        max(greatest(
          when(coalesce(col(DeletedCol), lit(false)), col(LsnCol)),
          col(LakeTable.DelLsnCol))).as("_wm"),
        amax(struct(col(LsnCol).as("l"), col(DeletedCol).as("d")), col(LsnCol))
          .as("_meta"))
    val g = rows.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    def wm = coalesce(col("_wm"), lit(Long.MinValue))
    def maskedLsn(c: String) = when(col(s"_al_$c") > wm, col(s"_al_$c"))
    val cellMap = cellLsnMap(payloadCols, payloadCols.map(maskedLsn))
    val outCols = rows.columns.toSeq.map {
      case c if payloadCols.contains(c) =>
        when(maskedLsn(c).isNotNull, col(s"_av_$c").getField("v")).as(c)
      case c if c == LsnCol => col("_meta").getField("l").as(c)
      case c if c == DeletedCol => col("_meta").getField("d").as(c)
      case c if c == LakeTable.CellLsnCol => cellMap.as(c)
      case c if c == LakeTable.DelLsnCol => col("_wm").as(c)
      case c => col(c) // key columns: grouping output
    }
    g.select(outCols: _*)
  }

  /** A `_cell_lsn` map: payload column name -> lsn, null lsns left out. */
  private def cellLsnMap(payloadCols: Seq[String], lsns: Seq[Column]): Column =
    map_filter(map_from_arrays(array(payloadCols.map(lit): _*), array(lsns: _*)),
      (_, v) => v.isNotNull)

  /** tolerate inputs from before the _del_lsn column existed (reads as null) */
  private def withDelLsn(rows: DataFrame): DataFrame =
    if (rows.columns.contains(LakeTable.DelLsnCol)) rows
    else rows.withColumn(LakeTable.DelLsnCol, lit(null).cast(LongType))

  /** Stored-shape rows (payload + `_lsn` [+ `_deleted`]) as a change batch
    * for [[merge]]: tombstones become deletes, lsns carry through. */
  def storedAsChanges(stored: DataFrame): DataFrame = {
    val payloadCols = stored.columns.toSeq.filterNot(LakeTable.MetaCols.contains).map(col)
    val op =
      if (!stored.columns.contains(DeletedCol)) lit("U")
      else when(coalesce(col(DeletedCol), lit(false)), lit(Schemas.DeleteOp))
        .otherwise(lit("U"))
    stored.select(payloadCols ++ Seq(
      col(LsnCol).as(Schemas.LsnCol), op.as(Schemas.OpCol)): _*)
  }

  /**
   * Arg-max fold, optionally salted (two-phase: per (key, salt) pre-reduce,
   * then per key — exact because max-by-lsn is associative). No engine path
   * salts: the read-time fold and ChangeFeed bootstrap pass 1.
   *
   * Uses the native `max_row_by_long` TypedImperativeAggregate rather than
   * built-in `max_by`: max_by's immutable buffer types force SortAggregate
   * (a per-partition sort of every row on both sides of the shuffle), while
   * the native aggregate runs in ObjectHashAggregateExec with map-side
   * partial combine.
   */
  def resolveMaxLsn(union: DataFrame, keyCols: Seq[String], saltBuckets: Int): DataFrame = {
    val all = union.columns.toSeq
    def bt(c: String) = s"`$c`"
    val ev = struct(all.map(col): _*)
    graft.functions.GraftFunctions.register(union.sparkSession)
    def argMax(v: Column, o: Column): Column =
      call_function(graft.functions.GraftFunctions.MaxRowByLongName, v, o)
    if (saltBuckets <= 1) {
      union.groupBy(keyCols.map(col): _*)
        .agg(argMax(ev, col(LsnCol)).as("_e"))
        .select(all.map(c => col(s"_e.${bt(c)}").as(c)): _*)
    } else {
      val salted = union
        .groupBy((keyCols.map(col) :+ pmod(xxhash64(col(LsnCol)), lit(saltBuckets)).as("_salt")): _*)
        .agg(argMax(ev, col(LsnCol)).as("_e"))
      salted.groupBy(keyCols.map(col): _*)
        .agg(argMax(col("_e"), col(s"_e.$LsnCol")).as("_e"))
        .select(all.map(c => col(s"_e.${bt(c)}").as(c)): _*)
    }
  }

  /** An applied epoch's `_metrics` record (empty epochs included). */
  private def recordEpoch(table: LakeTable, s: MergeStats): Unit =
    table.writeMetrics(f"epoch-${s.ckptId}-${s.epochId}%010d.json", s)

  private def millisSince(t0: Long): Long = (System.nanoTime() - t0) / 1000000L
}
