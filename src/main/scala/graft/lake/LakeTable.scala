package graft.lake

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.json4s.jackson.Serialization

/**
 * The lake table's data plane over its metadata log ([[TableLog]]): the one
 * write-and-commit step, resolved reads and time travel, the read-time
 * merge-on-read fold, incremental change reads (CDC out) and the `_metrics`
 * telemetry records.
 *
 * Stored schema = user payload columns + metadata columns:
 *   _lsn: long       — lsn of the change that produced this row version
 *   _deleted: bool   — tombstone (kept so a late lower-lsn insert cannot
 *                      resurrect a deleted key; filtered out by `read`)
 *
 * Schema evolution is add-column-only (`SchemaMerge.merge`), mirroring the
 * reference's dynamic column union (/root/reference/util/sql.go:300-317).
 */
object LakeTable {
  val LsnCol = "_lsn"
  val DeletedCol = "_deleted"
  val CellLsnCol = "_cell_lsn"
  /** sparse tables only: the key's newest-delete lsn, persisted THROUGH folds.
    * Without it a fold that keeps a post-delete row would forget the
    * tombstone's lsn, and a later epoch's late event with a cell lsn below
    * the (forgotten) delete would resurrect dead cells — the fold would not
    * be associative and final state would depend on when a fold ran. */
  val DelLsnCol = "_del_lsn"
  val MetaCols: Seq[String] = Seq(LsnCol, DeletedCol, CellLsnCol, DelLsnCol)

  /** What [[LakeTable.writeAndCommit]] committed, with its phase times (ms). */
  final case class Written(snapshot: Snapshot, files: List[DataFile],
      writeMs: Long, footerMs: Long, commitMs: Long)

  /** Parquet encoding of every file the engine writes (merge deltas, CoW
    * rewrites, folds): lz4 WITHOUT dictionary encoding, from
    * width-interleaved A/B on the bench corpus (19M transcript rows, tmpfs):
    * the epoch shape (scan -> hash dedup -> encode) ran 4.1-4.3s at 32 cores
    * with lz4/no-dict vs 4.9-6.5s with snappy/dict, and no worse at 8 cores —
    * snappy decode and dictionary bit-unpacking are memory-LATENCY-bound
    * random access that throttles hardest at wide parallelism, while lz4's
    * sequential decode scales with cores. Dictionary off because transcript
    * text is high-cardinality (dictionary pages fall back anyway and the
    * probe pays their indirection); zstd traded ~40% smaller files for
    * slower wide-width decode — the right choice for cold storage tiers, not
    * the hot ingest path. */
  val WriteCodec = "lz4"
  val WriteDictionary = false

  /** Metadata columns: lsn + tombstone flag; sparse tables additionally
    * store per-column cell lsns (column name -> lsn of the event that set
    * it) — the provenance that makes partial-column folds associative
    * across epochs under out-of-order delivery. */
  def metaFields(sparse: Boolean): Seq[StructField] = {
    val base = Seq(
      StructField(LsnCol, LongType, nullable = true),
      StructField(DeletedCol, BooleanType, nullable = true))
    if (sparse)
      base ++ Seq(
        StructField(CellLsnCol, MapType(StringType, LongType), nullable = true),
        StructField(DelLsnCol, LongType, nullable = true))
    else base
  }

  /** Create an empty table with the given payload schema and merge key.
    * `sparseUpdates` turns on partial-column upserts (null payload column in
    * an update event = "keep the incumbent value"); it is a table-level
    * property because READS must fold with the same per-column rule. A
    * directory that already holds a snapshot log with snapshots is refused
    * before anything is written. */
  def create(dir: String, payloadSchema: StructType,
      keyCols: Seq[String] = Seq("conv_id", "turn_idx"),
      sparseUpdates: Boolean = false): LakeTable = {
    require(keyCols.nonEmpty && keyCols.forall(payloadSchema.fieldNames.contains),
      s"key columns $keyCols must exist in the payload schema")
    val t = new LakeTable(dir)
    if (exists(dir)) t.availableVersions.lastOption.foreach { v =>
      throw new IllegalStateException(s"a lake table already exists at $dir (head v$v)")
    }
    Seq(t.snapDir, t.manifestDir, t.dataDir).foreach(Files.createDirectories(_))
    val stored = StructType(payloadSchema.fields.toSeq ++ metaFields(sparseUpdates))
    t.commit(Snapshot(0L, -1L, stored.json, keyCols.toList, Nil, Map.empty,
      sparseUpdates))
    t
  }

  def load(dir: String): LakeTable = {
    require(exists(dir), s"not a lake table: $dir")
    new LakeTable(dir)
  }

  def exists(dir: String): Boolean = Files.isDirectory(Paths.get(dir, TableLog.SnapshotsDir))
}

final class LakeTable(dir: String) extends TableLog(dir) {
  import LakeTable._

  /**
   * The lake's one write path, shared by merge epochs (copy-on-write and
   * merge-on-read) and delta folds: write `data` (stored rows of
   * `schema`) as parquet into a fresh staging dir ([[ParquetWrite]]: each
   * task returns its file with the manifest stats it took while writing),
   * build the `DataFile`s from those commit messages, then commit the files
   * against `base` in place of `removed`, advancing `epoch` in the
   * exactly-once ledger. The removed files' key ranges spare the commit from
   * parsing manifests that cannot hold them.
   *
   * Output without rows adds no files: empty partitions write none, the
   * staging dir is deleted and the commit carries only the removals and the
   * ledger entry (an idle epoch's 0-row delta file would cost a read-fold
   * fan-in slot and a manifest entry forever). A failed write deletes its
   * staging dir and commits nothing. `beforeCommit` runs between the write
   * and the commit. `Written.footerMs` times building the `DataFile`s.
   *
   * `baseRanges` maps the added files to [[commitChange]]'s `baseRanges`.
   */
  private[graft] def writeAndCommit(base: Snapshot, schema: StructType, data: DataFrame,
      delta: Boolean, removed: List[DataFile], epoch: Option[(String, Long)],
      beforeCommit: () => Unit = () => (),
      baseRanges: List[DataFile] => Option[List[String]] = _ => None): Written = {
    val version = base.version + 1
    val outDir = newDataDir(version)
    val t0 = System.nanoTime()
    val files = ParquetWrite.write(data, outDir, base.keyCols.head)
    val t1 = System.nanoTime()
    val added = files.map(f =>
      DataFile(f.path, f.rows, f.minKey, f.maxKey, f.minLsn, f.maxLsn, version, delta))
    if (added.isEmpty) ParquetWrite.deleteRecursively(LocalFs.localPath(outDir))
    beforeCommit()
    val t2 = System.nanoTime()
    val committed = commitChange(base, schema.json, removed.map(_.path).toSet, added,
      epoch, removedRanges = KeyRanges.covering(removed), baseRanges = baseRanges(added))
    Written(committed, added, (t1 - t0) / 1000000L, (t2 - t1) / 1000000L,
      (System.nanoTime() - t2) / 1000000L)
  }

  private def readRawFiles(spark: SparkSession, schema: StructType,
      fs: List[DataFile]): DataFrame = {
    if (fs.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    } else {
      // Explicit schema (not inferred) => files written before a column was
      // added read as null for that column — add-column schema evolution
      // without rewriting history.
      spark.read.schema(schema).parquet(fs.map(_.path): _*)
    }
  }

  /** Current table contents (tombstones filtered, metadata cols dropped). */
  def read(spark: SparkSession): DataFrame = readAt(spark, currentVersion)

  /** Telemetry table: one row per committed epoch
    * ([[graft.merge.MergeStats]], with the source range it consumed and its
    * snapshot version and commit time: lineage from the table directory
    * alone), per delta fold
    * ([[FoldRecord]], `op = "fold"`) and per failed out-of-band maintenance
    * task or skipped vacuum sweep ([[graft.merge.MaintenanceFailure]],
    * `op = "fold-failed"`, `"vacuum-failed"`, `"vacuum-sweep-skipped"`).
    * Empty before the first record.
    *
    * Reads the record files by name, not the directory: Spark's path check
    * takes a root path named `_…` for a hidden one and warns that it was
    * ignored (it is read all the same). */
  def metrics(spark: SparkSession): DataFrame = {
    val p = Paths.get(dir, "_metrics")
    val records =
      if (!Files.isDirectory(p)) Nil
      else {
        val s = Files.list(p)
        try s.iterator().asScala.map(_.toString).filter(_.endsWith(".json")).toList
        finally s.close()
      }
    if (records.isEmpty) spark.emptyDataFrame
    else spark.read.json(records: _*)
  }

  /** Write one telemetry record (a case class) as the JSON file
    * `_metrics/name`, driver-side: a Spark job for a 1-row append costs ~0.5s
    * of serial time per epoch, which at small-epoch sizes dominates; a file
    * create is microseconds. Read back via [[metrics]]. */
  private[graft] def writeMetrics(name: String, record: AnyRef): Unit = {
    val p = Paths.get(dir, "_metrics")
    Files.createDirectories(p)
    Files.write(p.resolve(name), Serialization.write(record)(fmts).getBytes(StandardCharsets.UTF_8))
    ()
  }

  /**
   * Incremental consumption (CDC out): the resolved change rows committed in
   * snapshot versions (sinceVersion, untilVersion]. Each merge-on-read epoch
   * writes its batch as resolved delta files, so those files ARE the change
   * stream: payload columns + `_lsn` + `_deleted` = an upsert/delete
   * changelog a downstream pipeline can apply idempotently. Fold commits
   * add no logical changes and are skipped naturally (their files
   * carry delta=false).
   *
   * Defined for MoR ingest; CoW commits rewrite files that carry old rows
   * forward, so their adds are not a change stream — such versions yield
   * nothing here, by the delta flag.
   *
   * Retention contract: a consumer must keep up WITHIN the vacuum window.
   * Asking for changes from a version the vacuum floor has passed raises the
   * named "vacuumed past the retention floor" error (via `snapshot`) rather
   * than silently returning a partial stream — the consumer must re-sync
   * from a full snapshot at that point, exactly like a binlog client whose
   * position aged out of the server's log retention.
   */
  def readChangesBetween(spark: SparkSession, sinceVersion: Long,
      untilVersion: Long): DataFrame = {
    val changeFiles = changeFilesBetween(sinceVersion, untilVersion)
    val schema = snapshot(untilVersion).schema
    if (changeFiles.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else
      spark.read.schema(schema).parquet(changeFiles.map(_.path): _*)
  }

  def readChangesSince(spark: SparkSession, sinceVersion: Long): DataFrame =
    readChangesBetween(spark, sinceVersion, currentVersion)

  /** Time travel: table contents as of a given snapshot version. */
  def readAt(spark: SparkSession, version: Long): DataFrame =
    readAtIntersecting(spark, snapshot(version), None, None)

  /**
   * Resolved read of `snap` restricted to the files whose first-key envelope
   * intersects the given ENCODED bounds (either side optional; `None` =
   * unbounded), to the keys `keyFilter` accepts and to `columns`. This is
   * the DSv2 scan path ([[graft.spark.GraftDataSource]]).
   *
   * Two-level pruning — non-intersecting manifests are never parsed, then
   * non-intersecting files drop from the scan. Exact for any predicate whose
   * rows all satisfy lo <= key <= hi: a key inside the envelope has ALL its
   * row versions (deltas + tombstones) in intersecting files, so merge-on-read
   * resolution sees the full history; keys outside the envelope may surface
   * (files overlap the envelope) and the caller re-applies its predicate.
   *
   * `keyFilter` must reference merge-key columns only: it filters the fold's
   * input, which is exact because the fold groups on the full key tuple, so
   * the filter keeps or drops each key's versions together. `columns` (the
   * payload columns to return, in order) limits what the fold reads and
   * resolves to the key columns, the metadata columns and `columns`: exact
   * because the winner of a key (of each cell, on sparse tables) is chosen
   * by lsn alone, and lsns are unique.
   *
   * A point envelope (`keyLo == keyHi`, one first-key value) on a snapshot
   * with [[Snapshot.baseRanges]] folds in ONE partition with no exchange, so
   * the read is one Spark job and planning it runs none. That is cheap
   * because every delta file of such a snapshot was placed by the base
   * files' key ranges ([[graft.merge.Placement]]): the envelope keeps one
   * base range's files, a few deltas per epoch. Without base ranges (no
   * base, a hash-folded base, a copy-on-write epoch since the last range
   * fold) the deltas may each span the whole keyspace, so the point read
   * keeps the parallel fold.
   */
  private[graft] def readAtIntersecting(spark: SparkSession, snap: Snapshot,
      keyLo: Option[String], keyHi: Option[String],
      keyFilter: Option[Column] = None,
      columns: Option[Seq[String]] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, not, coalesce, lit}
    val out = columns.getOrElse(snap.payloadSchema.fieldNames.toSeq)
    readResolved(spark, snap, KeyRanges.span(keyLo, keyHi), keyFilter, columns,
      onePartition = keyLo.isDefined && keyLo == keyHi && snap.baseRanges.nonEmpty)
      .filter(not(coalesce(col(DeletedCol), lit(false))))
      .select(out.map(col): _*)
  }

  /**
   * The read-time merge-on-read fold: `snap`'s stored rows in the files
   * `ranges` touch, resolved per key — tombstones KEPT — restricted to the
   * keys `keyFilter` accepts, and to the key, metadata and `columns` columns
   * when `columns` is given (see [[readAtIntersecting]] for why both
   * restrictions are exact). `onePartition` folds in a single partition,
   * without an exchange. Serves resolved reads and the change feed's
   * bootstrap, which must carry tombstones downstream.
   */
  private[graft] def readResolved(spark: SparkSession, snap: Snapshot,
      ranges: KeyRanges = KeyRanges.All, keyFilter: Option[Column] = None,
      columns: Option[Seq[String]] = None, onePartition: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    val foldCols = snap.schema.fieldNames.toSeq.filter(c => snap.keyCols.contains(c) ||
      MetaCols.contains(c) || columns.forall(_.contains(c)))
    val rows = readRawFiles(spark, snap.schema,
      filesIntersecting(snap, ranges).filter(ranges.touches))
    val filtered = keyFilter.fold(rows)(p => rows.filter(p))
    // a full read adds no operator: each one is analyzed again by every
    // DataFrame the fold builds on top of it
    val projected = if (columns.isEmpty) filtered else filtered.select(foldCols.map(col): _*)
    // unresolved delta rows fold (per-column cell-lsn fold for sparse
    // tables, max-lsn rows otherwise); pure-base snapshots are resolved
    if (!snap.manifests.exists(_.deltaFiles > 0)) projected
    else {
      // a single partition satisfies the fold's clustering: no exchange
      val raw = if (onePartition) projected.coalesce(1) else projected
      if (snap.sparse)
        graft.merge.Resolve.resolveSparse(raw, snap.keyCols,
          foldCols.filterNot(c => MetaCols.contains(c) || snap.keyCols.contains(c)))
      else
        graft.merge.Resolve.resolveMaxLsn(raw, snap.keyCols)
    }
  }
}
