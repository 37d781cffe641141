package graft.lake

import org.apache.spark.sql.SparkSession

import graft.merge.Placement

/**
 * Table maintenance: merge-on-read delta folding and retention. A fold
 * rewrites data WITHOUT changing logical table state (same resolved rows,
 * same tombstones, same schema), writes and commits through the merges' step
 * (`LakeTable.writeAndCommit`), and preserves the epoch ledger — safe
 * between epochs.
 *
 * Why it exists: every merge-on-read epoch commits unresolved delta files,
 * so read-time fold fan-in grows with epoch count, not data size. (The
 * reference has no analogue — its sink is an external DB; these are the
 * lake-format maintenance ops that role requires.)
 *
 * The merge key comes from table metadata (Snapshot.keyCols), never from the
 * caller — folding on the wrong column would silently corrupt merge-time
 * file pruning.
 */
/** A delta fold's `_metrics` record (`op` = "fold"), next to the epochs'
  * [[graft.merge.MergeStats]] in [[LakeTable.metrics]]; also what
  * [[Compaction.foldDeltas]] returns. */
final case class FoldRecord(
    op: String,
    snapshotVersion: Long,
    filesBefore: Int,
    filesAfter: Int,
    rowsRewritten: Long,
    foldMs: Long,
    thread: String)

object FoldRecord {
  /** [[Compaction.foldDeltas]] on a table without deltas: nothing was
    * written, committed or recorded. */
  val NoDeltas: FoldRecord = FoldRecord("fold", -1L, 0, 0, 0L, 0L, "")
}

object Compaction {

  /** test hook: sleep between the fold's data write and its commit — lets
    * specs race ingest epochs against an in-flight out-of-band fold
    * deterministically (see MergeOptions.foldAsync) */
  @volatile private[graft] var testDelayBeforeFoldCommitMs: Long = 0L

  /** Output file count for a rewrite of `estRows` rows: target-sized files,
    * floored at 2x cluster parallelism while files stay above
    * `minRowsPerFile`. With few/large target files the sort+write would
    * otherwise run as 1-2 tasks and serialize the job; the 2x (two task
    * waves per stage) smooths per-task stragglers — a single-wave stage
    * finishes with its SLOWEST task, a real tail cost on shared nodes. */
  private[graft] def outputFiles(spark: SparkSession, estRows: Long,
      targetRowsPerFile: Long, minRowsPerFile: Long): Int = {
    val bySize = (estRows + targetRowsPerFile - 1) / targetRowsPerFile
    val byPar = math.min(2L * spark.sparkContext.defaultParallelism,
      estRows / minRowsPerFile)
    math.max(1L, math.max(bySize, byPar)).toInt
  }

  /**
   * Merge-on-read maintenance: fold ALL files (base + deltas) into a resolved
   * base — one max-lsn-wins pass with the same single-shuffle plan the merge
   * uses, keeping tombstones (a late lower-lsn insert must still lose).
   * Amortized via MergeOptions' ratio trigger: folding when deltas reach the
   * base's size bounds total write amplification at O(log) rewrites per row.
   *
   * `rangePlace`: range-partition the folded base for tight per-file key
   * bounds (the default — feeds CoW pruning and delta placement). Pass
   * false for a pure-MoR table, where no code path prunes on base bounds:
   * the hash exchange skips repartitionByRange's whole-input
   * boundary-sampling scan, folding in one pass over the data. Sparse tables always range-place.
   * The fold records the new base's key ranges in the snapshot
   * ([[Snapshot.baseRanges]]): merge-on-read epochs place their deltas by
   * a range-placed base's ranges ([[graft.merge.Placement]]), while a
   * hash-placed base records none and sends them to the hash exchange until
   * the next range fold.
   *
   * The fold is scoped: deltas fold only into the BASE files that the UNION
   * of the per-delta key intervals touches ([[KeyRanges]]), carrying the rest
   * of the base over by reference — a key-local delta burst (one hot tenant,
   * one backfilled range) rewrites O(intersecting base), never O(table), and
   * two concurrent bursts at OPPOSITE ends of the keyspace no longer widen
   * the scope to ~everything the way the earlier single [min,max] envelope
   * did (the multi-tenant write pattern that defeated r5's scoping). A base
   * file intersecting no delta interval on the first key column cannot
   * share any full key with a delta, so the untouched partition of the fold
   * is exact; the fallback to a full fold (any delta/base file with unknown
   * bounds) degrades to the old behavior, never to a wrong one. Tombstones
   * in carried-over base files are untouched (folding only re-resolves rows
   * that could conflict).
   *
   * Returns the fold's `_metrics` record ([[FoldRecord]]), or
   * [[FoldRecord.NoDeltas]] when there was nothing to fold.
   */
  def foldDeltas(
      spark: SparkSession,
      table: LakeTable,
      targetRowsPerFile: Long = 500000L,
      minRowsPerFile: Long = 10000L,
      rangePlace: Boolean = true): FoldRecord = {
    val t0 = System.nanoTime()
    LocalFs.install(spark)
    val snap = table.currentSnapshot
    val allFiles = table.files(snap)
    val (deltas, baseFiles) = allFiles.partition(_.delta)
    if (deltas.isEmpty) return FoldRecord.NoDeltas
    val (touchedBase, carriedBase) = baseFiles.partition(KeyRanges.covering(deltas).touches)
    val all = touchedBase ++ deltas
    val estRows = all.map(_.rows).sum
    val nOut = outputFiles(spark, estRows, targetRowsPerFile, minRowsPerFile)
    val written = table.writeAndCommit(snap, snap.schema,
      graft.merge.Resolve.resolveExchanged(
        spark.read.schema(snap.schema).parquet(all.map(_.path): _*),
        snap.keyCols, snap.sparse, nOut,
        if (rangePlace || snap.sparse) Placement.ByRange else Placement.ByHash),
      delta = false, all, None,
      beforeCommit = () => if (testDelayBeforeFoldCommitMs > 0)
        Thread.sleep(testDelayBeforeFoldCommitMs),
      baseRanges = added => Some(Placement.rangesOf(carriedBase ++ added)))
    val version = written.snapshot.version
    val fold = FoldRecord("fold", version, allFiles.size, carriedBase.size + written.files.size,
      estRows, (System.nanoTime() - t0) / 1000000L, Thread.currentThread.getName)
    table.writeMetrics(f"fold-$version%010d.json", fold)
    fold
  }

  /**
   * Retention: delete data files, manifests and snapshot entries that are
   * only reachable from snapshots older than the `retainVersions` most
   * recent. Time travel keeps working within the retention window; beyond
   * it, history is gone — the knob that keeps a 10^10-event table's storage
   * O(live data + window), not O(all data ever written).
   *
   * Also garbage-collects ORPHANS: manifests, snapshot temp files and
   * `data/v*-<nonce>` staging trees reachable from NO snapshot at all — the
   * litter of a writer that crashed mid-commit (a commit stages data, writes
   * its manifest, then atomically links the snapshot; a crash before the
   * link leaks the first two, and liveness-based retention alone would keep
   * them forever — unbounded storage leak on a long-lived table with
   * occasional failures). Orphans younger than `orphanMinAgeMs` are spared:
   * an IN-FLIGHT concurrent write's staged part files look exactly like
   * orphans until the snapshot lands, and their mtimes date from TASK WRITE
   * time, so the floor must exceed the longest plausible write JOB
   * end-to-end, not just the metadata commit. Default 24 h (the same order
   * as Iceberg's remove_orphan_files default) — pass a smaller value only
   * when no writer can be in flight.
   *
   * Orphan GC is strictly FAIL-SAFE: if liveness cannot be computed
   * completely (an unreadable snapshot or manifest), the orphan sweep is
   * skipped for this run rather than risking live data — see the inline
   * rule below. A skipped sweep writes a `"vacuum-sweep-skipped"`
   * [[graft.merge.MaintenanceFailure]] record to the table's `_metrics`.
   *
   * Safe by construction: the liveness set is computed from RETAINED
   * snapshots' manifests, so a file shared by old and new snapshots
   * survives. Single-writer assumption (same as commits).
   *
   * Returns (filesDeleted incl. orphans, snapshotsDeleted).
   */
  def vacuum(table: LakeTable, retainVersions: Int = 2,
      orphanMinAgeMs: Long = 24L * 3600 * 1000): (Int, Int) = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    import scala.util.control.NonFatal
    require(retainVersions >= 1, "must retain at least the current snapshot")
    val current = table.currentVersion
    val cutoff = current - retainVersions + 1

    // dirs whose contents THIS vacuum deleted: always collapsible once empty
    // (deleting a child bumps the parent's mtime, so an age check alone
    // would keep just-emptied dirs around as husks forever); dirs we did NOT
    // touch stay age-gated below — a concurrent writer's freshly created,
    // still-empty staging dir (mkdir before first file write) must survive.
    val touchedDirs = scala.collection.mutable.Set[java.nio.file.Path]()
    def markTouched(f: java.nio.file.Path): Unit = {
      val parent = f.toAbsolutePath.normalize().getParent
      if (parent != null) { touchedDirs += parent; () }
    }

    val (filesDeleted, snapsDeleted) = if (cutoff <= 0) (0, 0) else {
      // a retained-window version may itself be missing (an earlier vacuum ran
      // with a smaller window); a gone snapshot references nothing, so it
      // simply contributes no liveness
      val retained = (cutoff to current)
        .filter(v => Files.exists(table.snapPath(v)))
        .map(table.snapshot)
      val liveFiles = retained.flatMap(s => table.files(s).map(_.path)).toSet
      val liveManifests = retained.flatMap(_.manifests.map(_.name)).toSet

      // PLAN FULLY BEFORE DELETING ANYTHING: reading an old snapshot's files
      // must never race this vacuum's own manifest deletions (a mid-loop
      // interleave could crash on a just-deleted shared manifest and leave the
      // table permanently un-vacuumable). Snapshots that reference manifests a
      // PRIOR interrupted vacuum already removed are tolerated: their file
      // lists are simply unknown, which only means some orphans survive until
      // a later pass — never a wedge.
      val oldSnaps = (0L until cutoff).filter(v => Files.exists(table.snapPath(v)))
      val deadFiles = oldSnaps.flatMap { v =>
        try table.files(table.snapshot(v)).map(_.path)
        catch { case NonFatal(_) => Nil }
      }.toSet -- liveFiles
      val deadManifests = oldSnaps.flatMap { v =>
        try table.snapshot(v).manifests.map(_.name) catch { case NonFatal(_) => Nil }
      }.toSet -- liveManifests

      // deletion order: data files, then manifests, then snapshots — a crash
      // at any point leaves only orphans (re-collected next run), never a
      // retained snapshot with a missing manifest
      val fd = deadFiles.count { p =>
        val f = LocalFs.localPath(p)
        val deleted = Files.deleteIfExists(f)
        if (deleted) markTouched(f)
        deleted
      }
      deadManifests.foreach(m =>
        Files.deleteIfExists(table.manifestDir.resolve(m)))
      val sd = oldSnaps.count(v => Files.deleteIfExists(table.snapPath(v)))
      (fd, sd)
    }

    // --- orphan GC: crashed-commit litter referenced by NO snapshot --------
    // FAIL-SAFE RULE: liveness must be computed COMPLETELY or orphan GC must
    // not run at all. A snapshot that fails to load (format gate, transient
    // IO) or a manifest that fails to parse MUST NOT degrade to "references
    // nothing" — that would classify a live snapshot's entire data set as
    // orphans and destroy the table. The retention half above fails safe by
    // construction (an unreadable OLD snapshot only means fewer deletions);
    // this half deletes MORE on error, so any error aborts it (the orphans
    // just survive until a healthy pass).
    val now = System.currentTimeMillis()
    def oldEnough(p: java.nio.file.Path): Boolean =
      try now - Files.getLastModifiedTime(p).toMillis >= orphanMinAgeMs
      catch { case NonFatal(_) => false } // vanished mid-scan: not ours to GC
    def ls(p: java.nio.file.Path): List[java.nio.file.Path] =
      if (!Files.isDirectory(p)) Nil
      else { val s = Files.list(p); try s.iterator().asScala.toList finally s.close() }
    def canon(p: java.nio.file.Path): java.nio.file.Path =
      p.toAbsolutePath.normalize()
    val liveness: Option[(Set[String], Set[java.nio.file.Path])] =
      try {
        val survivors = table.availableVersions.map(table.snapshot)
        Some((survivors.flatMap(_.manifests.map(_.name)).toSet,
          // normalize BOTH sides of the path compare: manifest paths are
          // Hadoop-qualified absolutes, the walk below starts from the
          // caller-supplied table.dir, which may carry ./.. segments
          survivors.flatMap(s => table.files(s).map(f => canon(LocalFs.localPath(f.path)))).toSet))
      } catch {
        case NonFatal(e) =>
          System.err.println(
            s"[graft] vacuum: skipping orphan GC — liveness incomplete: $e")
          graft.merge.Maintenance.record(table, "vacuum-sweep-skipped", e)
          None
      }
    var orphans = 0
    liveness.foreach { case (liveManifestNames, liveDataPaths) =>
      ls(table.manifestDir).foreach { m =>
        if (!liveManifestNames(m.getFileName.toString) && oldEnough(m) &&
            Files.deleteIfExists(m)) orphans += 1
      }
      // crashed commit()s can leak .v*.json.tmp next to the snapshot log
      ls(table.snapDir).foreach { t =>
        if (t.getFileName.toString.endsWith(TableLog.SnapshotTmpSuffix) && oldEnough(t) &&
            Files.deleteIfExists(t)) orphans += 1
      }
      // RECURSIVE sweep of each staging dir: a crashed write job of an
      // earlier build (Spark's file committer) left a nested
      // `_temporary/<attempt>/...` tree inside its staging dir, which a
      // one-level scan would never collect — the staging dir then stays
      // non-empty forever (the unbounded-litter class this GC exists for).
      // Well-known job markers (_SUCCESS, which such builds also wrote, and
      // .crc sidecars) are exempt INSIDE directories that still hold live
      // data — external tools check them — but a dir with no live files at
      // all is pure litter, markers included.
      def isMarker(p: java.nio.file.Path): Boolean = {
        val n = p.getFileName.toString
        n == "_SUCCESS" || n.endsWith(".crc") || n.startsWith("._")
      }
      def walkFiles(p: java.nio.file.Path): List[java.nio.file.Path] =
        ls(p).flatMap(c =>
          if (Files.isDirectory(c)) walkFiles(c)
          else if (Files.isRegularFile(c)) List(c) else Nil)
      ls(table.dataDir).foreach { d =>
        val all = walkFiles(d)
        val hasLive = all.exists(f => liveDataPaths(canon(f)))
        all.foreach { f =>
          val keep = liveDataPaths(canon(f)) || (hasLive && isMarker(f))
          if (!keep && oldEnough(f) && Files.deleteIfExists(f)) {
            markTouched(f); orphans += 1
          }
        }
      }
    }

    // drop now-empty dirs under data/ (deepest-first so emptied nested
    // staging trees collapse in one pass; streams closed promptly). A dir is
    // dropped when empty AND either this vacuum emptied it (touchedDirs /
    // a child we just dropped — our own deletions bump its mtime, so the
    // age check cannot apply to those) OR it was already empty and older
    // than orphanMinAgeMs. An untouched YOUNG empty dir survives: it is a
    // concurrent writer's just-created staging dir (or the _temporary tree
    // between mkdir and first file write).
    val dataDir = table.dataDir
    def dropEmptyDirs(d: java.nio.file.Path): Boolean = {
      val childDropped = ls(d).map(c =>
        Files.isDirectory(c) && dropEmptyDirs(c)).exists(identity)
      if (d == dataDir) false
      else {
        val s = Files.list(d)
        val empty = try !s.iterator().hasNext finally s.close()
        val ours = childDropped || touchedDirs.contains(canon(d))
        empty && (ours || oldEnough(d)) && Files.deleteIfExists(d)
      }
    }
    if (Files.isDirectory(dataDir)) { dropEmptyDirs(dataDir); () }
    (filesDeleted + orphans, snapsDeleted)
  }
}
