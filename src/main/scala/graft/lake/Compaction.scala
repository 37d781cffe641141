package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Table maintenance: small-file compaction and merge-on-read delta folding.
 * Both rewrite data WITHOUT changing logical table state (same resolved rows,
 * same tombstones, same schema), commit through the same atomic snapshot
 * rename as merges, and preserve the epoch ledger — safe between epochs.
 *
 * Why they exist: every streaming epoch commits at least one file per touched
 * key range, so a long-running ingest accumulates many small files (CoW) or
 * unresolved delta files (MoR); scan cost and read-time fold fan-in then grow
 * with epoch count, not data size. (The reference has no analogue — its sink
 * is an external DB; these are the lake-format maintenance ops that role
 * requires.)
 *
 * The merge key comes from table metadata (Snapshot.keyCols), never from the
 * caller — compacting on the wrong column would silently corrupt merge-time
 * file pruning.
 */
object CompactionStats {
  val empty: CompactionStats = CompactionStats(0, 0, 0, 0)
}
final case class CompactionStats(
    filesBefore: Int,
    filesAfter: Int,
    rowsRewritten: Long,
    wallMs: Long)

object Compaction {

  /** test hook: sleep between the fold's data write and its commit — lets
    * specs race ingest epochs against an in-flight out-of-band fold
    * deterministically (see MergeOptions.foldAsync) */
  @volatile private[graft] var testDelayBeforeFoldCommitMs: Long = 0L

  /** Parquet encoding of every file the engine writes (merge deltas, CoW
    * rewrites, compaction, folds): lz4 WITHOUT dictionary encoding, from
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

  /** Write `df` to `outDir` in the encoding above. */
  private[graft] def writeParquet(df: DataFrame, outDir: String): Unit =
    df.write.mode("overwrite")
      .option("compression", WriteCodec)
      .option("parquet.enable.dictionary", WriteDictionary.toString)
      .parquet(outDir)

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
   * Rewrite all files smaller than `smallFileRows` (plus nothing else) into
   * target-sized files. Files already at/above the threshold are carried over
   * untouched — compaction cost is proportional to the small-file tail, not
   * table size. Delta files are excluded (folding them changes row sets —
   * that's `foldDeltas`' job).
   */
  def compact(
      spark: SparkSession,
      table: LakeTable,
      targetRowsPerFile: Long = 500000L,
      smallFileRows: Long = 250000L): CompactionStats = {
    val t0 = System.nanoTime()
    LocalFs.install(spark)
    val snap = table.currentSnapshot
    val keyCols = snap.keyCols
    val all = table.files(snap)
    val (small, _) = all.partition(f => !f.delta && f.rows < smallFileRows)
    if (small.size <= 1) return CompactionStats.empty

    val schema = snap.schema
    val rows = small.map(_.rows).sum
    val nOut = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    val newVersion = snap.version + 1
    val outDir = table.newDataDir(newVersion)

    writeParquet(spark.read.schema(schema).parquet(small.map(_.path): _*)
      .repartitionByRange(nOut, keyCols.map(col): _*)
      .sortWithinPartitions((keyCols.map(col) :+ col(LakeTable.LsnCol)): _*),
      outDir)

    val newFiles = writtenStats(spark, table, outDir, newVersion, delta = false)
    table.commitChange(snap, snap.schemaJson, small.map(_.path).toSet, newFiles, None)
    CompactionStats(all.size, all.size - small.size + newFiles.size, rows,
      (System.nanoTime() - t0) / 1000000L)
  }

  /**
   * Merge-on-read maintenance: fold ALL files (base + deltas) into a resolved
   * base — one max-lsn-wins pass with the same single-shuffle plan the merge
   * uses, keeping tombstones (a late lower-lsn insert must still lose).
   * Amortized via MergeOptions' ratio trigger: folding when deltas reach the
   * base's size bounds total write amplification at O(log) rewrites per row.
   */
  /** `rangePlace`: range-partition the folded base for tight per-file key
    * bounds (the default — feeds CoW pruning and compact). Pass false for a
    * pure-MoR table, where no code path prunes on base bounds: the hash
    * exchange skips repartitionByRange's whole-input boundary-sampling scan,
    * folding in one pass over the data.
    *
    * The fold is scoped: deltas fold only into the BASE files whose key
    * range intersects the UNION of the per-delta key intervals (sorted and
    * merged, membership by binary search), carrying the rest of the base
    * over by reference — a key-local delta burst (one hot tenant, one
    * backfilled range) rewrites O(intersecting base), never O(table), and
    * two concurrent bursts at OPPOSITE ends of the keyspace no longer widen
    * the scope to ~everything the way the earlier single [min,max] envelope
    * did (the multi-tenant write pattern that defeated r5's scoping). A base
    * file intersecting no delta interval on the first key column cannot
    * share any full key with a delta, so the untouched partition of the fold
    * is exact; the fallback to a full fold (any delta/base file with unknown
    * bounds) degrades to the old behavior, never to a wrong one. Tombstones
    * in carried-over base files are untouched (folding only re-resolves rows
    * that could conflict). */
  def foldDeltas(
      spark: SparkSession,
      table: LakeTable,
      targetRowsPerFile: Long = 500000L,
      minRowsPerFile: Long = 10000L,
      rangePlace: Boolean = true): CompactionStats = {
    val t0 = System.nanoTime()
    LocalFs.install(spark)
    val snap = table.currentSnapshot
    val allFiles = table.files(snap)
    val deltas = allFiles.filter(_.delta)
    if (deltas.isEmpty) return CompactionStats.empty
    val baseFiles = allFiles.filterNot(_.delta)
    val deltaBoundsKnown = deltas.forall(f => f.minKey != null && f.maxKey != null)
    val (touchedBase, carriedBase) =
      if (!deltaBoundsKnown) (baseFiles, Nil)
      else {
        // union of per-delta intervals: sort by lo, merge overlaps — after
        // the merge the intervals are disjoint and both endpoints are
        // strictly increasing, so base-file intersection is a binary search
        val sortedIv = deltas.map(f => (f.minKey, f.maxKey))
          .sortWith((x, y) => KeyCodec.compare(x._1, y._1) < 0)
        val merged = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        sortedIv.foreach { case (lo, hi) =>
          merged.lastOption match {
            case Some((plo, phi)) if KeyCodec.compare(lo, phi) <= 0 =>
              if (KeyCodec.compare(hi, phi) > 0) merged(merged.size - 1) = (plo, hi)
            case _ => merged += ((lo, hi))
          }
        }
        def intersectsAny(f: DataFile): Boolean =
          f.minKey == null || f.maxKey == null || {
            // first interval whose hi >= f.minKey; intersects iff lo <= f.maxKey
            var l = 0; var r = merged.length
            while (l < r) {
              val m = (l + r) >>> 1
              if (KeyCodec.compare(merged(m)._2, f.minKey) < 0) l = m + 1 else r = m
            }
            l < merged.length && KeyCodec.compare(merged(l)._1, f.maxKey) <= 0
          }
        baseFiles.partition(intersectsAny)
      }
    val all = touchedBase ++ deltas
    val schema = snap.schema
    val estRows = all.map(_.rows).sum
    val nOut = outputFiles(spark, estRows, targetRowsPerFile, minRowsPerFile)
    val newVersion = snap.version + 1
    val outDir = table.newDataDir(newVersion)

    val raw = spark.read.schema(schema).parquet(all.map(_.path): _*)
    val folded =
      if (snap.sparse)
        graft.merge.MergeInto.resolveSparse(
          raw.repartitionByRange(nOut, snap.keyCols.map(col): _*), snap.keyCols,
          schema.fieldNames.toSeq.filterNot(c =>
            LakeTable.MetaCols.contains(c) || snap.keyCols.contains(c)))
      else if (rangePlace)
        graft.merge.MergeInto.resolveSortDedup(raw, snap.keyCols, nOut)
      else
        graft.merge.MergeInto.resolveHashDedup(raw, snap.keyCols, nOut)
    writeParquet(folded, outDir)

    val newFiles = writtenStats(spark, table, outDir, newVersion, delta = false)
    if (testDelayBeforeFoldCommitMs > 0) Thread.sleep(testDelayBeforeFoldCommitMs)
    // removed-key envelope lets the commit skip parsing manifests that cannot
    // contain a removed path (same contract as the merge's CoW commit)
    val committed = table.commitChange(snap, snap.schemaJson,
      all.map(_.path).toSet, newFiles, None,
      removedBounds = LakeTable.keyEnvelope(all))
    val stats = CompactionStats(allFiles.size,
      carriedBase.size + newFiles.size, estRows,
      (System.nanoTime() - t0) / 1000000L)
    logFold(table, committed.version, stats)
    stats
  }

  /** one JSON line per fold into _metrics (same observability surface as
    * MergeStats — `table.metrics` shows merge and maintenance cost together) */
  private def logFold(table: LakeTable, version: Long, s: CompactionStats): Unit = {
    val dir = java.nio.file.Paths.get(table.dir, "_metrics")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve(f"fold-$version%010d.json"),
      (s"""{"op":"fold","snapshotVersion":$version,"filesBefore":${s.filesBefore},""" +
        s""""filesAfter":${s.filesAfter},"rowsRewritten":${s.rowsRewritten},""" +
        s""""foldMs":${s.wallMs},"thread":"${Thread.currentThread.getName}"}""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
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
   * time (the committer's rename preserves them), so the floor must exceed
   * the longest plausible write JOB end-to-end, not just the metadata
   * commit. Default 24 h (the same order as Iceberg's remove_orphan_files
   * default) — pass a smaller value only when no writer can be in flight.
   *
   * Orphan GC is strictly FAIL-SAFE: if liveness cannot be computed
   * completely (an unreadable snapshot or manifest), the orphan sweep is
   * skipped for this run rather than risking live data — see the inline
   * rule below.
   *
   * Safe by construction: the liveness set is computed from RETAINED
   * snapshots' manifests, so a file shared by old and new snapshots
   * survives. Single-writer assumption (same as commits).
   *
   * Returns (filesDeleted incl. orphans, snapshotsDeleted).
   */
  def vacuum(table: LakeTable, retainVersions: Int = 2,
      orphanMinAgeMs: Long = 24L * 3600 * 1000): (Int, Int) = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import scala.util.control.NonFatal
    require(retainVersions >= 1, "must retain at least the current snapshot")
    val current = table.currentVersion
    val cutoff = current - retainVersions + 1

    def local(p: String) =
      if (p.startsWith("file:")) Paths.get(java.net.URI.create(p).getPath)
      else Paths.get(p)

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
        .filter(v => Files.exists(Paths.get(table.dir, "_snapshots", f"v$v%020d.json")))
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
      val oldSnaps = (0L until cutoff).filter(v =>
        Files.exists(Paths.get(table.dir, "_snapshots", f"v$v%020d.json")))
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
        val f = local(p)
        val deleted = Files.deleteIfExists(f)
        if (deleted) markTouched(f)
        deleted
      }
      deadManifests.foreach(m =>
        Files.deleteIfExists(Paths.get(table.dir, "_manifests", m)))
      val sd = oldSnaps.count(v =>
        Files.deleteIfExists(Paths.get(table.dir, "_snapshots", f"v$v%020d.json")))
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
          survivors.flatMap(s => table.files(s).map(f => canon(local(f.path)))).toSet))
      } catch {
        case NonFatal(e) =>
          System.err.println(
            s"[graft] vacuum: skipping orphan GC — liveness incomplete: $e")
          None
      }
    var orphans = 0
    liveness.foreach { case (liveManifestNames, liveDataPaths) =>
      ls(Paths.get(table.dir, "_manifests")).foreach { m =>
        if (!liveManifestNames(m.getFileName.toString) && oldEnough(m) &&
            Files.deleteIfExists(m)) orphans += 1
      }
      // crashed commit()s can leak .v*.json.tmp next to the snapshot log
      ls(Paths.get(table.dir, "_snapshots")).foreach { t =>
        if (t.getFileName.toString.endsWith(".tmp") && oldEnough(t) &&
            Files.deleteIfExists(t)) orphans += 1
      }
      // RECURSIVE sweep of each data/v* dir: a crashed write job leaves a
      // nested `_temporary/<attempt>/...` tree inside its staging dir, which
      // a one-level scan would never collect — the staging dir then stays
      // non-empty forever (the unbounded-litter class this GC exists for).
      // Well-known job markers (_SUCCESS, .crc sidecars) are exempt INSIDE
      // directories that still hold live data — external tools check them —
      // but a dir with no live files at all is pure litter, markers included.
      def isMarker(p: java.nio.file.Path): Boolean = {
        val n = p.getFileName.toString
        n == "_SUCCESS" || n.endsWith(".crc") || n.startsWith("._")
      }
      def walkFiles(p: java.nio.file.Path): List[java.nio.file.Path] =
        ls(p).flatMap(c =>
          if (Files.isDirectory(c)) walkFiles(c)
          else if (Files.isRegularFile(c)) List(c) else Nil)
      ls(Paths.get(table.dir, "data")).foreach { d =>
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
    val dataDir = Paths.get(table.dir, "data")
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

  private def writtenStats(spark: SparkSession, table: LakeTable, outDir: String,
      version: Long, delta: Boolean): List[DataFile] = {
    val snap = table.currentSnapshot
    val k1 = snap.keyCols.head
    val k1Type = snap.schema(k1).dataType
    graft.merge.FileStats.fromFooters(spark, outDir, k1, k1Type, version, delta)
      .getOrElse(graft.merge.FileStats.fromScan(spark, outDir, snap.schema, k1,
        version, delta))
  }
}
