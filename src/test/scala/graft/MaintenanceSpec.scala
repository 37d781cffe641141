package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.gen.{ChangelogGen, GenParams}
import graft.lake.{Compaction, KeyCodec, LakeTable}
import graft.merge.{Maintenance, MergeInto, MergeMode, MergeOptions}
import graft.model.Schemas
import graft.stream.{CdcIngestJob, IngestConfig}

/**
 * Maintenance at scale: key-range-scoped delta folds (a key-local burst must
 * never rewrite the whole base), out-of-band folds that don't stall ingest
 * epochs, vacuum cadence inside the streaming job, and the recursive orphan
 * sweep.
 */
class MaintenanceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val ts = Timestamp.valueOf("2025-01-01 00:00:00")

  private def batch(rows: Seq[(String, Long, String, String)]): DataFrame = {
    import spark.implicits._
    rows.map { case (op, lsn, k, text) =>
      (op, lsn, k, 0, "user", text, None: Option[String], ts)
    }.toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts")
  }

  private def textByKey(dir: String): Map[String, String] =
    LakeTable.load(dir).read(spark).collect()
      .map(r => r.getString(r.fieldIndex("conv_id")) ->
        r.getString(r.fieldIndex("text"))).toMap

  test("scoped fold: a key-local delta burst rewrites only intersecting base files") {
    val work = TestSpark.tmpDir("scoped-fold")
    val dir = s"$work/t"
    LakeTable.create(dir, Schemas.turn)
    val table = LakeTable.load(dir)
    // base spread over two far-apart key ranges, range-placed into many files
    val aKeys = (0 until 100).map(i => f"a$i%04d")
    val zKeys = (0 until 100).map(i => f"z$i%04d")
    MergeInto.merge(spark, table,
      batch((aKeys ++ zKeys).zipWithIndex.map { case (k, i) =>
        ("I", i.toLong, k, s"orig-$k")
      }),
      "sf", 0L, MergeOptions(targetRowsPerFile = 40L, minRowsPerFile = 1L))
    val base = table.currentFiles
    assert(base.forall(!_.delta) && base.size >= 4, s"setup: ${base.size} base files")

    // delta burst touching ONLY the z range
    MergeInto.merge(spark, table,
      batch(zKeys.zipWithIndex.map { case (k, i) =>
        ("U", 1000L + i, k, s"upd-$k")
      }),
      "sf", 1L, MergeOptions(mode = MergeMode.Mor, minRowsPerFile = 1L))
    val deltas = table.currentFiles.filter(_.delta)
    assert(deltas.nonEmpty && deltas.forall(f => f.minKey != null && f.maxKey != null))
    val lo = deltas.map(_.minKey).min(KeyCodec.ordering)
    val hi = deltas.map(_.maxKey).max(KeyCodec.ordering)
    val outside = base.filter(f =>
      KeyCodec.compare(f.maxKey, lo) < 0 || KeyCodec.compare(f.minKey, hi) > 0)
      .map(_.path).toSet
    val intersecting = base.map(_.path).toSet -- outside
    assert(outside.nonEmpty && intersecting.nonEmpty,
      s"setup must produce both carried and touched base files " +
        s"(outside=${outside.size}, touched=${intersecting.size})")

    val fold = Compaction.foldDeltas(spark, table)
    val after = table.currentFiles
    assert(after.forall(!_.delta), "fold must leave no deltas")
    // untouched base files carried over BY IDENTITY (never rewritten)
    assert(outside.subsetOf(after.map(_.path).toSet),
      "scoped fold rewrote base files outside the delta key envelope")
    // touched base files are gone (rewritten)
    assert(after.map(_.path).toSet.intersect(intersecting).isEmpty,
      "intersecting base files should have been folded away")
    assert(fold.snapshotVersion == table.currentVersion)
    assert(fold.rowsRewritten < base.map(_.rows).sum + deltas.map(_.rows).sum,
      "scoped fold should rewrite fewer rows than a full fold")
    // content parity: a-range untouched, z-range updated
    val got = textByKey(dir)
    assert(got.size == 200)
    aKeys.foreach(k => assert(got(k) == s"orig-$k", s"carried key $k"))
    zKeys.foreach(k => assert(got(k) == s"upd-$k", s"folded key $k"))
  }

  test("scoped fold: bursts at OPPOSITE keyspace ends carry the middle base") {
    val work = TestSpark.tmpDir("scoped-fold-union")
    val dir = s"$work/t"
    LakeTable.create(dir, Schemas.turn)
    val table = LakeTable.load(dir)
    // base over three far-apart ranges: a… / m… / z…
    val aKeys = (0 until 100).map(i => f"a$i%04d")
    val mKeys = (0 until 100).map(i => f"m$i%04d")
    val zKeys = (0 until 100).map(i => f"z$i%04d")
    MergeInto.merge(spark, table,
      batch((aKeys ++ mKeys ++ zKeys).zipWithIndex.map { case (k, i) =>
        ("I", i.toLong, k, s"orig-$k")
      }),
      "sfu", 0L, MergeOptions(targetRowsPerFile = 40L, minRowsPerFile = 1L))
    val base = table.currentFiles
    assert(base.forall(!_.delta) && base.size >= 6, s"setup: ${base.size} base files")
    // two delta bursts: the a range AND the z range — the old single-envelope
    // scope ([min over all deltas, max over all deltas]) covered m too and
    // degraded this exact pattern to a full-table fold
    MergeInto.merge(spark, table,
      batch(aKeys.zipWithIndex.map { case (k, i) => ("U", 1000L + i, k, s"upd-$k") }),
      "sfu", 1L, MergeOptions(mode = MergeMode.Mor, minRowsPerFile = 1L))
    MergeInto.merge(spark, table,
      batch(zKeys.zipWithIndex.map { case (k, i) => ("U", 2000L + i, k, s"upd-$k") }),
      "sfu", 2L, MergeOptions(mode = MergeMode.Mor, minRowsPerFile = 1L))
    // middle base files: strictly between the two burst ranges
    val deltas = table.currentFiles.filter(_.delta)
    assert(deltas.nonEmpty && deltas.forall(f => f.minKey != null && f.maxKey != null))
    val middle = base.filter(f => f.minKey > KeyCodec.encode(
      org.apache.spark.sql.types.StringType, "b") &&
      f.maxKey < KeyCodec.encode(org.apache.spark.sql.types.StringType, "y"))
      .map(_.path).toSet
    assert(middle.nonEmpty, "setup must produce middle base files")

    val fold = Compaction.foldDeltas(spark, table)
    val after = table.currentFiles
    assert(after.forall(!_.delta), "fold must leave no deltas")
    // the middle of the keyspace is OUTSIDE the union of the two burst
    // intervals: its base files must be carried over by identity
    assert(middle.subsetOf(after.map(_.path).toSet),
      "union-scoped fold rewrote base files between the two bursts")
    assert(fold.snapshotVersion == table.currentVersion)
    assert(fold.rowsRewritten < base.map(_.rows).sum + deltas.map(_.rows).sum,
      "union-scoped fold should rewrite fewer rows than a full fold")
    // content parity across all three ranges
    val got = textByKey(dir)
    assert(got.size == 300)
    aKeys.foreach(k => assert(got(k) == s"upd-$k", s"folded key $k"))
    mKeys.foreach(k => assert(got(k) == s"orig-$k", s"carried key $k"))
    zKeys.foreach(k => assert(got(k) == s"upd-$k", s"folded key $k"))
  }

  test("async fold: epochs commit while a fold is in flight; state stays exact") {
    val work = TestSpark.tmpDir("async-fold")
    val dir = s"$work/t"
    LakeTable.create(dir, Schemas.turn)
    val table = LakeTable.load(dir)
    val keys = (0 until 200).map(i => f"k$i%04d")
    val opts = MergeOptions(mode = MergeMode.Mor, minRowsPerFile = 1L,
      morCompactMaxDeltaFiles = 3, foldAsync = true)
    def epochBatch(e: Int): DataFrame =
      batch(keys.zipWithIndex.map { case (k, i) =>
        (if (e == 0) "I" else "U", e * 1000L + i, k, s"e$e-$k")
      })
    try {
      Compaction.testDelayBeforeFoldCommitMs = 5000L
      // epoch 0 writes > 3 delta files -> trigger fires -> fold queued, which
      // stalls 5 s before its commit
      MergeInto.merge(spark, table, epochBatch(0), "af", 0L, opts)
      val v0 = table.currentVersion
      val t0 = System.nanoTime()
      MergeInto.merge(spark, table, epochBatch(1), "af", 1L, opts)
      MergeInto.merge(spark, table, epochBatch(2), "af", 2L, opts)
      val epochsMs = (System.nanoTime() - t0) / 1000000L
      val v2 = table.currentVersion
      // the two epochs committed while the fold slept — out-of-band proven
      assert(v2 >= v0 + 2, s"epochs blocked behind the in-flight fold ($v0 -> $v2)")
      assert(epochsMs < 5000L,
        s"epochs waited on the fold commit (${epochsMs}ms >= fold delay)")
      Compaction.testDelayBeforeFoldCommitMs = 0L
      Maintenance.await()
      // the fold landed AFTER those epochs, via the disjoint rebase commit
      assert(table.currentVersion > v2, "fold never committed")
    } finally {
      Compaction.testDelayBeforeFoldCommitMs = 0L
      Maintenance.await()
    }
    // fold ran on the maintenance thread (recorded in its metrics line)
    val folds = LakeTable.load(dir).metrics(spark)
      .filter(col("op") === "fold").collect()
    assert(folds.nonEmpty, "no fold metrics written")
    assert(folds.exists(r =>
      r.getString(r.fieldIndex("thread")).contains("graft-maintenance")),
      s"fold ran inline: ${folds.map(_.getString(folds.head.fieldIndex("thread"))).toSeq}")
    // exactly-once ledger carries all epochs; content is the last epoch's
    assert(table.currentSnapshot.epochHwm("af") == 2L)
    val got = textByKey(dir)
    assert(got.size == keys.size)
    keys.foreach(k => assert(got(k) == s"e2-$k", s"key $k"))
  }

  test("vacuum cadence: long ingest stays within retention, state exact, replay no-ops") {
    val work = TestSpark.tmpDir("vacuum-cadence")
    val p = GenParams(nEvents = 8000, nConvs = 120, eventsPerFile = 1000,
      maxLateEvents = 300, turnsPerConv = 25)
    ChangelogGen.writeWal(spark, p, s"$work/wal")
    val cfg = IngestConfig(s"$work/wal", s"$work/table", s"$work/ckpt",
      maxFilesPerTrigger = Some(1),
      vacuumEveryEpochs = Some(2), vacuumRetainVersions = 2,
      vacuumOrphanMinAgeMs = 0L)
    CdcIngestJob.runAvailableNow(spark, cfg)
    Maintenance.await()
    val table = LakeTable.load(s"$work/table")
    val head = table.currentVersion
    assert(head >= 6, s"expected many epochs, saw version $head")
    // retention bound: the snapshot log is NOT O(epochs) — only the retained
    // window plus the epochs since the last async vacuum tick survive
    val avail = table.availableVersions
    assert(avail.size <= 6,
      s"snapshot log grew unbounded: ${avail.size} snapshots retained")
    // history beyond the floor raises the named retention error
    val ex = intercept[IllegalStateException](table.readAt(spark, avail.min - 1))
    assert(ex.getMessage.contains("vacuumed past the retention floor"))
    // state is still the fold oracle
    val oracle = ChangelogGen.foldOracle(p)
    val got = table.read(spark).collect().map(r =>
      (r.getString(r.fieldIndex("conv_id")), r.getInt(r.fieldIndex("turn_idx"))) ->
        r.getString(r.fieldIndex("text"))).toMap
    assert(got.size == oracle.size)
    oracle.foreach { case (k, v) => assert(got(k) == v.text, s"key $k") }
    // replay: re-running the same WAL against the same checkpoint no-ops
    CdcIngestJob.runAvailableNow(spark, cfg)
    Maintenance.await()
    assert(LakeTable.load(s"$work/table").read(spark).count() == oracle.size)
  }

  test("orphan sweep is recursive and spares markers in live dirs") {
    import java.nio.file.{Files, Paths}
    val work = TestSpark.tmpDir("orphan-recursive")
    val dir = s"$work/t"
    LakeTable.create(dir, Schemas.turn)
    val table = LakeTable.load(dir)
    MergeInto.merge(spark, table, batch(Seq(("I", 1L, "c1", "hello"))),
      "or", 0L, MergeOptions(mode = MergeMode.Mor))
    // a live data dir written by an earlier build (Spark's file committer)
    // carries a _SUCCESS marker
    val liveDir = {
      val f = table.currentFiles.head.path
      val p = if (f.startsWith("file:")) Paths.get(java.net.URI.create(f).getPath)
        else Paths.get(f)
      p.getParent
    }
    val marker = liveDir.resolve("_SUCCESS")
    if (!Files.exists(marker)) Files.write(marker, Array.empty[Byte])
    // a crashed write job's NESTED staging tree (the one-level sweep missed it)
    val staging = Paths.get(table.newDataDir(99L))
    val nested = staging.resolve("_temporary").resolve("0")
      .resolve("attempt_20250101_0000_m_000000_0")
    Files.createDirectories(nested)
    Files.write(nested.resolve("part-00000-dead.parquet"), Array[Byte](1, 2, 3))
    Files.write(staging.resolve("_SUCCESS"), Array.empty[Byte]) // no live files here

    val (deleted, _) = Compaction.vacuum(table, retainVersions = 100,
      orphanMinAgeMs = 0L)
    assert(deleted >= 2, s"nested orphans not collected (deleted=$deleted)")
    assert(!Files.exists(staging), "crashed staging tree must collapse entirely")
    assert(Files.exists(marker),
      "_SUCCESS in a LIVE data dir must survive the sweep")
    assert(table.read(spark).count() == 1)
  }

  test("a vacuum due while a fold is pending is queued behind it, not dropped") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    val table = LakeTable.create(TestSpark.tmpDir("fold-then-vacuum") + "/t", Schemas.turn)
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val folds, vacuums = new AtomicInteger
    try {
      Maintenance.submit(table, "fold") { () =>
        started.countDown()
        release.await(60, TimeUnit.SECONDS)
        folds.incrementAndGet(); ()
      }
      assert(started.await(60, TimeUnit.SECONDS), "the fold never started")
      // the same op while one is pending is absorbed; another op is queued
      Maintenance.submit(table, "fold") { () => folds.incrementAndGet(); () }
      Maintenance.submit(table, "vacuum") { () => vacuums.incrementAndGet(); () }
    } finally release.countDown()
    Maintenance.await()
    assert(folds.get == 1 && vacuums.get == 1, s"folds ${folds.get}, vacuums ${vacuums.get}")
  }

  test("a failed out-of-band fold is recorded in _metrics") {
    import java.nio.file.Files
    val dir = TestSpark.tmpDir("fold-fails") + "/t"
    val table = LakeTable.create(dir, Schemas.turn)
    val opts = MergeOptions(mode = MergeMode.Mor, minRowsPerFile = 1L,
      morCompactMaxDeltaFiles = 1, foldAsync = true)
    MergeInto.merge(spark, table, batch(Seq(("I", 1L, "c1", "a"))), "ff", 0L, opts)
    Maintenance.await()
    assert(table.currentFiles.size == 1, "setup: one delta, no fold yet")
    // lose the first epoch's file: the fold the next epoch triggers cannot read it
    table.currentFiles.foreach(f => Files.delete(graft.lake.LocalFs.localPath(f.path)))
    val t0 = System.currentTimeMillis()
    MergeInto.merge(spark, table, batch(Seq(("U", 2L, "c2", "b"))), "ff", 1L, opts)
    Maintenance.await()
    assert(table.currentFiles.count(_.delta) == 2, "the failed fold committed")
    val failed = table.metrics(spark).filter(col("op") === "fold-failed").collect()
    assert(failed.length == 1, failed.mkString("; "))
    val r = failed.head
    def s(c: String): String = r.getString(r.fieldIndex(c))
    assert(s("errorClass").nonEmpty && s("message").nonEmpty)
    assert(s("thread") == "graft-maintenance")
    val at = r.getLong(r.fieldIndex("timeMs"))
    assert(at >= t0 && at <= System.currentTimeMillis())
    // epoch records are unchanged: two, neither carrying an op
    assert(table.metrics(spark).filter(col("op").isNull).count() == 2)
  }

  test("a vacuum that skips its orphan sweep records it in _metrics") {
    import java.nio.file.{Files, Paths}
    val dir = TestSpark.tmpDir("sweep-skipped") + "/t"
    val table = LakeTable.create(dir, Schemas.turn)
    MergeInto.merge(spark, table, batch(Seq(("I", 1L, "c1", "a"))), "ss", 0L,
      MergeOptions(mode = MergeMode.Mor))
    // truncate the live manifest: liveness can no longer be computed
    val manifest = Paths.get(dir, "_manifests", table.currentSnapshot.manifests.head.name)
    val raw = Files.readAllBytes(manifest)
    Files.write(manifest, raw.take(raw.length / 2))
    graft.lake.TableLog.clearManifestCacheForTest()
    val t0 = System.currentTimeMillis()
    val (deleted, snaps) = Compaction.vacuum(table, retainVersions = 100, orphanMinAgeMs = 0L)
    assert(deleted == 0 && snaps == 0, s"deleted $deleted files, $snaps snapshots")
    val skipped = table.metrics(spark).filter(col("op") === "vacuum-sweep-skipped").collect()
    assert(skipped.length == 1, skipped.mkString("; "))
    val r = skipped.head
    def s(c: String): String = r.getString(r.fieldIndex(c))
    assert(s("errorClass").nonEmpty && s("message").nonEmpty)
    assert(s("thread") == Thread.currentThread.getName)
    val at = r.getLong(r.fieldIndex("timeMs"))
    assert(at >= t0 && at <= System.currentTimeMillis())
  }
}
