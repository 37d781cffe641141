package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.{ChangelogGen, GenParams}
import graft.lake.{Compaction, FoldRecord, LakeTable, TableLog}
import graft.merge.{MergeInto, MergeMode, MergeOptions}
import graft.model.Schemas
import org.apache.spark.sql.functions._

/** Delta folds and vacuum change the file layout, never the logical table state. */
class CompactionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("compaction: fewer files, identical state, ledger preserved") {
    val work = TestSpark.tmpDir("compaction")
    val p = GenParams(nEvents = 20000, nConvs = 150, eventsPerFile = 2000,
      maxLateEvents = 300)
    val table = LakeTable.create(s"$work/t", Schemas.turn)
    val ev = ChangelogGen.events(spark, p).toDF("wal_file", "ev")
      .select(col("wal_file"), col("ev.*")).cache()
    // many tiny copy-on-write epochs with tiny target files => fragmented
    // layout, each epoch superseding the files it rewrote; then one
    // merge-on-read epoch whose deltas span the keyspace
    val fragOpts = MergeOptions(targetRowsPerFile = 500L, minRowsPerFile = 1L)
    val morOpts = fragOpts.copy(mode = MergeMode.Mor, morCompactDeltaRatio = 1e9,
      morCompactMaxDeltaFiles = Int.MaxValue)
    (0 until 10).foreach { e =>
      MergeInto.merge(spark, table,
        ev.filter(pmod(col("wal_file"), lit(10)) === e).drop("wal_file"),
        "cmp", e.toLong, if (e < 9) fragOpts else morOpts)
    }
    ev.unpersist()
    assert(table.currentFiles.exists(_.delta))

    def state(): Seq[Seq[Any]] = {
      val df = table.read(spark)
      val cols = df.columns.sorted
      df.selectExpr(cols: _*).collect().toSeq.map((r: Row) => r.toSeq)
        .sortBy(_.mkString("|"))
    }

    val before = state()
    val filesBefore = table.currentFiles.size
    val epochsBefore = table.currentSnapshot.epochHwm

    val fold = Compaction.foldDeltas(spark, table, targetRowsPerFile = 50000L)
    assert(fold.filesAfter < fold.filesBefore,
      s"expected fewer files: ${fold.filesBefore} -> ${fold.filesAfter}")
    assert(table.currentFiles.size < filesBefore)
    assert(fold.filesAfter == table.currentFiles.size && fold.snapshotVersion == table.currentVersion)
    // the returned record is the one the fold wrote to `_metrics`; a table
    // without deltas folds nothing and records nothing
    def folds = table.metrics(spark).where(col("op") === "fold").collect()
      .map(r => (r.getAs[Long]("snapshotVersion"), r.getAs[Long]("filesBefore"),
        r.getAs[Long]("filesAfter"), r.getAs[Long]("rowsRewritten"))).toSeq
    val recorded = Seq((fold.snapshotVersion, fold.filesBefore.toLong, fold.filesAfter.toLong,
      fold.rowsRewritten))
    assert(folds == recorded)
    assert(Compaction.foldDeltas(spark, table) == FoldRecord.NoDeltas)
    assert(folds == recorded && fold.snapshotVersion == table.currentVersion)

    // logical state is bit-for-bit unchanged
    assert(state() == before, "compaction must not change table contents")
    // exactly-once ledger survives (replays still no-op after compaction)
    assert(table.currentSnapshot.epochHwm == epochsBefore)
    // vacuum: retain 2 versions -> older snapshots + orphaned files go,
    // current state and recent time travel survive
    val before2 = state()
    val vCur = table.currentVersion
    val liveCount = table.currentFiles.size
    val (filesGone, snapsGone) = Compaction.vacuum(table, retainVersions = 2)
    assert(snapsGone > 0, "expected old snapshots removed")
    assert(filesGone > 0, "expected orphaned data files removed")
    assert(state() == before2, "vacuum must not change current contents")
    assert(table.currentFiles.size == liveCount)
    assert(table.readAt(spark, vCur - 1).count() >= 0) // retained version reads
    // history beyond the window fails with a CLEAR retention error (never a
    // raw NoSuchFileException or a mid-scan FNF)
    val exv = intercept[IllegalStateException](table.readAt(spark, 0L))
    assert(exv.getMessage.contains("vacuumed past the retention floor"),
      exv.getMessage)
    // live data files all still exist on disk
    table.currentFiles.foreach { f =>
      val p = if (f.path.startsWith("file:"))
        java.nio.file.Paths.get(java.net.URI.create(f.path).getPath)
      else java.nio.file.Paths.get(f.path)
      assert(java.nio.file.Files.exists(p), s"live file deleted: ${f.path}")
    }

    val replay = MergeInto.merge(spark, table,
      table.read(spark).limit(0).withColumn("op", lit("I")).withColumn("lsn", lit(0L)),
      "cmp", 3L)
    assert(replay.noop, "epoch replay after compaction must remain a no-op")

    // merges still work after compaction (bounds stayed tight)
    val extra = ChangelogGen.events(spark, p.copy(nEvents = p.nEvents + 500))
      .toDF("wal_file", "ev").select(col("ev.*"))
      .filter(col("lsn") >= p.nEvents)
    val st = MergeInto.merge(spark, table, extra, "cmp", 99L)
    assert(!st.noop && st.batchRows > 0)
  }

  test("orphan GC is fail-safe: an unreadable snapshot aborts the sweep, data survives") {
    // The dangerous failure mode: if a snapshot cannot be loaded (old
    // formatVersion, transient IO), liveness MUST NOT degrade to
    // "references nothing" — that would classify the live table as orphans.
    // The sweep must skip instead; the litter just waits for a healthy pass.
    import java.nio.file.{Files, Paths}
    import java.sql.Timestamp
    import spark.implicits._
    val work = TestSpark.tmpDir("orphan-failsafe")
    val table = LakeTable.create(s"$work/t", Schemas.turn)
    MergeInto.merge(spark, table,
      Seq(("I", 1L, "c1", 0, "user", "hello", None: Option[String],
        Timestamp.valueOf("2025-01-01 00:00:00")))
        .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts"),
      "fs", 0L, MergeOptions(mode = graft.merge.MergeMode.Mor))
    val liveFiles = table.currentFiles.map(_.path)
    // un-stamp ONE snapshot so loading it fails loudly
    val p0 = Paths.get(s"$work/t/_snapshots", f"v${0L}%020d.json")
    val raw = new String(Files.readAllBytes(p0), "UTF-8")
    Files.write(p0,
      raw.replace(s""""formatVersion":${TableLog.FormatVersion},""", "")
        .replace(s""","formatVersion":${TableLog.FormatVersion}""", "")
        .getBytes("UTF-8"))
    // plant an aged orphan that a healthy sweep WOULD collect
    val orphan = Paths.get(s"$work/t/_manifests/m999-dead.json")
    Files.write(orphan, "[]".getBytes("UTF-8"))
    val (deleted, snaps) = Compaction.vacuum(table, retainVersions = 100,
      orphanMinAgeMs = 0L)
    assert(deleted == 0 && snaps == 0,
      s"fail-safe violated: deleted $deleted files, $snaps snapshots")
    assert(Files.exists(orphan), "sweep should have been skipped entirely")
    liveFiles.foreach { f =>
      val p = if (f.startsWith("file:"))
        Paths.get(java.net.URI.create(f).getPath) else Paths.get(f)
      assert(Files.exists(p), s"live data deleted under incomplete liveness: $f")
    }
    // with the snapshot's original bytes back, the same sweep collects the
    // orphan and spares the data
    Files.write(p0, raw.getBytes("UTF-8"))
    val (d2, _) = Compaction.vacuum(table, retainVersions = 100, orphanMinAgeMs = 0L)
    assert(d2 >= 1 && !Files.exists(orphan))
    assert(table.read(spark).count() == 1)
  }

  test("vacuum collects crashed-commit orphans; young in-flight files survive") {
    import java.nio.file.{Files, Paths}
    import java.sql.Timestamp
    import spark.implicits._
    val work = TestSpark.tmpDir("orphan-gc")
    val table = LakeTable.create(s"$work/t", Schemas.turn)
    MergeInto.merge(spark, table,
      Seq(("I", 1L, "c1", 0, "user", "hello", None: Option[String],
        Timestamp.valueOf("2025-01-01 00:00:00")))
        .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts"),
      "gc", 0L, MergeOptions(mode = graft.merge.MergeMode.Mor))
    val stateBefore = table.read(spark).collect().map(_.toSeq).toSet
    val ledgerBefore = table.currentSnapshot.epochHwm
    val liveFilesBefore = table.currentFiles.map(_.path).toSet

    // plant a CRASHED commit attempt: staged data + written manifest +
    // snapshot tmp, but no snapshot link (the writer died before commit())
    val staging = Paths.get(table.newDataDir(99L))
    Files.createDirectories(staging)
    Files.write(staging.resolve("part-00000-dead.parquet"), Array[Byte](1, 2, 3))
    val orphanManifest = Paths.get(s"$work/t/_manifests/m99-deadbeef.json")
    Files.write(orphanManifest, "[]".getBytes("UTF-8"))
    val orphanTmp = Paths.get(s"$work/t/_snapshots/.v99-deadbeef.json.tmp")
    Files.write(orphanTmp, "{}".getBytes("UTF-8"))

    // a YOUNG orphan (in-flight writer) must survive the default age floor
    val (del1, _) = Compaction.vacuum(table, retainVersions = 100)
    assert(del1 == 0, s"young orphans must be spared, deleted $del1")
    assert(Files.exists(orphanManifest) && Files.exists(orphanTmp))

    // aged past the floor -> collected (age floor 0 simulates elapsed time)
    val (del2, snaps2) = Compaction.vacuum(table, retainVersions = 100,
      orphanMinAgeMs = 0L)
    assert(snaps2 == 0, "no snapshots should be retired")
    // >= 3: the planted trio, plus any _SUCCESS markers (unreferenced by
    // manifests, so legitimately swept)
    assert(del2 >= 3, s"expected >=3 orphans collected, got $del2")
    assert(!Files.exists(orphanManifest) && !Files.exists(orphanTmp))
    assert(!Files.exists(staging), "empty staging dir should be dropped")

    // table state, live files and the exactly-once ledger are untouched
    assert(table.read(spark).collect().map(_.toSeq).toSet == stateBefore)
    assert(table.currentSnapshot.epochHwm == ledgerBefore)
    assert(table.currentFiles.map(_.path).toSet == liveFilesBefore)
    table.currentFiles.foreach { f =>
      val p = if (f.path.startsWith("file:"))
        Paths.get(java.net.URI.create(f.path).getPath) else Paths.get(f.path)
      assert(Files.exists(p), s"live file deleted: ${f.path}")
    }
    // replay still no-ops (ledger intact)
    assert(MergeInto.merge(spark, table,
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        org.apache.spark.sql.types.StructType(Seq())).limit(0)
        .select(), "gc", 0L, MergeOptions(mode = graft.merge.MergeMode.Mor))
      .noop)
  }
}
