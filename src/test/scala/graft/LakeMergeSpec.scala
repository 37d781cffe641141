package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.{ChangelogGen, GenParams}
import graft.lake.{KeyCodec, LakeTable, SchemaMerge, TableLog}
import graft.merge.{MergeInto, MergeMode, MergeOptions, Resolve, ResolveStrategy}
import graft.model.Schemas

class LakeMergeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val p = GenParams(nEvents = 10000, nConvs = 100, eventsPerFile = 1000,
    turnsPerConv = 30)

  /** Collect the table's payload rows as comparable tuples keyed by (conv, turn). */
  private def tableState(t: LakeTable): Map[(String, Int), (String, String, Option[String], Timestamp, Option[String])] =
    t.read(spark).collect().map { r =>
      (r.getString(r.fieldIndex("conv_id")), r.getInt(r.fieldIndex("turn_idx"))) ->
        ((r.getString(r.fieldIndex("role")), r.getString(r.fieldIndex("text")),
          Option(r.getString(r.fieldIndex("tool"))), r.getTimestamp(r.fieldIndex("ts")),
          if (r.schema.fieldNames.contains("tool_meta"))
            Option(r.getString(r.fieldIndex("tool_meta"))) else None))
    }.toMap

  private def oracleState(p: GenParams) =
    ChangelogGen.foldOracle(p).map { case (k, e) =>
      k -> ((e.role, e.text, e.tool, e.ts, e.tool_meta))
    }

  test("epoch-by-epoch merge reproduces the sequential fold oracle [SortDedup]") {
    val dir = TestSpark.tmpDir("lake-fold")
    val table = LakeTable.create(s"$dir/t", Schemas.turn)
    val ev = ChangelogGen.events(spark, p)
      .map { case (f, e) => (f, e.op, e.lsn, e.conv_id, e.turn_idx, e.role, e.text,
        e.tool, e.ts, e.tool_meta) }
      .toDF("wal_file", "op", "lsn", "conv_id", "turn_idx", "role", "text",
        "tool", "ts", "tool_meta")
      .cache()
    try {
      (0 until p.nFiles).foreach { f =>
        val batch = ev.filter($"wal_file" === f).drop("wal_file")
        val stats = MergeInto.merge(spark, table, batch, "ck1", f.toLong,
          MergeOptions(targetRowsPerFile = 2000))
        assert(!stats.noop)
      }
      val got = tableState(table)
      val want = oracleState(p)
      assert(got.size == want.size,
        s"row count: got ${got.size}, want ${want.size}")
      want.foreach { case (k, w) =>
        assert(got.contains(k), s"missing key $k")
        assert(got(k) == w, s"key $k: got ${got(k)}, want $w")
      }
    } finally ev.unpersist()
  }

  test("replayed epoch is a no-op (exactly-once ledger)") {
    val dir = TestSpark.tmpDir("lake-idem")
    val table = LakeTable.create(s"$dir/t", Schemas.turn)
    val batch = Seq(
      ("I", 1L, "c1", 0, "user", "hello", None: Option[String],
        Timestamp.valueOf("2025-01-01 00:00:00")),
      ("I", 2L, "c1", 1, "assistant", "hi", None: Option[String],
        Timestamp.valueOf("2025-01-01 00:00:01")))
      .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    val s1 = MergeInto.merge(spark, table, batch, "ck", 0L)
    assert(!s1.noop && s1.outputRows == 2)
    val v1 = table.currentVersion
    val s2 = MergeInto.merge(spark, table, batch, "ck", 0L)
    assert(s2.noop)
    assert(table.currentVersion == v1, "replayed epoch must not create a snapshot")
    assert(tableState(table).size == 2)
  }

  test("tombstone: delete wins over a later-arriving lower-lsn insert") {
    val dir = TestSpark.tmpDir("lake-tomb")
    val table = LakeTable.create(s"$dir/t", Schemas.turn)
    val del = Seq(("D", 10L, "c1", 0, null: String, null: String,
      None: Option[String], null: Timestamp))
      .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    val ins = Seq(("I", 5L, "c1", 0, "user", "stale", None: Option[String],
      Timestamp.valueOf("2025-01-01 00:00:00")))
      .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    MergeInto.merge(spark, table, del, "ck", 0L)
    MergeInto.merge(spark, table, ins, "ck", 1L)
    assert(table.read(spark).count() == 0,
      "lower-lsn insert must not resurrect a deleted key")
    // but a HIGHER-lsn insert re-creates the key
    val ins2 = Seq(("I", 11L, "c1", 0, "user", "fresh", None: Option[String],
      Timestamp.valueOf("2025-01-01 00:00:00")))
      .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    MergeInto.merge(spark, table, ins2, "ck", 2L)
    val rows = table.read(spark).collect()
    assert(rows.length == 1 && rows(0).getAs[String]("text") == "fresh")
  }

  test("schema evolution: added column merges without rewriting history") {
    val dir = TestSpark.tmpDir("lake-evolve")
    val table = LakeTable.create(s"$dir/t", Schemas.turn)
    val b1 = Seq(("I", 1L, "c1", 0, "user", "v1 row", None: Option[String],
      Timestamp.valueOf("2025-01-01 00:00:00")))
      .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    MergeInto.merge(spark, table, b1, "ck", 0L)
    assert(!table.payloadSchema.fieldNames.contains("tool_meta"))
    val b2 = Seq(("I", 2L, "c2", 0, "user", "v2 row", None: Option[String],
      Timestamp.valueOf("2025-01-01 00:01:00"), Some("""{"calls":1}""")))
      .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts", "tool_meta")
    MergeInto.merge(spark, table, b2, "ck", 1L)
    assert(table.payloadSchema.fieldNames.contains("tool_meta"))
    val rows = table.read(spark).orderBy("conv_id").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("tool_meta") == null) // old row reads as null
    assert(rows(1).getAs[String]("tool_meta") == """{"calls":1}""")
  }

  test("file pruning: untouched files are carried over, not rewritten") {
    val dir = TestSpark.tmpDir("lake-prune")
    val table = LakeTable.create(s"$dir/t", Schemas.turn)
    // seed 20 convs across several files
    val seedRows = (0 until 20).map { i =>
      ("I", i.toLong, f"conv_$i%03d", 0, "user", s"seed $i", None: Option[String],
        Timestamp.valueOf("2025-01-01 00:00:00"))
    }
    MergeInto.merge(spark, table, seedRows
      .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts"),
      "ck", 0L, MergeOptions(targetRowsPerFile = 5))
    val beforeFiles = table.currentFiles
    assert(beforeFiles.size >= 3, s"expected multiple files, got ${beforeFiles.size}")
    // update a single conv — only files whose bounds contain it may be rewritten
    val upd = Seq(("U", 100L, "conv_019", 0, "user", "updated", None: Option[String],
      Timestamp.valueOf("2025-01-01 00:01:00")))
      .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    val stats = MergeInto.merge(spark, table, upd, "ck", 1L,
      MergeOptions(targetRowsPerFile = 5))
    assert(stats.filesRewritten < beforeFiles.size,
      s"pruning failed: rewrote ${stats.filesRewritten}/${beforeFiles.size} files")
    assert(stats.filesPruned > 0)
    val afterFiles = table.currentFiles
    // untouched files are literally the same file objects
    assert(beforeFiles.filter(f => KeyCodec.compare(f.maxKey, "conv_019") < 0)
      .forall(afterFiles.contains))
    val rows = table.read(spark).collect().map(r =>
      r.getAs[String]("conv_id") -> r.getAs[String]("text")).toMap
    assert(rows.size == 20 && rows("conv_019") == "updated" && rows("conv_000") == "seed 0")
  }

  test("copy-on-write merge under hot-key skew (hotFrac = 0.5) equals the oracle") {
    val dir = TestSpark.tmpDir("lake-skew")
    val pSkew = p.copy(nEvents = 4000, hotFrac = 0.5)
    val ev = ChangelogGen.events(spark, pSkew)
      .map { case (_, e) => (e.op, e.lsn, e.conv_id, e.turn_idx, e.role, e.text,
        e.tool, e.ts, e.tool_meta) }
      .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts", "tool_meta")
    val table = LakeTable.create(s"$dir/t", Schemas.turn)
    MergeInto.merge(spark, table, ev, "ck", 0L)
    assert(tableState(table) == oracleState(pSkew))
  }

  test("merge-on-read reproduces the fold oracle; foldDeltas is state-invariant") {
    val dir = TestSpark.tmpDir("lake-mor")
    val table = LakeTable.create(s"$dir/t", Schemas.turn)
    // thresholds high enough that nothing auto-folds: reads must resolve deltas
    val mor = MergeOptions(mode = MergeMode.Mor, targetRowsPerFile = 2000,
      morCompactDeltaRatio = 1e9, morCompactMaxDeltaFiles = Int.MaxValue)
    val ev = ChangelogGen.events(spark, p)
      .map { case (f, e) => (f, e.op, e.lsn, e.conv_id, e.turn_idx, e.role, e.text,
        e.tool, e.ts, e.tool_meta) }
      .toDF("wal_file", "op", "lsn", "conv_id", "turn_idx", "role", "text",
        "tool", "ts", "tool_meta")
      .cache()
    try {
      (0 until p.nFiles).foreach { f =>
        val stats = MergeInto.merge(spark, table,
          ev.filter($"wal_file" === f).drop("wal_file"), "ck1", f.toLong, mor)
        assert(stats.filesRewritten == 0, "MoR must never rewrite base files")
      }
      assert(table.currentFiles.exists(_.delta), "expected unresolved deltas")
      val want = oracleState(p)
      assert(tableState(table) == want, "MoR read-time fold mismatch")
      // folding deltas must not change logical state, and clears all deltas:
      // first the hash fold (rangePlace = false) the streaming ingest runs ...
      graft.lake.Compaction.foldDeltas(spark, table, rangePlace = false)
      assert(!table.currentFiles.exists(_.delta))
      assert(tableState(table) == want, "hash foldDeltas changed table contents")
      // ... then the range fold, over fresh deltas: a second checkpoint
      // re-delivers the last two WAL files (same lsns, same payloads)
      (p.nFiles - 2 until p.nFiles).foreach { f =>
        MergeInto.merge(spark, table,
          ev.filter($"wal_file" === f).drop("wal_file"), "ck2", f.toLong, mor)
      }
      assert(table.currentFiles.exists(_.delta), "expected re-delivered deltas")
      assert(tableState(table) == want, "read-time fold over base + deltas mismatch")
      val cs = graft.lake.Compaction.foldDeltas(spark, table)
      assert(cs.filesBefore > cs.filesAfter || cs.rowsRewritten > 0)
      assert(!table.currentFiles.exists(_.delta))
      assert(tableState(table) == want, "foldDeltas changed table contents")
      // replay after fold still no-ops
      assert(MergeInto.merge(spark, table,
        ev.filter($"wal_file" === 0).drop("wal_file"), "ck1", 0L, mor).noop)
    } finally ev.unpersist()
  }

  test("incremental changes: MoR delta commits form a consumable changelog") {
    val dir = TestSpark.tmpDir("lake-changes")
    val table = LakeTable.create(s"$dir/t", Schemas.turn)
    val mor = MergeOptions(mode = MergeMode.Mor,
      morCompactDeltaRatio = 1e9, morCompactMaxDeltaFiles = Int.MaxValue)
    def batch(rows: Seq[(String, Long, String, Int, String)]) =
      rows.map { case (op, lsn, c, t, tx) =>
        (op, lsn, c, t, "user", tx, None: Option[String],
          Timestamp.valueOf("2025-01-01 00:00:00"))
      }.toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    MergeInto.merge(spark, table, batch(Seq(("I", 1L, "c1", 0, "a"))), "ck", 0L, mor)
    val v1 = table.currentVersion
    MergeInto.merge(spark, table,
      batch(Seq(("U", 2L, "c1", 0, "b"), ("I", 3L, "c2", 0, "c"))), "ck", 1L, mor)
    MergeInto.merge(spark, table, batch(Seq(("D", 4L, "c1", 0, null))), "ck", 2L, mor)
    val changes = table.readChangesBetween(spark, v1, table.currentVersion)
      .collect().map(r => (r.getString(r.fieldIndex("conv_id")),
        r.getLong(r.fieldIndex("_lsn")), r.getBoolean(r.fieldIndex("_deleted"))))
      .toSet
    // exactly the two later epochs' resolved changes, upserts AND the delete
    assert(changes == Set(("c1", 2L, false), ("c2", 3L, false), ("c1", 4L, true)))
    // a fold commit adds no logical changes
    val vBefore = table.currentVersion
    graft.lake.Compaction.foldDeltas(spark, table)
    assert(table.readChangesBetween(spark, vBefore, table.currentVersion).count() == 0)
    // the full change stream since v0 still reads through folded-away files
    assert(table.readChangesSince(spark, -1L).count() == 4)

    // retention contract: once vacuum passes a consumer's position, asking
    // for those changes raises the NAMED retention error — never a silent
    // partial stream (the consumer must re-sync from a snapshot, like a
    // binlog client whose offset aged out of server log retention)
    graft.lake.Compaction.vacuum(table, retainVersions = 2, orphanMinAgeMs = 0L)
    val floor = table.availableVersions.min
    assert(floor > v1 + 1, "vacuum should have passed the consumed position")
    val ex = intercept[IllegalStateException](
      table.readChangesBetween(spark, v1, table.currentVersion))
    assert(ex.getMessage.contains("vacuumed past the retention floor"),
      ex.getMessage)
    // within the window the stream still serves
    assert(table.readChangesBetween(spark, floor - 1,
      table.currentVersion).count() >= 0)
  }

  test("snapshot metadata stays O(1) across 100 epochs") {
    val dir = TestSpark.tmpDir("lake-meta")
    val table = LakeTable.create(s"$dir/t", Schemas.turn)
    def snapBytes(v: Long): Long =
      java.nio.file.Files.size(java.nio.file.Paths.get(
        s"$dir/t/_snapshots", f"v$v%020d.json"))
    val mor = MergeOptions(mode = MergeMode.Mor,
      morCompactDeltaRatio = 1e9, morCompactMaxDeltaFiles = Int.MaxValue)
    (0 until 100).foreach { e =>
      val batch = Seq(("I", e.toLong, f"conv_$e%03d", 0, "user", s"t$e",
        None: Option[String], Timestamp.valueOf("2025-01-01 00:00:00")))
        .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts")
      MergeInto.merge(spark, table, batch, "ck", e.toLong, mor)
    }
    // Bounded sawtooth: manifest NAMES accumulate per epoch then fold at the
    // threshold. The envelope must be stationary — the old design (full file
    // list + epoch ledger in every snapshot) grew linearly without bound.
    val early = (10L to 40L).map(snapBytes).max
    val late = (70L to 100L).map(snapBytes).max
    assert(late <= early * 1.2,
      s"snapshot envelope grew with epoch count: early=$early late=$late")
    // budget: <= threshold(32) manifest REFS (~200 bytes each: name +
    // stats + key range) + schema + ledger — stationary, not file-count-bound
    assert(late < 16384, s"snapshot bigger than its stationary budget: $late")
    // and the table still reads correctly through its manifests
    assert(table.read(spark).count() == 100)
  }

  test("long-keyed table: non-string first key still prunes files") {
    import org.apache.spark.sql.types._
    val dir = TestSpark.tmpDir("lake-longkey")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType)))
    val table = LakeTable.create(s"$dir/t", schema, keyCols = Seq("id"))
    val opts = MergeOptions(keyCols = Seq("id"), targetRowsPerFile = 25)
    val seed = (0 until 100).map(i => ("I", i.toLong, i.toLong, s"v$i"))
      .toDF("op", "lsn", "id", "v")
    MergeInto.merge(spark, table, seed, "ck", 0L, opts)
    assert(table.currentFiles.size >= 3)
    val upd = Seq(("U", 1000L, 7L, "updated")).toDF("op", "lsn", "id", "v")
    val stats = MergeInto.merge(spark, table, upd, "ck", 1L, opts)
    assert(stats.filesPruned > 0,
      s"long key should prune: rewrote ${stats.filesRewritten}, pruned ${stats.filesPruned}")
    val got = table.read(spark).collect().map(r => r.getLong(r.fieldIndex("id")) ->
      r.getString(r.fieldIndex("v"))).toMap
    assert(got.size == 100 && got(7L) == "updated" && got(8L) == "v8")
  }

  test("disjoint concurrent commits both land via rebase; non-disjoint conflicts fail") {
    val dir = TestSpark.tmpDir("lake-cc")
    val table = LakeTable.create(s"$dir/t", Schemas.turn)
    val seed = (0 until 40).map(i => ("I", i.toLong, f"conv_$i%03d", 0, "user",
      s"seed $i", None: Option[String], Timestamp.valueOf("2025-01-01 00:00:00")))
      .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    MergeInto.merge(spark, table, seed, "ck", 0L, MergeOptions(targetRowsPerFile = 10))
    val stale = table.currentSnapshot
    val files = table.currentFiles
    assert(files.size >= 3)
    val victim = files.head

    // winner: commits against the head, removing `victim`
    table.commitChange(stale, stale.schemaJson, Set(victim.path), Nil, None)
    val headAfterWin = table.currentVersion

    // non-disjoint loser: same stale base, removes the SAME file -> loud conflict
    val ex = intercept[IllegalStateException](
      table.commitChange(stale, stale.schemaJson, Set(victim.path), Nil, None))
    assert(ex.getMessage.contains("NOT disjoint"), ex.getMessage)

    // disjoint loser: stale base, pure addition -> rebases onto the head
    val committed = table.commitChange(stale, stale.schemaJson, Set.empty,
      List(victim.copy(addedAtVersion = stale.version + 1)), Some(("ck2", 7L)))
    assert(committed.version == headAfterWin + 1,
      s"expected rebase to ${headAfterWin + 1}, got ${committed.version}")
    assert(committed.epochHwm.get("ck2").contains(7L))
    // the rebased commit sees the winner's removal AND its own addition
    val paths = table.currentFiles.map(_.path)
    assert(paths.contains(victim.path))
    assert(paths.count(_ == victim.path) == 1)
    // addedAtVersion was rewritten to the version the commit actually landed at
    assert(table.currentFiles.find(_.path == victim.path)
      .exists(_.addedAtVersion == committed.version))

    // epoch-ledger conflict: stale base replaying an epoch the head already has
    val stale2 = table.currentSnapshot
    table.commitChange(stale2, stale2.schemaJson, Set.empty, Nil, Some(("ck3", 1L)))
    val ex2 = intercept[IllegalStateException](
      table.commitChange(stale2, stale2.schemaJson, Set.empty, Nil, Some(("ck3", 1L))))
    assert(ex2.getMessage.contains("epoch ledger"), ex2.getMessage)
  }

  test("compaction racing MoR ingest on separate threads: both land, state exact") {
    val dir = TestSpark.tmpDir("lake-race")
    val table = LakeTable.create(s"$dir/t", Schemas.turn)
    val pr = p.copy(nEvents = 6000)
    val mor = MergeOptions(mode = MergeMode.Mor, targetRowsPerFile = 500,
      morCompactDeltaRatio = 1e9, morCompactMaxDeltaFiles = Int.MaxValue)
    val ev = ChangelogGen.events(spark, pr)
      .map { case (f, e) => (f, e.op, e.lsn, e.conv_id, e.turn_idx, e.role, e.text,
        e.tool, e.ts, e.tool_meta) }
      .toDF("wal_file", "op", "lsn", "conv_id", "turn_idx", "role", "text",
        "tool", "ts", "tool_meta")
      .cache()
    try {
      @volatile var maintErr: Option[Throwable] = None
      val ingest = new Thread(() =>
        (0 until pr.nFiles).foreach { f =>
          MergeInto.merge(spark, table,
            ev.filter($"wal_file" === f).drop("wal_file"), "ck1", f.toLong, mor)
        })
      val maintain = new Thread(() =>
        try (0 until 8).foreach { _ =>
          graft.lake.Compaction.foldDeltas(spark, table)
          Thread.sleep(50)
        } catch { case t: Throwable => maintErr = Some(t) })
      ingest.start(); maintain.start()
      ingest.join(600000); maintain.join(600000)
      assert(maintErr.isEmpty, s"maintenance thread failed: $maintErr")
      assert(tableState(table) == oracleState(pr),
        "concurrent fold+ingest must converge to the oracle state")
      // ledger intact: every epoch recorded exactly once
      assert(table.currentSnapshot.epochHwm("ck1") == (pr.nFiles - 1).toLong)
    } finally ev.unpersist()
  }

  test("snapshot format gate: missing or unknown formatVersion fails loudly") {
    val dir = TestSpark.tmpDir("lake-fv")
    val table = LakeTable.create(s"$dir/t", Schemas.turn)
    val p0 = java.nio.file.Paths.get(s"$dir/t/_snapshots", f"v${0L}%020d.json")
    val raw = new String(java.nio.file.Files.readAllBytes(p0), "UTF-8")
    // unknown future version
    java.nio.file.Files.write(p0,
      raw.replace(s""""formatVersion":${TableLog.FormatVersion}""",
        """"formatVersion":99""").getBytes("UTF-8"))
    val ex = intercept[IllegalStateException](table.snapshot(0L))
    assert(ex.getMessage.contains("formatVersion 99"), ex.getMessage)
    // missing field (pre-versioned layout): must NOT silently read as empty
    java.nio.file.Files.write(p0,
      raw.replace(s""""formatVersion":${TableLog.FormatVersion},""", "")
        .replace(s""","formatVersion":${TableLog.FormatVersion}""", "")
        .getBytes("UTF-8"))
    val ex2 = intercept[IllegalStateException](table.snapshot(0L))
    assert(ex2.getMessage.contains("no formatVersion"), ex2.getMessage)
    // the earlier v2 layout (bare manifest names) has no reader in this build
    java.nio.file.Files.write(p0,
      raw.replace(s""""formatVersion":${TableLog.FormatVersion}""",
        """"formatVersion":2""").getBytes("UTF-8"))
    val ex3 = intercept[IllegalStateException](table.snapshot(0L))
    assert(ex3.getMessage.contains("formatVersion 2;"), ex3.getMessage)
    assert(ex3.getMessage.contains("recreate the table"), ex3.getMessage)
  }

  test("creating a table over an existing one fails by name and writes nothing") {
    val dir = TestSpark.tmpDir("lake-recreate")
    val table = LakeTable.create(s"$dir/t", Schemas.turn)
    MergeInto.merge(spark, table,
      Seq(("I", 1L, "c1", 0, "user", "hi", None: Option[String],
        Timestamp.valueOf("2025-01-01 00:00:00")))
        .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts"),
      "ck", 0L, MergeOptions(mode = MergeMode.Mor))
    def listing(): Set[String] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/t"))
      try s.iterator().asScala.map(_.toString).toSet finally s.close()
    }
    val before = listing()
    val ex = intercept[IllegalStateException](
      LakeTable.create(s"$dir/t", Schemas.turn, keyCols = Seq("conv_id")))
    assert(ex.getMessage.contains(s"already exists at $dir/t"), ex.getMessage)
    assert(listing() == before, "a refused create must write nothing")
    val again = LakeTable.load(s"$dir/t")
    assert(again.currentVersion == 1L && again.currentSnapshot.keyCols == List("conv_id", "turn_idx"))
    assert(again.read(spark).count() == 1)
    assert(again.hasEpoch("ck", 0L) && !again.hasEpoch("ck", 1L))
  }

  test("sparse upserts: partial-column updates coalesce from the incumbent row") {
    for ((mode, sres) <- Seq(
        (MergeMode.Mor, ResolveStrategy.SortDedup),
        (MergeMode.Mor, ResolveStrategy.Agg), // aggregate-form epoch collapse
        (MergeMode.Cow, ResolveStrategy.SortDedup))) {
      val dir = TestSpark.tmpDir(s"lake-sparse-$mode-$sres")
      val table = LakeTable.create(s"$dir/t", Schemas.turn, sparseUpdates = true)
      val opts = MergeOptions(mode = mode, sparseResolve = sres,
        morCompactDeltaRatio = 1e9, morCompactMaxDeltaFiles = Int.MaxValue)
      def batch(rows: Seq[(String, Long, String, Int, String, String, Option[String])]) =
        rows.map { case (op, lsn, c, t, role, tx, tool) =>
          (op, lsn, c, t, role, tx, tool, Timestamp.valueOf("2025-01-01 00:00:00"))
        }.toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts")
      // epoch 0: full insert
      MergeInto.merge(spark, table, batch(Seq(
        ("I", 1L, "c1", 0, "user", "hello world", Some("t0")))), "ck", 0L, opts)
      // epoch 1: sparse update touching ONLY text (role/tool null = unchanged)
      MergeInto.merge(spark, table, batch(Seq(
        ("U", 2L, "c1", 0, null, "hello edited", None))), "ck", 1L, opts)
      val r1 = table.read(spark).collect()
      assert(r1.length == 1)
      assert(r1(0).getAs[String]("text") == "hello edited")
      assert(r1(0).getAs[String]("role") == "user",
        s"[$mode] sparse update clobbered role: ${r1(0)}")
      assert(r1(0).getAs[String]("tool") == "t0",
        s"[$mode] sparse update clobbered tool")

      // delete RESETS the coalesce chain: a later re-insert must not revive
      // pre-delete cells
      MergeInto.merge(spark, table, batch(Seq(
        ("D", 3L, "c1", 0, null, null, None))), "ck", 2L, opts)
      MergeInto.merge(spark, table, batch(Seq(
        ("I", 4L, "c1", 0, null, "fresh", None))), "ck", 3L, opts)
      val r2 = table.read(spark).collect()
      assert(r2.length == 1 && r2(0).getAs[String]("text") == "fresh")
      assert(r2(0).getAs[String]("role") == null,
        s"[$mode] delete must reset cells, got role=${r2(0).getAs[String]("role")}")
      assert(r2(0).getAs[String]("tool") == null)

      // fold/compaction is state-invariant for sparse tables too
      val before = table.read(spark).collect().map(_.toSeq).toSet
      graft.lake.Compaction.foldDeltas(spark, table)
      assert(table.read(spark).collect().map(_.toSeq).toSet == before)
    }
  }

  test("sparse upserts: late lower-lsn update in a later epoch still loses per column") {
    // THE associativity trap: epoch 0 folds I(text)@1 + U(tool)@10 into one
    // row; if that row's text were promoted to the row lsn (10), the late
    // text update @5 arriving in epoch 1 would wrongly lose. Cell lsns keep
    // per-column provenance, so text@5 beats text@1 and loses to nothing.
    val dir = TestSpark.tmpDir("lake-sparse-late")
    val table = LakeTable.create(s"$dir/t", Schemas.turn, sparseUpdates = true)
    val mor = MergeOptions(mode = MergeMode.Mor,
      morCompactDeltaRatio = 1e9, morCompactMaxDeltaFiles = Int.MaxValue)
    def row(op: String, lsn: Long, role: String, tx: String, tool: Option[String]) =
      Seq((op, lsn, "c1", 0, role, tx, tool, Timestamp.valueOf("2025-01-01 00:00:00")))
        .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    MergeInto.merge(spark, table,
      row("I", 1L, "user", "original", None)
        .unionByName(row("U", 10L, null, null, Some("t9"))), "ck", 0L, mor)
    // late event, lower lsn than the already-folded epoch-0 row
    MergeInto.merge(spark, table, row("U", 5L, null, "edited@5", None), "ck", 1L, mor)
    val r = table.read(spark).collect()
    assert(r.length == 1)
    assert(r(0).getAs[String]("text") == "edited@5",
      s"late per-column update lost: ${r(0)}")
    assert(r(0).getAs[String]("tool") == "t9")
    assert(r(0).getAs[String]("role") == "user")
    // and the same state survives a full fold
    graft.lake.Compaction.foldDeltas(spark, table)
    val rf = table.read(spark).collect()
    assert(rf(0).getAs[String]("text") == "edited@5" &&
      rf(0).getAs[String]("tool") == "t9" && rf(0).getAs[String]("role") == "user")
    // ...and a later even-lower-lsn straggler STILL can't override post-fold
    MergeInto.merge(spark, table, row("U", 3L, null, "stale@3", None), "ck", 2L, mor)
    assert(table.read(spark).collect()(0).getAs[String]("text") == "edited@5")
  }

  test("sparse upserts: folds persist the delete watermark (collapsed == raw)") {
    // The associativity trap on the DELETE side: I@1(role), D@3, I@4(text)
    // collapsed (within one batch, or by compaction) keeps only the max-lsn
    // row — if the tombstone's lsn were forgotten, a late pre-delete update
    // U@2(role) would pass the cell mask and resurrect the dead cell. The
    // folded row's _del_lsn carries the watermark, so collapsed and raw
    // inputs must fold identically.
    def mkRow(op: String, lsn: Long, role: String, tx: String) =
      Seq((op, lsn, "c1", 0, role, tx, None: Option[String],
        Timestamp.valueOf("2025-01-01 00:00:00")))
        .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    val mor = MergeOptions(mode = MergeMode.Mor,
      morCompactDeltaRatio = 1e9, morCompactMaxDeltaFiles = Int.MaxValue)
    def finalState(collapse: String): (String, String) = {
      val dir = TestSpark.tmpDir(s"lake-sparse-delwm-$collapse")
      val table = LakeTable.create(s"$dir/t", Schemas.turn, sparseUpdates = true)
      collapse match {
        case "batch" => // all three in ONE batch: within-batch collapse runs
          MergeInto.merge(spark, table,
            mkRow("I", 1L, "zombie", null)
              .unionByName(mkRow("D", 3L, null, null))
              .unionByName(mkRow("I", 4L, null, "fresh")), "ck", 0L, mor)
        case "compaction" => // separate epochs, collapsed by foldDeltas
          MergeInto.merge(spark, table, mkRow("I", 1L, "zombie", null), "ck", 0L, mor)
          MergeInto.merge(spark, table, mkRow("D", 3L, null, null), "ck", 1L, mor)
          MergeInto.merge(spark, table, mkRow("I", 4L, null, "fresh"), "ck", 2L, mor)
          graft.lake.Compaction.foldDeltas(spark, table)
        case "raw" => // separate epochs, NO collapse before the late event
          MergeInto.merge(spark, table, mkRow("I", 1L, "zombie", null), "ck", 0L, mor)
          MergeInto.merge(spark, table, mkRow("D", 3L, null, null), "ck", 1L, mor)
          MergeInto.merge(spark, table, mkRow("I", 4L, null, "fresh"), "ck", 2L, mor)
      }
      // late pre-delete update: its cell lsn (2) is below the delete (3)
      MergeInto.merge(spark, table, mkRow("U", 2L, "zombie", null), "ck", 9L, mor)
      val r = table.read(spark).collect()
      assert(r.length == 1, s"[$collapse] expected one live row, got ${r.toSeq}")
      // state must also survive a FINAL fold unchanged
      graft.lake.Compaction.foldDeltas(spark, table)
      val rf = table.read(spark).collect()
      assert(rf.length == 1)
      assert(r(0).getAs[String]("role") == rf(0).getAs[String]("role") &&
        r(0).getAs[String]("text") == rf(0).getAs[String]("text"),
        s"[$collapse] fold changed state: ${r(0)} vs ${rf(0)}")
      (r(0).getAs[String]("role"), r(0).getAs[String]("text"))
    }
    for (c <- Seq("batch", "compaction", "raw")) {
      val (role, text) = finalState(c)
      assert(text == "fresh", s"[$c] text: $text")
      assert(role == null,
        s"[$c] late pre-delete update resurrected a dead cell: role=$role")
    }
  }

  test("sparse resolution: window and aggregate forms fold identically") {
    // ~3000 random sparse events (partial-column updates + deletes) over 200
    // keys: both plan shapes must emit identical resolved rows — values,
    // cell lsns, delete watermark and row meta — and the aggregate form must
    // stay associative across a two-stage fold.
    val rnd = new scala.util.Random(42)
    val cols = Seq("role", "text", "tool")
    val raw = (1 to 3000).map { lsn =>
      val k = rnd.nextInt(200)
      val del = rnd.nextInt(12) == 0
      def maybe(v: String) = if (!del && rnd.nextBoolean()) v else null
      (s"c$k", k % 7, maybe(s"r$lsn"), maybe(s"x$lsn"), maybe(s"t$lsn"),
        lsn.toLong, del)
    }.toDF("conv_id", "turn_idx", "role", "text", "tool", "_lsn", "_deleted")
    val df = raw
      .withColumn("_cell_lsn", map_filter(
        map_from_arrays(array(cols.map(lit): _*),
          array(cols.map(c =>
            when(!col("_deleted") && col(c).isNotNull, col("_lsn"))): _*)),
        (_, v) => v.isNotNull))
      .withColumn("_del_lsn", lit(null).cast("long"))
    val keys = Seq("conv_id", "turn_idx")
    def norm(d: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      d.collect().map { r =>
        r.toSeq.map {
          case m: scala.collection.Map[_, _] => m.toSeq.map(_.toString).sorted
          case v => v
        }
      }.toSet
    val win = norm(Resolve.resolveSparse(
      df.repartition(8, col("conv_id"), col("turn_idx")), keys, cols))
    val agg = norm(Resolve.resolveSparseAgg(df, keys, cols))
    assert(agg == win, {
      val onlyW = win -- agg
      val onlyA = agg -- win
      s"forms diverge: window-only=${onlyW.take(2)}, agg-only=${onlyA.take(2)}"
    })
    // associativity: fold a prefix, union the rest raw, fold again
    val pre = Resolve.resolveSparseAgg(df.filter(col("_lsn") <= 1500), keys, cols)
    val staged = norm(Resolve.resolveSparseAgg(
      pre.unionByName(df.filter(col("_lsn") > 1500)), keys, cols))
    assert(staged == agg, "aggregate fold is not associative")
  }

  test("empty MoR epoch: ledger-only commit, sizing estimator unpoisoned") {
    val dir = TestSpark.tmpDir("lake-empty-epoch")
    val table = LakeTable.create(s"$dir/t", Schemas.turn)
    val mor = MergeOptions(mode = MergeMode.Mor, targetRowsPerFile = 1000000,
      morCompactDeltaRatio = 1e9, morCompactMaxDeltaFiles = Int.MaxValue)
    def batch(rows: Seq[(String, Long, String, Int)]) =
      rows.map { case (op, lsn, c, t) =>
        (op, lsn, c, t, "user", "txt", None: Option[String],
          Timestamp.valueOf("2025-01-01 00:00:00"))
      }.toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    // first epoch LARGE so the estimator converges to a multi-file size —
    // the zero-row bug was exactly "a big epoch after an idle tick writes
    // through sized(0)=1 task"
    MergeInto.merge(spark, table,
      batch((0 until 100000).map(i => ("I", i.toLong, s"c${i % 997}", i))), "ck", 0L, mor)
    val filesBefore = table.currentFiles
    // idle tick: zero rows
    val s1 = MergeInto.merge(spark, table, batch(Nil), "ck", 1L, mor)
    assert(!s1.noop && s1.filesAdded == 0,
      s"empty epoch must commit ledger-only, added ${s1.filesAdded} files")
    assert(table.currentFiles.map(_.path).toSet == filesBefore.map(_.path).toSet)
    assert(table.hasEpoch("ck", 1L), "ledger must still advance")
    // next real epoch: file count must NOT collapse to sized(0)=1
    val par = spark.sparkContext.defaultParallelism
    val s2 = MergeInto.merge(spark, table,
      batch((0 until 100000).map(i => ("I", 1000L + i, s"c${i % 997}", i))),
      "ck", 2L, mor)
    assert(s2.filesAdded >= math.min(2 * par, 100000 / 10000),
      s"post-idle epoch serialized: ${s2.filesAdded} files (parallelism $par)")
    // replay of the empty epoch stays a no-op
    assert(MergeInto.merge(spark, table, batch(Nil), "ck", 1L, mor).noop)
  }

  test("an empty epoch writes its _metrics record on copy-on-write and merge-on-read") {
    Seq(MergeMode.Cow, MergeMode.Mor).foreach { mode =>
      val dir = TestSpark.tmpDir(s"lake-empty-metrics-$mode")
      val table = LakeTable.create(s"$dir/t", Schemas.turn)
      def batch(rows: Seq[(String, Long, String, Int)]) =
        rows.map { case (op, lsn, c, t) =>
          (op, lsn, c, t, "user", "txt", None: Option[String],
            Timestamp.valueOf("2025-01-01 00:00:00"))
        }.toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts")
      val opts = MergeOptions(mode = mode)
      MergeInto.merge(spark, table, batch(Seq(("I", 1L, "c1", 0))), "ck", 0L, opts)
      val empty = MergeInto.merge(spark, table, batch(Nil), "ck", 1L, opts)
      assert(!empty.noop && empty.outputRows == 1, s"$mode: $empty")
      val recs = table.metrics(spark).select("epochId", "batchRows", "outputRows")
        .orderBy("epochId").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(recs.toSeq == Seq((0L, 1L, 1L), (1L, 0L, 1L)), s"$mode: ${recs.toSeq}")
    }
  }

  test("metrics loads every epoch record and logs no hidden-path warning") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property

    val dir = TestSpark.tmpDir("lake-metrics-read")
    val table = LakeTable.create(s"$dir/t", Schemas.turn)
    assert(table.metrics(spark).isEmpty, "no records before the first epoch")
    val mor = MergeOptions(mode = MergeMode.Mor)
    Seq(0L, 1L).foreach { e =>
      MergeInto.merge(spark, table,
        Seq(("I", 1L + e, "c1", e.toInt, "user", "hi", None: Option[String],
          Timestamp.valueOf("2025-01-01 00:00:00")))
          .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts"),
        "ck", e, mor)
    }
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("metrics-read", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        warnings.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.execution.datasources.DataSource").asInstanceOf[Logger]
    logger.addAppender(appender)
    val epochs =
      try table.metrics(spark).select("epochId").collect().map(_.getLong(0)).sorted
      finally { logger.removeAppender(appender); appender.stop() }
    assert(epochs.toSeq == Seq(0L, 1L))
    assert(!warnings.asScala.exists(_.contains("All paths were ignored")),
      warnings.asScala.mkString("\n"))
  }

  test("sparse upserts survive schema evolution: added column folds per cell") {
    // A sparse table gains a column mid-stream (the reference's dynamic
    // column union) — cell-lsn provenance must extend to the new column:
    // rows folded BEFORE the column existed read it (and its cell lsn) as
    // null, later partial updates set only it, and the delete watermark
    // still masks pre-delete cells of the widened schema.
    val dir = TestSpark.tmpDir("lake-sparse-evo")
    val table = LakeTable.create(s"$dir/t", Schemas.turn, sparseUpdates = true)
    val mor = MergeOptions(mode = MergeMode.Mor,
      morCompactDeltaRatio = 1e9, morCompactMaxDeltaFiles = Int.MaxValue)
    def v1(op: String, lsn: Long, role: String, tx: String) =
      Seq((op, lsn, "c1", 0, role, tx, None: Option[String],
        Timestamp.valueOf("2025-01-01 00:00:00")))
        .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    def v2(op: String, lsn: Long, tx: String, meta: String) =
      Seq((op, lsn, "c1", 0, null: String, tx, None: Option[String],
        Timestamp.valueOf("2025-01-01 00:00:00"), meta))
        .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts",
          "tool_meta")
    MergeInto.merge(spark, table, v1("I", 1L, "user", "orig"), "ck", 0L, mor)
    graft.lake.Compaction.foldDeltas(spark, table) // fold BEFORE the column exists
    // widened batch: sets ONLY the new column (text null = unchanged)
    MergeInto.merge(spark, table, v2("U", 5L, null, "m5"), "ck", 1L, mor)
    val r1 = table.read(spark).collect()
    assert(r1.length == 1)
    assert(r1(0).getAs[String]("tool_meta") == "m5")
    assert(r1(0).getAs[String]("text") == "orig", "old cells must survive widening")
    assert(r1(0).getAs[String]("role") == "user")
    // late lower-lsn update to the NEW column loses per cell
    MergeInto.merge(spark, table, v2("U", 3L, "stale", "m3"), "ck", 2L, mor)
    val r2 = table.read(spark).collect()(0)
    assert(r2.getAs[String]("tool_meta") == "m5", s"new-column cell lsn ignored: $r2")
    assert(r2.getAs[String]("text") == "stale", "text@3 beats text@1")
    // delete + re-insert: the watermark masks pre-delete cells of BOTH
    // schema generations, through a fold
    MergeInto.merge(spark, table, v1("D", 7L, null, null), "ck", 3L, mor)
    MergeInto.merge(spark, table, v2("I", 8L, "fresh", null), "ck", 4L, mor)
    graft.lake.Compaction.foldDeltas(spark, table)
    val r3 = table.read(spark).collect()(0)
    assert(r3.getAs[String]("text") == "fresh")
    assert(r3.getAs[String]("tool_meta") == null,
      s"pre-delete new-column cell resurrected: $r3")
    assert(r3.getAs[String]("role") == null)
  }

  test("cross-JVM commit race: a second process commits during an ingest loop") {
    // The thread-race spec proves commitChange's rebase logic; THIS proves the
    // hard-link test-and-set across real process boundaries (two JVMs, two
    // page caches, one filesystem) — the actual deployment shape for
    // compaction racing ingest. Every commit from both processes must land at
    // a unique version with the ledger exact, or conflict loudly.
    val dir = TestSpark.tmpDir("xjvm")
    val table = LakeTable.create(s"$dir/t", Schemas.turn)
    val mor = MergeOptions(mode = MergeMode.Mor,
      morCompactDeltaRatio = 1e9, morCompactMaxDeltaFiles = Int.MaxValue)
    def batch(e: Int) =
      (0 until 500).map(i => ("I", e * 500L + i, s"c${i % 50}", i, "user",
        s"t$e-$i", None: Option[String], Timestamp.valueOf("2025-01-01 00:00:00")))
        .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    val childCommits = 80
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val proc = new ProcessBuilder(javaBin, "-cp", sys.props("java.class.path"),
      "graft.CommitRaceChild", s"$dir/t", "child-ck", childCommits.toString, "20")
      .redirectErrorStream(true).start()
    try {
      val parentEpochs = 8
      (0 until parentEpochs).foreach { e =>
        MergeInto.merge(spark, table, batch(e), "parent-ck", e.toLong, mor)
      }
      val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
      val rc = proc.waitFor()
      assert(rc == 0 && out.contains("CHILD_DONE"),
        s"child writer failed (rc=$rc):\n${out.takeRight(2000)}")
      val snap = table.currentSnapshot
      // ledger exact for BOTH writers
      assert(snap.epochHwm("child-ck") == childCommits - 1L)
      assert(snap.epochHwm("parent-ck") == parentEpochs - 1L)
      // every commit landed at its own version: create + parent + child, no
      // lost updates (a silent rename-overwrite would collapse versions)
      assert(snap.version == parentEpochs + childCommits.toLong,
        s"version ${snap.version} != ${parentEpochs + childCommits} commits")
      // parent data fully present (latest lsn per key wins): 500 distinct
      // (conv, turn) keys, re-upserted by every epoch -> last epoch's text
      val got = table.read(spark).collect()
        .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) ->
          r.getAs[String]("text")).toMap
      assert(got.size == 500, s"expected 500 live keys, got ${got.size}")
      assert(got(("c0", 0)) == s"t${parentEpochs - 1}-0", got(("c0", 0)))
    } finally proc.destroyForcibly()
  }

  test("schema merge rejects type conflicts, appends new nullable columns") {
    import org.apache.spark.sql.types._
    val base = StructType(Seq(StructField("a", StringType), StructField("b", IntegerType)))
    val inc = StructType(Seq(StructField("b", IntegerType), StructField("c", LongType)))
    val merged = SchemaMerge.merge(base, inc)
    assert(merged.fieldNames.toSeq == Seq("a", "b", "c"))
    assert(merged("c").nullable)
    val bad = StructType(Seq(StructField("b", StringType)))
    assertThrows[IllegalArgumentException](SchemaMerge.merge(base, bad))
  }
}
