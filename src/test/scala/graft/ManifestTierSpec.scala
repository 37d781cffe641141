package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._

import graft.lake.{DataFile, KeyCodec, KeyRanges, LakeTable, TableLog}

/**
 * Snapshot-metadata scaling: size-tiered manifest folding and manifest-level
 * pruning must keep per-epoch commit work bounded by TOUCHED metadata, never
 * by table size. These are metadata-only tests (synthetic DataFile entries,
 * no parquet IO) so they exercise the 5k-file regime cheaply.
 */
class ManifestTierSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("conv_id", StringType), StructField("turn_idx", IntegerType)))

  private def enc(i: Int): String = KeyCodec.encode(StringType, f"k$i%08d")

  private def mkFiles(dir: String, v: Long, keyFrom: Int, n: Int,
      delta: Boolean = true): List[DataFile] =
    (0 until n).toList.map { j =>
      DataFile(s"$dir/data/fake-$v-$j.parquet", 1000L,
        enc(keyFrom + j), enc(keyFrom + j), v, v, v, delta)
    }

  test("tiered fold: 6k files, sealed manifests never rewritten, commit work bounded") {
    val dir = TestSpark.tmpDir("mtier")
    val table = LakeTable.create(s"$dir/t", schema, keyCols = Seq("conv_id"))
    val perCommit = 25
    val nCommits = 250 // -> 6250 files, well past several seal cycles
    val mDir = java.nio.file.Paths.get(s"$dir/t/_manifests")
    def manifestNames(): Set[String] = {
      val s = java.nio.file.Files.list(mDir)
      try {
        val it = s.iterator()
        val b = Set.newBuilder[String]
        while (it.hasNext) b += it.next().getFileName.toString
        b.result()
      } finally s.close()
    }
    def entriesOf(name: String): Int = {
      val raw = new String(java.nio.file.Files.readAllBytes(mDir.resolve(name)), "UTF-8")
      raw.sliding("\"path\"".length).count(_ == "\"path\"")
    }
    var everSealed = Set.empty[String]
    var maxCommitEntries = 0
    (0 until nCommits).foreach { i =>
      val before = manifestNames()
      val snap = table.currentSnapshot
      table.commitChange(snap, snap.schemaJson, Set.empty,
        mkFiles(s"$dir/t", snap.version + 1, i * perCommit, perCommit), None)
      val written = (manifestNames() -- before).toList
      maxCommitEntries = math.max(maxCommitEntries, written.map(entriesOf).sum)
      everSealed ++= table.currentSnapshot.manifests
        .filter(_.files >= TableLog.ManifestSealEntries).map(_.name)
    }
    val snap = table.currentSnapshot
    val totalFiles = snap.manifests.map(_.files).sum
    assert(totalFiles == nCommits * perCommit)
    assert(everSealed.nonEmpty, "test never reached the seal size — weaken seal or add commits")
    // tier invariant: a sealed manifest is immutable forever (pure-append load)
    val finalNames = snap.manifests.map(_.name).toSet
    assert(everSealed.subsetOf(finalNames),
      s"sealed manifests were folded away: ${(everSealed -- finalNames).take(3)}")
    // per-commit metadata work is bounded by the tier (seal + sub-seal tail +
    // the epoch's adds), NOT by table size — fold-all would have written a
    // totalFiles-entry manifest on late folds
    val bound = TableLog.ManifestSealEntries + 33 * perCommit + perCommit
    assert(maxCommitEntries <= bound,
      s"a commit re-serialized $maxCommitEntries entries (bound $bound, table $totalFiles)")
    // manifest list stays bounded: sealed tier + sub-seal sawtooth
    assert(snap.manifests.size <= 33 + totalFiles / TableLog.ManifestSealEntries,
      s"manifest list unbounded: ${snap.manifests.size}")
    // ref stats agree with contents
    snap.manifests.foreach { m =>
      assert(entriesOf(m.name) == m.files, s"${m.name}: ref.files=${m.files}")
    }
    // and the full listing still returns every file
    assert(table.files(snap).size == totalFiles)
  }

  test("change-file catch-up parses O(new manifests), not O(versions x manifests)") {
    val dir = TestSpark.tmpDir("mcdc")
    val table = LakeTable.create(s"$dir/t", schema, keyCols = Seq("conv_id"))
    val nCommits = 120
    (1 to nCommits).foreach { i =>
      val snap = table.currentSnapshot
      table.commitChange(snap, snap.schemaJson, Set.empty,
        mkFiles(s"$dir/t", snap.version + 1, i * 10, 2, delta = true),
        Some(("cdc", i.toLong)))
    }
    val head = table.currentVersion
    assert(head == nCommits.toLong)
    // brute-force ground truth first (the OLD resolution): all files of every
    // snapshot in range, filtered to that version's delta adds
    val brute = (21L to head).flatMap(v =>
      table.files(table.snapshot(v)).filter(f => f.delta && f.addedAtVersion == v))
      .distinct.toSet
    TableLog.clearManifestCacheForTest()
    val p0 = TableLog.manifestParses.get()
    val got = table.changeFilesBetween(20L, head)
    val parsed = TableLog.manifestParses.get() - p0
    assert(got.toSet == brute, "per-version lookup diverged from ground truth")
    assert(got.size == 100 * 2)
    // each version contributes at most its own add manifest plus the
    // same-commit fold manifest — never the snapshot's whole manifest list
    // (the old walk parsed ~#manifests (>30 here) per version: >3000 parses)
    assert(parsed <= 2 * 100,
      s"catch-up parsed $parsed manifests for 100 versions — not O(new manifests)")
  }

  test("head discovery probes forward: no snapshot-log listing per commit") {
    val dir = TestSpark.tmpDir("mhead")
    val table = LakeTable.create(s"$dir/t", schema, keyCols = Seq("conv_id"))
    // an instance whose hint will be far BELOW the vacuum floor later
    val stale = LakeTable.load(s"$dir/t")
    assert(stale.currentVersion == 0L) // hint primed at v0
    table.currentVersion // may pay the one cold listing
    val scans0 = table.snapshotListScans.get()
    (0 until 50).foreach { i =>
      val snap = table.currentSnapshot
      table.commitChange(snap, snap.schemaJson, Set.empty,
        mkFiles(s"$dir/t", snap.version + 1, i * 5, 5), None)
    }
    assert(table.snapshotListScans.get() == scans0,
      "steady-state commits must not list the snapshot log")
    assert(table.currentVersion == 50L)
    // vacuum below the hint, then a FRESH instance (cold hint) must still
    // find the head — and a stale-hinted instance must recover via fallback
    graft.lake.Compaction.vacuum(table, retainVersions = 2, orphanMinAgeMs = 0L)
    assert(table.currentVersion == 50L)
    val fresh = LakeTable.load(s"$dir/t")
    assert(fresh.currentVersion == 50L)
    // the stale instance's hint (v0) AND the versions above it up to the
    // floor are gone — the forward probe must detect the hole and fall back
    // to a listing rather than return a vacuumed version
    assert(stale.currentVersion == 50L,
      "stale-hinted instance returned a vacuumed head")
    // cross-instance visibility: a commit by the fresh instance is seen by
    // the original via forward probe, no listing
    val scans1 = table.snapshotListScans.get()
    val s = fresh.currentSnapshot
    fresh.commitChange(s, s.schemaJson, Set.empty, Nil, Some(("hd", 1L)))
    assert(table.currentVersion == 51L)
    assert(table.snapshotListScans.get() == scans1)
  }

  test("manifest-level pruning: non-intersecting manifests are never parsed") {
    val dir = TestSpark.tmpDir("mprune")
    val table = LakeTable.create(s"$dir/t", schema, keyCols = Seq("conv_id"))
    // three disjoint key ranges, one manifest each (below fold threshold)
    Seq(0, 1000, 2000).foreach { base =>
      val snap = table.currentSnapshot
      table.commitChange(snap, snap.schemaJson, Set.empty,
        mkFiles(s"$dir/t", snap.version + 1, base, 10), None)
    }
    val snap = table.currentSnapshot
    assert(snap.manifests.size == 3)
    TableLog.clearManifestCacheForTest()
    val parses0 = TableLog.manifestParses.get()
    val got = table.filesIntersecting(snap, KeyRanges.span(Some(enc(1003)), Some(enc(1007))))
    assert(TableLog.manifestParses.get() - parses0 == 1,
      "exactly one manifest (the intersecting range) should be parsed")
    assert(got.size == 10 && got.forall(f =>
      KeyCodec.compare(f.minKey, enc(1000)) >= 0 &&
        KeyCodec.compare(f.maxKey, enc(1009)) <= 0))
    // a MoR-style pure-append commit parses NO manifests at all
    TableLog.clearManifestCacheForTest()
    val parses1 = TableLog.manifestParses.get()
    table.commitChange(table.currentSnapshot, snap.schemaJson, Set.empty,
      mkFiles(s"$dir/t", snap.version + 2, 5000, 5), Some(("ck", 0L)))
    assert(TableLog.manifestParses.get() == parses1,
      "pure-append commit must not parse any manifest")
    // a bounded removal parses only manifests intersecting the removed envelope
    TableLog.clearManifestCacheForTest()
    val victim = table.filesIntersecting(table.currentSnapshot,
      KeyRanges.span(Some(enc(2000)), Some(enc(2009))))
    TableLog.clearManifestCacheForTest()
    val parses2 = TableLog.manifestParses.get()
    table.commitChange(table.currentSnapshot, snap.schemaJson,
      victim.map(_.path).toSet, Nil, None,
      removedRanges = KeyRanges.span(Some(enc(2000)), Some(enc(2009))))
    assert(TableLog.manifestParses.get() - parses2 == 1,
      "bounded removal must parse only the intersecting manifest")
    assert(table.currentFiles.size == 30 + 5 - 10)
  }

  test("cold currentVersion closes its snapshot-log listing: no fd leak") {
    val dir = TestSpark.tmpDir("fdleak")
    val table = LakeTable.create(s"$dir/t", schema, keyCols = Seq("conv_id"))
    (0 until 3).foreach { _ =>
      val snap = table.currentSnapshot
      table.commitChange(snap, snap.schemaJson, Set.empty, Nil, None)
    }
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.UnixOperatingSystemMXBean]
    val fds0 = os.getOpenFileDescriptorCount
    // each fresh instance starts with a cold version hint, so its first
    // currentVersion lists the snapshot log
    val scans = (0 until 500).map { _ =>
      val t = LakeTable.load(s"$dir/t")
      assert(t.currentVersion == 3L)
      t.snapshotListScans.get()
    }
    assert(scans.forall(_ == 1L), "every cold instance must list once")
    val leaked = os.getOpenFileDescriptorCount - fds0
    // an unclosed listing holds its directory handle until GC finalizes it:
    // 500 cold loads would leave hundreds open
    assert(leaked < 50, s"$leaked file descriptors left open by 500 cold loads")
  }
}
