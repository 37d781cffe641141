package graft

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, RowDataSourceScanExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.{ChangelogGen, GenParams}
import graft.lake.{Compaction, DataFile, KeyCodec, LakeTable}
import graft.merge.{MergeInto, MergeMode, MergeOptions, Placement}
import graft.model.Schemas

/**
 * Merge-on-read delta placement by the base files' key ranges
 * ([[Placement]]): every delta file of an epoch over a range-placed base lies
 * inside one base range, so a point read opens one base file and one range's
 * deltas per epoch, and the table still equals the fold oracle.
 */
class PlacementSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val p = GenParams(seed = 7L, nEvents = 10000, nConvs = 100, eventsPerFile = 1000,
    turnsPerConv = 30)
  private val ts = Timestamp.valueOf("2025-01-01 00:00:00")
  /** above every generated lsn */
  private val TopLsn = 1000000000L

  private def events: DataFrame =
    ChangelogGen.events(spark, p)
      .map { case (f, e) => (f, e.op, e.lsn, e.conv_id, e.turn_idx, e.role, e.text,
        e.tool, e.ts, e.tool_meta) }
      .toDF("wal_file", "op", "lsn", "conv_id", "turn_idx", "role", "text",
        "tool", "ts", "tool_meta")

  private def row(op: String, lsn: Long, conv: String, turn: Int, text: String): DataFrame =
    Seq((op, lsn, conv, turn, "user", text, None: Option[String], ts, None: Option[String]))
      .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts", "tool_meta")

  private def state(t: LakeTable): Map[(String, Int), (String, String)] =
    t.read(spark).select("conv_id", "turn_idx", "role", "text").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> ((r.getString(2), r.getString(3)))).toMap

  /** Distinct maxima of the base files' first-key intervals: range `i` holds
    * the keys in `(maxima(i - 1), maxima(i)]`, the last range everything above. */
  private def maxima(base: Seq[DataFile]): IndexedSeq[String] =
    base.map(_.maxKey).distinct.sorted(KeyCodec.ordering).toIndexedSeq

  private def rangeOf(ms: IndexedSeq[String], key: String): Int = {
    val i = ms.indexWhere(m => KeyCodec.compare(key, m) <= 0)
    if (i < 0) ms.size - 1 else i
  }

  /**
   * One merge-on-read epoch of WAL files 0..6 folded into a range-placed
   * base, then three epochs (files 7, 8, 9: the hot key, deletes and late
   * lower-lsn events) plus a delete and re-insert of one key and a late
   * lower-lsn insert of another. Returns the table and its expected state.
   */
  private def aligned(tag: String): (String, LakeTable, Map[(String, Int), (String, String)]) = {
    val dir = TestSpark.tmpDir(tag)
    val table = LakeTable.create(s"$dir/t", Schemas.turn)
    val ck = s"$tag-${System.nanoTime()}"
    val mor = MergeOptions(mode = MergeMode.Mor, minRowsPerFile = 100,
      morCompactDeltaRatio = 1e9, morCompactMaxDeltaFiles = Int.MaxValue)
    val ev = events.cache()
    val oracle = ChangelogGen.foldOracle(p).map { case (k, e) => k -> ((e.role, e.text)) }
    val reinserted = oracle.keys.toSeq.sorted.head
    val late = oracle.keys.toSeq.sorted.last
    try {
      MergeInto.merge(spark, table, ev.filter($"wal_file" < 7).drop("wal_file"), ck, 0L, mor)
      Compaction.foldDeltas(spark, table, minRowsPerFile = 700)
      def file(f: Int) = ev.filter($"wal_file" === f).drop("wal_file")
      MergeInto.merge(spark, table, file(7), ck, 1L, mor)
      MergeInto.merge(spark, table,
        file(8).unionByName(row("D", TopLsn, reinserted._1, reinserted._2, null)), ck, 2L, mor)
      MergeInto.merge(spark, table, file(9)
        .unionByName(row("I", TopLsn + 1, reinserted._1, reinserted._2, "again"))
        .unionByName(row("I", 1L, late._1, late._2, "stale")), ck, 3L, mor)
    } finally ev.unpersist()
    (s"$dir/t", table, oracle.updated(reinserted, ("user", "again")))
  }

  test("MoR epochs over a range-folded base: deltas lie inside runs of whole base " +
    "ranges, one range each in the first epoch, and the table equals the fold oracle " +
    "after foldDeltas") {
    val (_, table, want) = aligned("place-ranges")
    val (deltas, base) = table.currentFiles.partition(_.delta)
    val ms = maxima(base)
    assert(ms.size >= 3, s"expected several base ranges, got $base")
    assert(table.currentSnapshot.baseRanges == ms, "the fold's ranges, carried by the epochs")
    val epochs = deltas.groupBy(_.addedAtVersion).toSeq.sortBy(_._1).map(_._2)
    assert(epochs.size == 3)
    def span(d: DataFile) = s"[${d.minKey}, ${d.maxKey}]"
    // the first epoch after the fold has no loads: every range is a group
    epochs.head.foreach { d =>
      assert(rangeOf(ms, d.minKey) == rangeOf(ms, d.maxKey),
        s"delta ${span(d)} crosses base ranges $ms")
    }
    // later groups may join light ranges to a neighbour, but a group is a
    // run of whole ranges: the epoch's deltas, joined where their keys
    // overlap, never share a base range with another such run
    epochs.foreach { ds =>
      val runs = ds.sortBy(_.minKey)(KeyCodec.ordering).foldLeft(List.empty[(String, String)]) {
        case ((lo, hi) :: rest, d) if KeyCodec.compare(d.minKey, hi) <= 0 =>
          (lo, Seq(hi, d.maxKey).max(KeyCodec.ordering)) :: rest
        case (acc, d) => (d.minKey, d.maxKey) :: acc
      }.reverse.map { case (lo, hi) => (rangeOf(ms, lo), rangeOf(ms, hi)) }
      assert(runs.size >= 2 && runs.zip(runs.tail).forall { case (a, b) => a._2 < b._1 },
        s"deltas ${ds.map(span)} share base ranges $ms: $runs")
    }
    assert(state(table) == want, "read-time fold over aligned deltas")
    Compaction.foldDeltas(spark, table)
    assert(!table.currentFiles.exists(_.delta))
    assert(state(table) == want, "foldDeltas changed the table")
  }

  test("a point read folds one base file and at most k deltas per epoch") {
    val (dir, table, want) = aligned("place-point")
    val files = table.currentFiles
    val (deltas, base) = files.partition(_.delta)
    val ms = maxima(base)
    // a conversation strictly inside one base file's interval
    val conv = want.keys.map(_._1).toSeq.distinct.sorted.find(c => base.exists(f =>
      KeyCodec.compare(f.minKey, c) < 0 && KeyCodec.compare(c, f.maxKey) < 0)).get
    val point = spark.read.format("graft").load(dir)
      .filter($"conv_id" === conv).select("turn_idx", "text")
    val resolved = point.queryExecution.sparkPlan.collectFirst {
      case s: RowDataSourceScanExec => s.relation
    }.collect { case r: graft.spark.GraftRelation => r.resolved }.get
    val byName = files.map(f => new Path(f.path).getName -> f).toMap
    val scanned = resolved.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s.relation.location.inputFiles.toSeq
    }.flatten.map(f => byName(new Path(f).getName))
    assert(scanned.count(!_.delta) == 1, s"base files scanned: ${scanned.filterNot(_.delta)}")
    // an epoch writes at most 2 x parallelism partitions, k per base range
    val k = math.ceil(2.0 * spark.sparkContext.defaultParallelism / ms.size).toInt
    scanned.filter(_.delta).groupBy(_.addedAtVersion).foreach { case (v, ds) =>
      assert(ds.size <= k, s"epoch v$v: ${ds.size} deltas scanned, k = $k")
    }
    assert(scanned.count(_.delta) < deltas.size / 2,
      s"${scanned.count(_.delta)} of ${deltas.size} deltas scanned")
    val got = point.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got == want.collect { case ((`conv`, t), (_, text)) => t -> text })
  }

  test("a hash-folded base, an empty base and unknown bounds fall back to the hash exchange") {
    assert(Placement.forDeltas(Nil, StringType, 8) == Placement.ByHash)
    val dir = TestSpark.tmpDir("place-hash")
    val table = LakeTable.create(s"$dir/t", Schemas.turn)
    val mor = MergeOptions(mode = MergeMode.Mor, minRowsPerFile = 100,
      morCompactDeltaRatio = 1e9, morCompactMaxDeltaFiles = Int.MaxValue)
    MergeInto.merge(spark, table, events.filter($"wal_file" < 7).drop("wal_file"),
      s"place-hash-${System.nanoTime()}", 0L, mor)
    assert(table.currentSnapshot.baseRanges.isEmpty, "an empty base has no ranges")
    Compaction.foldDeltas(spark, table, minRowsPerFile = 700, rangePlace = false)
    val base = table.currentFiles
    assert(base.size >= 2 && !base.exists(_.delta))
    assert(Placement.rangesOf(base).isEmpty && table.currentSnapshot.baseRanges.isEmpty,
      s"hash-folded base intervals overlap: ${base.map(f => (f.minKey, f.maxKey))}")
    val disjoint = Seq(("a", "c"), ("d", "f"))
      .map { case (lo, hi) => DataFile("p", 1, lo, hi, 0, 0, 1) }
    assert(Placement.rangesOf(disjoint) == Seq("c", "f"))
    assert(Placement.rangesOf(disjoint :+ DataFile("q", 1, null, null, 0, 0, 1)).isEmpty)
  }

  test("an epoch's partitions follow the previous epoch's rows per range: " +
    "the hot key's range gets more") {
    val (_, table, _) = aligned("place-loads")
    val (deltas, base) = table.currentFiles.partition(_.delta)
    val ms = maxima(base)
    val hot = KeyCodec.encode(StringType, "conv_hot")
    val hotRange = rangeOf(ms, hot)
    // per epoch: (its files in the hot key's range, what an even split of
    // its partitions over the ranges gives that range)
    val hotFiles = deltas.groupBy(_.addedAtVersion).toSeq.sortBy(_._1).map { case (_, ds) =>
      val even = Placement.forDeltas(ms, StringType, ds.size) match {
        case Placement.ByBase(_, bounds, counts) =>
          val g = bounds.indexWhere(b => KeyCodec.compare(hot, b) <= 0)
          counts(if (g < 0) counts.size - 1 else g)
        case other => fail(s"expected ByBase, got $other")
      }
      (ds.count(d => rangeOf(ms, d.minKey) == hotRange), even)
    }
    assert(hotFiles.size == 3 && ms.size < 8, s"ranges $ms")
    // the first epoch after the fold saw no loads and splits ranges evenly;
    // the hot key (20% of events) then draws more than an even share
    assert(hotFiles(0)._1 == hotFiles(0)._2, s"hot range files per epoch: $hotFiles")
    assert(hotFiles.drop(1).forall { case (n, even) => n > even },
      s"hot range files per epoch: $hotFiles")
  }

  test("a point read over hash-placed deltas keeps the parallel fold") {
    val dir = TestSpark.tmpDir("place-hash-point")
    val table = LakeTable.create(s"$dir/t", Schemas.turn)
    val mor = MergeOptions(mode = MergeMode.Mor, minRowsPerFile = 100,
      morCompactDeltaRatio = 1e9, morCompactMaxDeltaFiles = Int.MaxValue)
    val ck = s"place-hash-point-${System.nanoTime()}"
    val ev = events.cache()
    try {
      MergeInto.merge(spark, table, ev.filter($"wal_file" < 7).drop("wal_file"), ck, 0L, mor)
      Compaction.foldDeltas(spark, table, minRowsPerFile = 700, rangePlace = false)
      MergeInto.merge(spark, table, ev.filter($"wal_file" === 7).drop("wal_file"), ck, 1L, mor)
    } finally ev.unpersist()
    assert(table.currentSnapshot.baseRanges.isEmpty && table.currentFiles.exists(_.delta))
    val conv = "conv_000042"
    val point = spark.read.format("graft").load(s"$dir/t").filter($"conv_id" === conv)
    val fold = point.queryExecution.sparkPlan.collectFirst {
      case s: RowDataSourceScanExec => s.relation
    }.collect { case r: graft.spark.GraftRelation => r.resolved }.get
    val fp = fold.queryExecution.executedPlan.toString
    assert(fp.contains("Exchange"), s"a hash-placed table's point read folds in one task:\n$fp")
    assert(point.count() == table.read(spark).filter($"conv_id" === conv).count())
  }

  test("commits keep the base ranges true: a rebase recomputes them, and hash-placed " +
    "deltas clear them") {
    val dir = TestSpark.tmpDir("place-commit")
    val table = LakeTable.create(s"$dir/t", Schemas.turn)
    val mor = MergeOptions(mode = MergeMode.Mor, minRowsPerFile = 100,
      morCompactDeltaRatio = 1e9, morCompactMaxDeltaFiles = Int.MaxValue)
    val ck = s"place-commit-${System.nanoTime()}"
    val ev = events.cache()
    def file(f: Int) = ev.filter($"wal_file" === f).drop("wal_file")
    def baseRangesNow = Placement.rangesOf(table.currentFiles.filterNot(_.delta))
    try {
      MergeInto.merge(spark, table, ev.filter($"wal_file" < 7).drop("wal_file"), ck, 0L, mor)
      // a delta commit staged before a range fold: its deltas were placed by
      // hash, so landing after the fold it clears the fold's ranges
      val beforeFold = table.currentSnapshot
      Compaction.foldDeltas(spark, table, minRowsPerFile = 700)
      assert(table.currentSnapshot.baseRanges.nonEmpty)
      val stray = DataFile(s"$dir/none.parquet", 1, "a", "z", 0, 0,
        beforeFold.version + 1, delta = true)
      table.commitChange(beforeFold, beforeFold.schemaJson, Set.empty, List(stray), None)
      assert(table.currentSnapshot.baseRanges.isEmpty, "a stale delta commit kept the ranges")
      table.commitChange(table.currentSnapshot, table.currentSnapshot.schemaJson,
        Set(stray.path), Nil, None)

      // a fold staged before a copy-on-write epoch changed the base: its
      // ranges are computed again from the head's base files
      MergeInto.merge(spark, table, file(7), ck, 1L, mor)
      val stale = table.currentSnapshot
      val (deltas, base) = table.currentFiles.partition(_.delta)
      MergeInto.merge(spark, table, row("I", TopLsn, "conv_zzz", 0, "new"), s"$ck-cow", 0L,
        MergeOptions())
      val folded = base.head.copy(path = s"$dir/folded.parquet")
      table.commitChange(stale, stale.schemaJson, (deltas :+ base.head).map(_.path).toSet,
        List(folded), None, baseRanges = Some(Placement.rangesOf(base.tail :+ folded)))
      assert(table.currentSnapshot.baseRanges == baseRangesNow)
      assert(baseRangesNow.last == KeyCodec.encode(StringType, "conv_zzz"))

      // rewriting base files that hash-placed deltas sit on records no
      // ranges: a copy-on-write epoch clears them, so the next merge-on-read
      // epoch places its deltas by hash
      MergeInto.merge(spark, table, row("I", TopLsn + 1, "conv_zzz", 1, "cow"), s"$ck-cow", 1L,
        MergeOptions())
      MergeInto.merge(spark, table, file(8), ck, 2L, mor)
      val head = table.currentSnapshot
      val (hashDeltas, base2) = table.currentFiles.partition(_.delta)
      assert(head.baseRanges.isEmpty && hashDeltas.nonEmpty)
      val merged = base2.head.copy(path = s"$dir/merged.parquet")
      val leftRanges = Placement.rangesOf(base2.tail :+ merged)
      assert(leftRanges.nonEmpty)
      table.commitChange(head, head.schemaJson, Set(base2.head.path), List(merged), None,
        baseRanges = Some(leftRanges))
      assert(table.currentSnapshot.baseRanges.isEmpty, "ranges recorded over hash-placed deltas")
    } finally ev.unpersist()
  }

  test("placement groups: thinned to nOut, or split into hash sub-partitions") {
    def files(bounds: (String, String)*) =
      bounds.map { case (lo, hi) => DataFile("p", 1, lo, hi, 0, 0, 1) }
    // shared endpoints (one first key across three files) are disjoint
    val six = Placement.rangesOf(files(("a", "b"), ("b", "b"), ("b", "d"), ("e", "f"),
      ("g", "h"), ("i", "j"), ("k", "l")))
    assert(six == Seq("b", "d", "f", "h", "j", "l"))
    Placement.forDeltas(six, StringType, 4) match {
      case Placement.ByBase(_, uppers, counts) =>
        assert(counts == Seq(1, 1, 1, 1))
        assert(uppers == Seq("b", "f", "h"))
      case other => fail(s"expected ByBase, got $other")
    }
    Placement.forDeltas(Seq("c", "f", "z"), StringType, 8) match {
      case Placement.ByBase(_, uppers, counts) =>
        assert(uppers == Seq("c", "f") && counts == Seq(3, 2, 3))
      case other => fail(s"expected ByBase, got $other")
    }
    // a row's group follows KeyCodec's UTF-8 byte order (U+1F600 sorts
    // above U+E000 there, below it in UTF-16); a null key takes the last
    val byBase = Placement.ByBase(StringType, Vector("b", "\uE000"), Vector(1, 1, 1))
    val keys = Seq("a", "b", "c", "\uD83D\uDE00", null).toDF("k")
    assert(keys.select(byBase.groupIndex($"k")).as[Int].collect().toSeq == Seq(0, 0, 1, 2, 2))
    // loads: the heavy last range gets three of four partitions, and the
    // first range joins the second's group
    val loads = Placement.Loads(Vector("b", "d", "f"), Vector(1.0, 1.0, 1.0, 5.0))
    assert(Placement.forDeltas(Seq("b", "d", "f", "h"), StringType, 4, Some(loads)) ==
      Placement.ByBase(StringType, Vector("d"), Vector(1, 3)))
    // loads of other ranges (before a fold) are shared by the ranges they overlap
    assert(Placement.Loads(Vector("m"), Vector(10.0, 30.0)).over(Vector("c", "p", "x")) ==
      Seq(5.0, 15.0, 10.0, 10.0))
    assert(Placement.rangesOf(files(("a", "e"), ("c", "f"))).isEmpty)
    // the recorded ranges stay bounded; the last one keeps the top key
    val many = Placement.rangesOf((0 until 1000).map(i => f"k$i%04d")
      .map(k => DataFile("p", 1, k, k, 0, 0, 1)))
    assert(many.size == Placement.MaxRanges && many.last == "k0999")
  }

  test("hash seeds: Spark's hash partitioning sends seed p to partition p") {
    Seq(1, 7, 16).foreach { n =>
      val seeds = Placement.hashSeeds(n)
      val got = seeds.toSeq.zipWithIndex.toDF("x", "p").repartition(n, $"x")
        .select(spark_partition_id(), $"p").as[(Int, Int)].collect()
      assert(got.forall { case (pid, p) => pid == p }, s"n = $n: ${got.toSeq}")
    }
  }

  test("long-keyed table: deltas align with a range fold's ranges; a copy-on-write " +
    "epoch clears them") {
    val dir = TestSpark.tmpDir("place-long")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("v", StringType, nullable = true)))
    val table = LakeTable.create(s"$dir/t", schema, keyCols = Seq("id"))
    def batch(ids: Seq[Long], lsn0: Long) =
      ids.zipWithIndex.map { case (id, i) => ("U", lsn0 + i, id - 500L, s"v$lsn0") }
        .toDF("op", "lsn", "id", "v")
    val ck = s"place-long-${System.nanoTime()}"
    val mor = MergeOptions(keyCols = Seq("id"), mode = MergeMode.Mor, minRowsPerFile = 10,
      morCompactDeltaRatio = 1e9, morCompactMaxDeltaFiles = Int.MaxValue)
    MergeInto.merge(spark, table, batch(0L until 1000L, 0L), ck, 0L, mor)
    Compaction.foldDeltas(spark, table, minRowsPerFile = 250)
    val base = table.currentFiles
    assert(base.size >= 3 && table.currentSnapshot.baseRanges == maxima(base))
    MergeInto.merge(spark, table, batch((0L until 1000L by 7L), 10000L), ck, 1L, mor)
    val ms = maxima(base)
    val deltas = table.currentFiles.filter(_.delta)
    assert(deltas.nonEmpty)
    deltas.foreach(d => assert(rangeOf(ms, d.minKey) == rangeOf(ms, d.maxKey)))
    val got = table.read(spark).as[(Long, String)].collect().toMap
    assert(got.size == 1000 && got(-500L) == "v10000" && got(-499L) == "v0")
    assert(Seq(Long.MinValue, -1L, 0L, 42L, Long.MaxValue)
      .forall(v => KeyCodec.decodeLong(KeyCodec.encodeLong(v)) == v))
    // a copy-on-write epoch leaves the untouched base's bounds unread, so
    // the ranges are unknown until the next range fold
    MergeInto.merge(spark, table, batch(Seq(3L), 20000L), ck, 2L,
      MergeOptions(keyCols = Seq("id")))
    assert(table.currentSnapshot.baseRanges.isEmpty)
  }
}
