package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.{ChangelogGen, GenParams}
import graft.lake.{LakeTable, TableLog}
import graft.merge.Maintenance
import graft.model.Schemas
import graft.stream.{CdcIngestJob, IngestConfig}

/**
 * The north rule's core invariant (SURVEY.md §5): replay — from scratch, and
 * resumed from a checkpoint — reproduces the reference fold's final state
 * bit-for-bit, with per-turn text equality under (conv_id, turn_idx, lsn)
 * ordering.
 */
class StreamingReplaySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val p = GenParams(nEvents = 8000, nConvs = 120, eventsPerFile = 1000,
    maxLateEvents = 300, turnsPerConv = 25)

  /** Canonical sorted state: every payload column under (conv, turn) order. */
  private def state(dir: String): Seq[Seq[Any]] = {
    val df = LakeTable.load(dir).read(spark)
    val cols = df.columns.sorted
    df.selectExpr(cols: _*).collect().toSeq
      .map((r: Row) => r.toSeq)
      .sortBy(s => (s(cols.indexOf("conv_id")).asInstanceOf[String],
        s(cols.indexOf("turn_idx")).asInstanceOf[Int]))
  }

  private def oracleKeys = ChangelogGen.foldOracle(p)

  test("streaming ingest (AvailableNow, multi-epoch) matches the fold oracle; " +
    "from-scratch replay is bit-for-bit identical") {
    val work = TestSpark.tmpDir("stream-replay")
    ChangelogGen.writeWal(spark, p, s"$work/wal")

    def ingest(n: Int): Seq[Seq[Any]] = {
      val cfg = IngestConfig(s"$work/wal", s"$work/table$n", s"$work/ckpt$n",
        maxFilesPerTrigger = Some(3))
      CdcIngestJob.runAvailableNow(spark, cfg)
      state(s"$work/table$n")
    }

    val run1 = ingest(1)
    val oracle = oracleKeys
    assert(run1.size == oracle.size, s"rows: got ${run1.size}, want ${oracle.size}")
    // per-turn text equality under stable ordering
    val textIdx = LakeTable.load(s"$work/table1").read(spark).columns.sorted.indexOf("text")
    val convIdx = LakeTable.load(s"$work/table1").read(spark).columns.sorted.indexOf("conv_id")
    val turnIdx = LakeTable.load(s"$work/table1").read(spark).columns.sorted.indexOf("turn_idx")
    run1.foreach { row =>
      val k = (row(convIdx).asInstanceOf[String], row(turnIdx).asInstanceOf[Int])
      assert(oracle.contains(k), s"unexpected key $k")
      assert(row(textIdx) == oracle(k).text, s"text mismatch at $k")
    }
    // bit-for-bit replay equality (every column, canonical order)
    val run2 = ingest(2)
    assert(run1 == run2, "from-scratch replay must reproduce identical state")
    // multiple epochs actually happened (not one mega-batch); lineage is the
    // direct epoch count (table versions can also move via maintenance)
    val lineage = new java.io.File(s"$work/table1/_lineage").list()
    assert(lineage != null && lineage.nonEmpty, "lineage files missing")
    def walkParts(f: java.io.File): Int =
      if (f.isFile) (if (f.getName.startsWith("part-")) 1 else 0)
      else Option(f.listFiles()).getOrElse(Array.empty).map(walkParts).sum
    val walFiles = walkParts(new java.io.File(s"$work/wal"))
    assert(lineage.length >= 3,
      s"expected >=3 epochs (maxFilesPerTrigger=3 over $walFiles WAL files), " +
        s"saw ${lineage.length} [${lineage.sorted.mkString(",")}], " +
        s"version ${LakeTable.load(s"$work/table1").currentVersion}")
  }

  test("a drain merges through one table handle: 20 epochs list the snapshot log once") {
    val work = TestSpark.tmpDir("stream-handle")
    val p20 = p.copy(nEvents = 4000, eventsPerFile = 200, maxLateEvents = 100)
    assert(p20.nFiles == 20)
    ChangelogGen.writeWal(spark, p20, s"$work/wal")
    LakeTable.create(s"$work/table", CdcIngestJob.payloadSchema(Schemas.changeV2))
    Maintenance.await()
    val scans0 = TableLog.allSnapshotListScans.get()
    val cfg = IngestConfig(s"$work/wal", s"$work/table", s"$work/ckpt",
      maxFilesPerTrigger = Some(1))
    CdcIngestJob.drainAvailableNow(spark, cfg)
    Maintenance.await()
    val scans = TableLog.allSnapshotListScans.get() - scans0
    val table = LakeTable.load(s"$work/table")
    assert(table.currentSnapshot.epochHwm(CdcIngestJob.ckptId(cfg.checkpointDir)) == 19L)
    assert(scans == 1, s"a 20-epoch drain listed the snapshot log $scans times")
    assert(state(s"$work/table").size == ChangelogGen.foldOracle(p20).size)
  }

  test("checkpoint resume: stop after era 0, append era 1 with evolved schema, " +
    "resume — final state equals a full run and the oracle") {
    val work = TestSpark.tmpDir("stream-resume")
    val wal = s"$work/wal"
    val tableDir = s"$work/table"
    val ckpt = s"$work/ckpt"

    // phase 1: only era-0 files exist; narrow (v1) schema
    ChangelogGen.writeWalEra0(spark, p, wal)
    CdcIngestJob.runAvailableNow(spark,
      IngestConfig(wal, tableDir, ckpt, schema = Schemas.changeV1,
        maxFilesPerTrigger = Some(2)))
    val midVersion = LakeTable.load(tableDir).currentVersion
    assert(midVersion >= 2, s"expected multiple epochs in phase 1, saw $midVersion")

    // phase 2: era-1 files appear (schema evolved); restart with wide schema
    // and the SAME checkpoint + table — only new files are processed.
    ChangelogGen.writeWalEra1(spark, p, wal)
    CdcIngestJob.runAvailableNow(spark,
      IngestConfig(wal, tableDir, ckpt, schema = Schemas.changeV2,
        maxFilesPerTrigger = Some(2)))

    val got = state(tableDir)
    val oracle = oracleKeys
    assert(got.size == oracle.size, s"rows: got ${got.size}, want ${oracle.size}")

    // equals an uninterrupted full run, bit for bit
    ChangelogGen.writeWal(spark, p, s"$work/walFull")
    CdcIngestJob.runAvailableNow(spark,
      IngestConfig(s"$work/walFull", s"$work/tableFull", s"$work/ckptFull",
        maxFilesPerTrigger = Some(3)))
    assert(got == state(s"$work/tableFull"),
      "resumed run must equal uninterrupted run bit-for-bit")

    // evolved column materialized
    assert(LakeTable.load(tableDir).payloadSchema.fieldNames.contains("tool_meta"))
  }

  test("custom merge key: streaming ingest creates the table with cfg's keyCols") {
    import org.apache.spark.sql.types._
    import graft.merge.{MergeMode, MergeOptions}
    import spark.implicits._
    val work = TestSpark.tmpDir("stream-customkey")
    val schema = StructType(Seq(
      StructField("op", StringType), StructField("lsn", LongType),
      StructField("id", LongType), StructField("v", StringType),
      StructField("ts", TimestampType)))
    Seq(("I", 1L, 10L, "a", java.sql.Timestamp.valueOf("2025-01-01 00:00:00")),
      ("U", 2L, 10L, "b", java.sql.Timestamp.valueOf("2025-01-01 00:00:01")),
      ("I", 3L, 11L, "c", java.sql.Timestamp.valueOf("2025-01-01 00:00:02")))
      .toDF("op", "lsn", "id", "v", "ts")
      .coalesce(1).write.parquet(s"$work/wal")
    CdcIngestJob.runAvailableNow(spark, IngestConfig(
      s"$work/wal", s"$work/table", s"$work/ckpt", schema = schema,
      mergeOptions = MergeOptions(keyCols = Seq("id"),
        mode = MergeMode.Mor)))
    val table = LakeTable.load(s"$work/table")
    assert(table.currentSnapshot.keyCols == List("id"))
    val got = table.read(spark).collect()
      .map(r => r.getLong(r.fieldIndex("id")) -> r.getString(r.fieldIndex("v"))).toMap
    assert(got == Map(10L -> "b", 11L -> "c"))
  }

  test("delete-after-read: consumed WAL files are removed, state still exact") {
    // the reference S3Reader's delete-after-read mode
    // (/root/reference/processors/s3_reader.go) = file-source cleanSource
    val work = TestSpark.tmpDir("stream-clean")
    val pSmall = p.copy(nEvents = 4000, eventsPerFile = 500)
    ChangelogGen.writeWal(spark, pSmall, s"$work/wal")
    def walFiles(): Int = {
      def count(d: java.io.File): Int =
        Option(d.listFiles()).getOrElse(Array.empty).map(f =>
          if (f.isDirectory) count(f) else if (f.getName.endsWith(".parquet")) 1 else 0).sum
      count(new java.io.File(s"$work/wal"))
    }
    val before = walFiles()
    assert(before >= 4)
    CdcIngestJob.runAvailableNow(spark,
      IngestConfig(s"$work/wal", s"$work/table", s"$work/ckpt",
        maxFilesPerTrigger = Some(2), cleanSource = "delete"))
    // cleanup runs on an async cleaner pool; poll briefly rather than racing
    // the query-termination edge
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    var after = walFiles()
    while (after >= before && System.nanoTime() < deadline) {
      Thread.sleep(250)
      after = walFiles()
    }
    assert(after < before,
      s"cleanSource=delete left all $before files in place")
    // and the ingested state is still the full fold oracle
    val got = state(s"$work/table").size
    assert(got == ChangelogGen.foldOracle(pSmall).size)
  }
}
