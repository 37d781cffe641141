package graft

import java.io.{ByteArrayOutputStream, ObjectOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{DataFile, KeyCodec, LakeTable, LocalFs, ParquetWrite}
import graft.merge.{MergeInto, MergeMode, MergeOptions}
import graft.model.Schemas

/**
 * The lake's parquet write ([[ParquetWrite]] under
 * `LakeTable.writeAndCommit`): manifest stats taken in the write tasks equal
 * a Spark scan of each file, empty partitions write nothing, a failed write
 * leaves no trace, and the task factory ships no Hadoop configuration.
 */
class ParquetWriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import LakeTable.LsnCol

  private val ts = Timestamp.valueOf("2025-01-01 00:00:00")

  /** Every data file any snapshot of the table ever referenced. */
  private def allFiles(t: LakeTable): List[DataFile] =
    t.availableVersions.toList.flatMap(v => t.files(t.snapshot(v))).distinctBy(_.path)

  /** The oracle: (rows, minKey, maxKey, minLsn, maxLsn) of each file by a
    * Spark scan of it, bounds in KeyCodec encoding (null = unknown). */
  private def scanned(t: LakeTable, files: List[DataFile])
      : Map[String, (Long, String, String, Long, Long)] = {
    val snap = t.currentSnapshot
    val k1 = snap.keyCols.head
    val k1Type = snap.schema(k1).dataType
    def enc(v: Any): String =
      if (KeyCodec.supports(k1Type) && v != null) KeyCodec.encode(k1Type, v) else null
    spark.read.schema(snap.schema).parquet(files.map(_.path): _*)
      .groupBy(input_file_name().as("path"))
      .agg(count(lit(1)), min(col(k1)), max(col(k1)), min(col(LsnCol)), max(col(LsnCol)))
      .collect()
      .map(r => LocalFs.localPath(r.getString(0)).toString ->
        ((r.getLong(1), enc(r.get(2)), enc(r.get(3)), r.getLong(4), r.getLong(5))))
      .toMap
  }

  private def assertStatsMatchScan(t: LakeTable): Unit = {
    val files = allFiles(t)
    assert(files.nonEmpty)
    val oracle = scanned(t, files)
    files.foreach { f =>
      val got = (f.rows, f.minKey, f.maxKey, f.minLsn, f.maxLsn)
      assert(oracle.get(LocalFs.localPath(f.path).toString).contains(got),
        s"${f.path}: manifest $got, scan ${oracle.get(LocalFs.localPath(f.path).toString)}")
    }
  }

  private def turns(rows: Seq[(String, Long, String, Option[String])]): DataFrame = {
    import spark.implicits._
    rows.map { case (op, lsn, k, text) => (op, lsn, k, 0, "user", text, None: Option[String], ts) }
      .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts")
  }

  private val mor = MergeOptions(mode = MergeMode.Mor, minRowsPerFile = 1L,
    morCompactDeltaRatio = 1e9, morCompactMaxDeltaFiles = Int.MaxValue)
  private val cow = MergeOptions(targetRowsPerFile = 7L, minRowsPerFile = 1L)

  test("manifest stats equal a scan of each file: string keys (UTF-8 byte order), " +
    "tombstones, a null first key, copy-on-write, merge-on-read and folds") {
    val dir = TestSpark.tmpDir("pw-string") + "/t"
    val t = LakeTable.create(dir, Schemas.turn)
    // U+FF5E sorts below U+1F600 in UTF-8 bytes, above it in UTF-16 units
    val keys = (0 until 40).map(i => f"c$i%03d") ++ Seq("～", "😀", "")
    MergeInto.merge(spark, t, turns(keys.zipWithIndex.map { case (k, i) =>
      ("I", i.toLong, k, Some(s"v$k")) }), "ck", 0L, cow)
    MergeInto.merge(spark, t, turns(keys.take(12).zipWithIndex.map { case (k, i) =>
      (if (i % 3 == 0) "D" else "U", 100L + i, k, Some(s"u$k")) }), "ck", 1L, cow)
    MergeInto.merge(spark, t, turns(keys.drop(30).zipWithIndex.map { case (k, i) =>
      (if (i % 2 == 0) "D" else "U", 200L + i, k, None) } :+
      (("I", 300L, null, Some("null key")))), "ck", 2L, mor)
    MergeInto.merge(spark, t, turns(Seq(("U", 400L, "😀", Some("late")))),
      "ck", 3L, mor)
    graft.lake.Compaction.foldDeltas(spark, t)
    assert(allFiles(t).exists(_.delta) && allFiles(t).exists(!_.delta))
    assert(allFiles(t).exists(_.maxKey == "😀"), "supplementary key is no max")
    assertStatsMatchScan(t)
  }

  test("manifest stats equal a scan of each file: int keys, all-null keys, " +
    "unsupported key types") {
    import spark.implicits._
    val payload = StructType(Seq(StructField("k", IntegerType), StructField("v", StringType)))
    val t = LakeTable.create(TestSpark.tmpDir("pw-int") + "/t", payload, keyCols = Seq("k"))
    def batch(rows: Seq[(String, Long, Option[Int])]): DataFrame =
      rows.map { case (op, lsn, k) => (op, lsn, k, s"v$lsn") }.toDF("op", "lsn", "k", "v")
    val k = Seq("k")
    MergeInto.merge(spark, t, batch((-50 to 50).map(i => ("I", i + 1000L, Some(i * 7)))),
      "ck", 0L, cow.copy(keyCols = k))
    MergeInto.merge(spark, t, batch((-5 to 5).map(i => ("D", i + 2000L, Some(i * 7)))),
      "ck", 1L, mor.copy(keyCols = k))
    // a delta of null keys only: unknown bounds
    MergeInto.merge(spark, t, batch(Seq(("I", 3000L, None), ("U", 3001L, None))),
      "ck", 2L, mor.copy(keyCols = k))
    assert(allFiles(t).exists(f => f.minKey == null && f.maxKey == null),
      "no file with null bounds")
    assert(allFiles(t).exists(_.minKey == KeyCodec.encodeLong(-350L)))
    assertStatsMatchScan(t)

    val dbl = LakeTable.create(TestSpark.tmpDir("pw-double") + "/t",
      StructType(Seq(StructField("d", DoubleType), StructField("v", StringType))),
      keyCols = Seq("d"))
    MergeInto.merge(spark, dbl, Seq(("I", 1L, 1.5, "a"), ("I", 2L, -2.5, "b"))
      .toDF("op", "lsn", "d", "v"), "ck", 0L, mor.copy(keyCols = Seq("d")))
    assert(dbl.currentFiles.nonEmpty && dbl.currentFiles.forall(_.minKey == null))
    assertStatsMatchScan(dbl)
  }

  test("manifest stats equal a scan of each file: sparse tables (cell lsn map)") {
    val t = LakeTable.create(TestSpark.tmpDir("pw-sparse") + "/t", Schemas.turn,
      sparseUpdates = true)
    val keys = (0 until 30).map(i => f"s$i%02d")
    MergeInto.merge(spark, t, turns(keys.zipWithIndex.map { case (k, i) =>
      ("I", i.toLong, k, Some(s"v$k")) }), "ck", 0L, mor)
    MergeInto.merge(spark, t, turns(keys.take(10).zipWithIndex.map { case (k, i) =>
      (if (i % 4 == 0) "D" else "U", 100L + i, k, if (i % 2 == 0) None else Some("x")) }),
      "ck", 1L, mor)
    graft.lake.Compaction.foldDeltas(spark, t)
    MergeInto.merge(spark, t, turns(keys.takeRight(5).zipWithIndex.map { case (k, i) =>
      ("U", 200L + i, k, Some("y")) }), "ck", 2L, cow)
    assert(t.currentSnapshot.schema.fieldNames.contains(LakeTable.CellLsnCol))
    assertStatsMatchScan(t)
  }

  private val kv = StructType(Seq(StructField("k", StringType), StructField("v", LongType)))

  /** A table of `kv` payload and `data` rows (k, v, _lsn, _deleted) as a
    * DataFrame of its stored schema, over `parts` partitions. */
  private def stored(t: LakeTable, rows: Seq[Row], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), t.currentSnapshot.schema)

  private def stagingDirs(t: LakeTable): Set[String] = {
    val s = Files.list(Paths.get(t.dir, "data"))
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  test("empty partitions add no file; an all-empty write commits none and " +
    "leaves no staging dir") {
    val t = LakeTable.create(TestSpark.tmpDir("pw-empty") + "/t", kv, keyCols = Seq("k"))
    val rows = Seq(Row("a", 1L, 1L, false), Row("b", 2L, 2L, false), Row("c", 3L, 3L, true))
    val w = t.writeAndCommit(t.currentSnapshot, t.currentSnapshot.schema,
      stored(t, rows, 8), delta = true, Nil, Some(("ck", 0L)))
    assert(w.files.size == 3 && w.files.forall(_.rows == 1), w.files.toString)
    val dir = LocalFs.localPath(w.files.head.path).getParent
    val onDisk = {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".parquet")).toList
      finally s.close()
    }
    assert(onDisk.sorted == w.files.map(f => LocalFs.localPath(f.path).getFileName.toString).sorted)
    assert(!Files.exists(dir.resolve("_SUCCESS")) && !Files.exists(dir.resolve("_temporary")))
    assert(onDisk.forall(_.matches("part-\\d{5}-0-[0-9a-f-]{36}\\..*parquet")), onDisk.toString)

    val before = stagingDirs(t)
    val empty = t.writeAndCommit(t.currentSnapshot, t.currentSnapshot.schema,
      stored(t, Nil, 4), delta = true, Nil, Some(("ck", 1L)))
    assert(empty.files.isEmpty)
    assert(empty.snapshot.epochHwm.get("ck").contains(1L))
    assert(t.currentFiles.size == 3)
    assert(stagingDirs(t) == before, "the all-empty write left a staging dir")
  }

  test("a write whose task throws commits nothing and deletes its files") {
    val t = LakeTable.create(TestSpark.tmpDir("pw-abort") + "/t", kv, keyCols = Seq("k"))
    t.writeAndCommit(t.currentSnapshot, t.currentSnapshot.schema,
      stored(t, Seq(Row("a", 1L, 1L, false)), 1), delta = true, Nil, Some(("ck", 0L)))
    val head = t.currentSnapshot
    val before = stagingDirs(t)
    val boom = udf((v: Long) => if (v == 13L) throw new IllegalStateException("boom") else v)
    val rows = (1 to 40).map(i => Row(f"k$i%02d", i.toLong, 100L + i, false))
    val failing = stored(t, rows, 4).withColumn("v", boom(col("v")))
    val e = intercept[Exception](t.writeAndCommit(head, head.schema, failing, delta = true,
      Nil, Some(("ck", 1L))))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("boom")), e.toString)
    assert(t.currentVersion == head.version)
    assert(t.currentFiles == t.files(head))
    assert(stagingDirs(t) == before, s"aborted write left ${stagingDirs(t) -- before}")
  }

  test("the task factory ships no Hadoop configuration and stays small") {
    val t = LakeTable.create(TestSpark.tmpDir("pw-ser") + "/t", kv, keyCols = Seq("k"))
    val f = ParquetWrite.taskFactory(spark, t.currentSnapshot.schema,
      t.newDataDir(1L), "k")
    try {
      val bytes = new ByteArrayOutputStream()
      val out = new ObjectOutputStream(bytes)
      out.writeObject(f)
      out.close()
      val text = new String(bytes.toByteArray, StandardCharsets.ISO_8859_1)
      assert(!text.contains("org.apache.hadoop.conf.Configuration"))
      assert(bytes.size < 16 * 1024, s"${bytes.size} bytes")
    } finally f.conf.destroy()
  }

  test("an epoch's Observation still completes through the write") {
    val t = LakeTable.create(TestSpark.tmpDir("pw-obs") + "/t", Schemas.turn)
    val s = MergeInto.merge(spark, t, turns(Seq(("I", 5L, "a", Some("x")),
      ("D", 9L, "b", None), ("I", 7L, "c", Some("z")))), "ck", 0L, mor)
    assert((s.batchRows, s.batchMinLsn, s.batchMaxLsn, s.tombstones) == ((3L, 5L, 9L, 1L)))
    assert(s.filesAdded == t.currentFiles.size && s.outputRows == 3L)
  }
}
