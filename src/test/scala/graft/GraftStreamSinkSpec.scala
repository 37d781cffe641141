package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.lake.{Compaction, LakeTable}
import graft.merge.{MergeInto, MergeMode, MergeOptions}
import graft.model.Schemas
import graft.stream.CdcIngestJob

/**
 * `df.writeStream.format("graft")`: every micro-batch is one idempotent
 * merge epoch. Covers the three accepted batch shapes (CDC envelope,
 * change-feed stored shape, plain append), the end-to-end
 * readStream→writeStream pipeline chain, exactly-once across restarts, and
 * the rejected-configuration errors.
 */
class GraftStreamSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val ts = Timestamp.valueOf("2025-01-01 00:00:00")
  private val mor = MergeOptions(mode = MergeMode.Mor)

  private def batch(rows: Seq[(String, Long, String, String)]): DataFrame = {
    import spark.implicits._
    rows.map { case (op, lsn, k, text) =>
      (op, lsn, k, 0, "user", text, None: Option[String], ts)
    }.toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts")
  }

  private def state(dir: String): Map[String, String] =
    LakeTable.load(dir).read(spark).collect()
      .map(r => r.getString(r.fieldIndex("conv_id")) ->
        r.getString(r.fieldIndex("text"))).toMap

  /** land df as ONE parquet file in walDir, mod-stamped for stream order */
  private def landWalFile(df: DataFrame, walDir: String, idx: Int): Unit = {
    import java.nio.file.{Files, Paths}
    val tmp = s"$walDir-tmp-$idx"
    df.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles
      .find(_.getName.endsWith(".parquet")).get
    Files.createDirectories(Paths.get(walDir))
    val dest = Paths.get(walDir, f"f$idx%03d.parquet")
    Files.move(part.toPath, dest)
    assert(dest.toFile.setLastModified(1735689600000L + idx * 1000L))
  }

  test("pipeline chain: readStream(graft) -> writeStream(graft) converges, restart-safe") {
    val work = TestSpark.tmpDir("gsink-chain")
    val up = s"$work/up"
    LakeTable.create(up, Schemas.turn)
    val table = LakeTable.load(up)
    val keys = (0 until 12).map(i => f"k$i%03d")
    MergeInto.merge(spark, table,
      batch(keys.zipWithIndex.map { case (k, i) => ("I", 1L + i, k, s"v0-$k") }),
      "up", 0L, mor)
    MergeInto.merge(spark, table,
      batch(Seq(("U", 100L, keys(0), "v1"), ("D", 101L, keys(1), null))),
      "up", 1L, mor)

    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(up)
        .writeStream.format("graft").option("path", s"$work/down")
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(q.exception.isEmpty, q.exception.map(_.toString).getOrElse(""))
    }

    drain()
    assert(state(s"$work/down") == state(up), "downstream must converge")
    val vAfterFirst = LakeTable.load(s"$work/down").currentVersion

    // nothing new upstream: a re-run commits no downstream epochs
    drain()
    assert(LakeTable.load(s"$work/down").currentVersion == vAfterFirst,
      "empty catch-up must not commit downstream epochs")

    // more upstream commits (incl. a late lower-lsn loser), same checkpoint
    MergeInto.merge(spark, table,
      batch(Seq(("U", 200L, keys(2), "v2"), ("U", 3L, keys(3), "stale"),
        ("I", 201L, "k999", "new"))),
      "up", 2L, mor)
    drain()
    assert(state(s"$work/down") == state(up),
      "restart must deliver only the new versions and stay convergent")
    assert(state(s"$work/down")(keys(3)) == s"v0-${keys(3)}",
      "late lower-lsn event must lose downstream too")
  }

  test("async folds: a sink epoch queues its due fold instead of running it") {
    val work = TestSpark.tmpDir("gsink-fold")
    val (up, down) = (s"$work/up", s"$work/down")
    // downstream: a small folded base
    LakeTable.create(down, Schemas.turn)
    MergeInto.merge(spark, LakeTable.load(down),
      batch((0 until 4).map(i => ("I", 1L + i, f"b$i%03d", "base"))), "seed", 0L, mor)
    Compaction.foldDeltas(spark, LakeTable.load(down))
    // upstream: more than twice the base's rows, so the epoch's fold is due
    LakeTable.create(up, Schemas.turn)
    MergeInto.merge(spark, LakeTable.load(up),
      batch((0 until 12).map(i => ("I", 100L + i, f"k$i%03d", "up"))), "up", 0L, mor)
    Compaction.testDelayBeforeFoldCommitMs = 4000L
    try {
      val q = spark.readStream.format("graft").load(up)
        .writeStream.format("graft").option("path", down)
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(q.exception.isEmpty, q.exception.map(_.toString).getOrElse(""))
      // an inline fold would have held the epoch until its commit
      assert(LakeTable.load(down).currentFiles.exists(_.delta),
        "the query ended with its deltas folded: the fold ran inside the epoch")
      MergeInto.awaitMaintenance()
      val after = LakeTable.load(down).currentFiles
      assert(after.nonEmpty && !after.exists(_.delta), "the queued fold did not run")
    } finally {
      Compaction.testDelayBeforeFoldCommitMs = 0L
    }
    assert(state(down) == state(up) ++ (0 until 4).map(i => f"b$i%03d" -> "base"))
  }

  test("epoch records carry the upstream versions in the sink's offset log") {
    val work = TestSpark.tmpDir("gsink-lineage")
    val up = s"$work/up"
    LakeTable.create(up, Schemas.turn)
    val table = LakeTable.load(up)
    (0 until 3).foreach(e => MergeInto.merge(spark, table,
      batch(Seq(("I", 1L + e, f"k$e%03d", s"v$e"))), "up", e.toLong, mor))
    assert(table.currentVersion == 3L)
    val ckpt = s"$work/ckpt"
    val q = spark.readStream.format("graft").option("maxVersionsPerBatch", "1").load(up)
      .writeStream.format("graft").option("path", s"$work/down")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.exception.isEmpty, q.exception.map(_.toString).getOrElse(""))

    val records = LineageSpec.epochRecords(s"$work/down")
    val id = "sink-" + CdcIngestJob.ckptId(ckpt)
    assert(records.map(r => (r.ckptId, r.epochId)) == (0L to 2L).map((id, _)).toList)
    // one upstream version per batch: (v - 1, v], the first from the
    // source's starting position
    assert(records.map(r => (r.sourceStart, r.sourceEnd)) ==
      List((null, "1"), ("1", "2"), ("2", "3")))
    records.foreach(r =>
      assert(r.sourceEnd == LineageSpec.offsetEntry(ckpt, r.epochId), r.toString))
  }

  test("CDC envelope shape from a file stream: inserts, updates, deletes fold") {
    val work = TestSpark.tmpDir("gsink-cdc")
    val wal = s"$work/wal"
    landWalFile(batch(Seq(("I", 1L, "a", "a0"), ("I", 2L, "b", "b0"),
      ("I", 3L, "c", "c0"))), wal, 0)
    landWalFile(batch(Seq(("U", 10L, "a", "a1"), ("D", 11L, "b", null),
      ("U", 2L, "c", "stale"))), wal, 1)

    val q = spark.readStream.schema(batch(Nil).schema)
      .option("maxFilesPerTrigger", 1).parquet(wal)
      .writeStream.format("graft").option("path", s"$work/t")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.exception.isEmpty, q.exception.map(_.toString).getOrElse(""))

    assert(state(s"$work/t") == Map("a" -> "a1", "c" -> "c0"),
      "update wins, delete removes, stale lsn loses")
    // one epoch per file under the sink's ledger
    val snap = LakeTable.load(s"$work/t").currentSnapshot
    assert(snap.epochHwm.values.max >= 1L, snap.epochHwm.toString)
  }

  test("plain append shape: upsert by key with auto-assigned arrival-order lsns") {
    val work = TestSpark.tmpDir("gsink-plain")
    val wal = s"$work/wal"
    import spark.implicits._
    def payload(rows: Seq[(String, String)]): DataFrame =
      rows.map { case (k, text) => (k, 0, "user", text, None: Option[String], ts) }
        .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    landWalFile(payload(Seq("a" -> "a0", "b" -> "b0")), wal, 0)
    landWalFile(payload(Seq("a" -> "a1", "c" -> "c0")), wal, 1)

    val q = spark.readStream.schema(payload(Nil).schema)
      .option("maxFilesPerTrigger", 1).parquet(wal)
      .writeStream.format("graft").option("path", s"$work/t")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.exception.isEmpty, q.exception.map(_.toString).getOrElse(""))

    assert(state(s"$work/t") == Map("a" -> "a1", "b" -> "b0", "c" -> "c0"),
      "later batch must win for the shared key (lsns assigned above table max)")
  }

  test("mid-run upstream widening: named error, restart converges with the new column") {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.streaming.StreamingQueryException
    val work = TestSpark.tmpDir("gsink-evo")
    val up = s"$work/up"
    LakeTable.create(up, Schemas.turn)
    val table = LakeTable.load(up)
    MergeInto.merge(spark, table,
      batch(Seq(("I", 1L, "a", "a0"), ("I", 2L, "b", "b0"))), "up", 0L, mor)

    // a LONG-RUNNING chain (not AvailableNow — restarts would re-pin the
    // schema and mask the mid-run case)
    val q = spark.readStream.format("graft").load(up)
      .writeStream.format("graft").option("path", s"$work/down")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .start()
    val deadline = System.nanoTime + 30_000_000_000L
    while (!(LakeTable.exists(s"$work/down") &&
        state(s"$work/down") == state(up)) && System.nanoTime < deadline) {
      assert(q.exception.isEmpty, q.exception.map(_.toString).getOrElse(""))
      Thread.sleep(100)
    }
    assert(state(s"$work/down") == state(up), "chain must converge pre-widening")

    // upstream widens WHILE the stream runs: the pinned query schema cannot
    // carry the new column — the source must fail with the named error
    // rather than silently dropping the column's values
    MergeInto.merge(spark, table,
      batch(Seq(("U", 10L, "a", "a1"))).withColumn("tool_meta", lit("m1")),
      "up", 1L, mor)
    val ex = intercept[StreamingQueryException] {
      q.awaitTermination(30000); ()
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("upstream schema evolved"), msgs)

    // restart from the same checkpoint: the re-created source pins the
    // WIDENED schema and re-reads the uncommitted batch — nothing lost
    val q2 = spark.readStream.format("graft").load(up)
      .writeStream.format("graft").option("path", s"$work/down")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(q2.exception.isEmpty, q2.exception.map(_.toString).getOrElse(""))
    val down = LakeTable.load(s"$work/down").read(spark)
      .select(col("conv_id"), col("text"), col("tool_meta"))
      .collect().map(r => (r.getString(0), r.getString(1), Option(r.getString(2))))
      .toSet
    assert(down == Set(("a", "a1", Some("m1")), ("b", "b0", None)), down.toString)
  }

  test("rejected configurations carry named errors") {
    val work = TestSpark.tmpDir("gsink-err")
    import spark.implicits._
    Seq(("k", "v")).toDF("conv_id", "text").write.parquet(s"$work/src")
    val src = spark.readStream.schema(
      Seq(("k", "v")).toDF("conv_id", "text").schema).parquet(s"$work/src")
    val complete = intercept[IllegalArgumentException] {
      src.writeStream.format("graft").option("path", s"$work/t")
        .option("checkpointLocation", s"$work/ckpt")
        .outputMode(OutputMode.Complete()).start()
    }
    assert(complete.getMessage.contains("Complete"), complete.getMessage)
    val part = intercept[IllegalArgumentException] {
      src.writeStream.format("graft").option("path", s"$work/t")
        .option("checkpointLocation", s"$work/ckpt")
        .partitionBy("conv_id").start()
    }
    assert(part.getMessage.contains("partitionBy"), part.getMessage)
  }
}
