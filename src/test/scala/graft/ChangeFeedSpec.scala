package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame

import graft.lake.{Compaction, LakeTable}
import graft.merge.{MergeInto, MergeMode, MergeOptions}
import graft.model.Schemas
import graft.stream.{CdcIngestJob, ChangeFeed}

/**
 * CDC-out consumption: a downstream table follows the upstream through the
 * change feed with a persisted cursor — converges, survives restarts and
 * replays, hits the named retention error when it falls behind vacuum, and
 * re-syncs via bootstrap (including the tombstone-carry subtlety).
 */
class ChangeFeedSpec extends AnyFunSuite {
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

  test("each poll's epoch record carries its upstream range (cursor, head]") {
    val work = TestSpark.tmpDir("changefeed-range")
    val up = s"$work/up"
    LakeTable.create(up, Schemas.turn)
    val table = LakeTable.load(up)
    def commit(e: Long): Unit = MergeInto.merge(spark, table,
      batch(Seq(("I", 1L + e, f"k$e%03d", s"v$e"))), "up", e, mor)
    commit(0L); commit(1L)
    val cfg = ChangeFeed.Config(up, s"$work/down", s"$work/cursor")
    assert(ChangeFeed.pollOnce(spark, cfg) == 2L)
    commit(2L)
    assert(ChangeFeed.pollOnce(spark, cfg) == 1L)
    assert(ChangeFeed.pollOnce(spark, cfg) == 0L, "caught up")
    def ranges(dir: String) = LineageSpec.epochRecords(dir)
      .map(r => (r.ckptId, r.epochId, r.sourceStart, r.sourceEnd))
    val feed = "feed-" + CdcIngestJob.ckptId(cfg.cursorPath)
    assert(ranges(cfg.downstreamDir) == List((feed, 2L, "0", "2"), (feed, 3L, "2", "3")))
    // a bootstrap takes the whole state up to the head
    val boot = ChangeFeed.Config(up, s"$work/down2", s"$work/cursor2")
    assert(ChangeFeed.bootstrap(spark, boot) == 3L)
    assert(ranges(boot.downstreamDir) ==
      List(("feed-" + CdcIngestJob.ckptId(boot.cursorPath), 3L, null, "3")))
  }

  test("feed: converge, idempotent replay, restart, retention error") {
    val work = TestSpark.tmpDir("changefeed")
    val up = s"$work/up"
    LakeTable.create(up, Schemas.turn)
    val table = LakeTable.load(up)
    val keys = (0 until 20).map(i => f"k$i%03d")
    MergeInto.merge(spark, table,
      batch(keys.zipWithIndex.map { case (k, i) => ("I", 1L + i, k, s"v0-$k") }),
      "up", 0L, mor)
    MergeInto.merge(spark, table,
      batch(keys.take(10).zipWithIndex.map { case (k, i) => ("U", 100L + i, k, s"v1-$k") }
        :+ (("D", 120L, keys(10), null: String))),
      "up", 1L, mor)

    val cfg = ChangeFeed.Config(up, s"$work/down", s"$work/cursor")
    assert(ChangeFeed.catchUp(spark, cfg) >= 2)
    assert(state(s"$work/down") == state(up), "downstream must converge")
    assert(ChangeFeed.readCursor(cfg.cursorPath).contains(table.currentVersion))

    // caught up: next poll is a no-op
    assert(ChangeFeed.pollOnce(spark, cfg) == 0L)

    // new upstream epochs; one more tick converges again
    MergeInto.merge(spark, table,
      batch(Seq(("U", 200L, keys(0), "v2"), ("I", 201L, "k999", "new"))),
      "up", 2L, mor)
    assert(ChangeFeed.pollOnce(spark, cfg) >= 1)
    assert(state(s"$work/down") == state(up))

    // crash simulation: cursor rewound (apply happened, cursor write lost) —
    // the replayed merge is absorbed by the downstream epoch ledger and the
    // wider re-delivery is idempotent under max-lsn resolution
    val head = table.currentVersion
    ChangeFeed.writeCursor(cfg.cursorPath, math.max(0L, head - 2))
    ChangeFeed.catchUp(spark, cfg)
    assert(state(s"$work/down") == state(up), "replay must be idempotent")
    assert(ChangeFeed.readCursor(cfg.cursorPath).contains(head))

    // retention: vacuum the upstream past an old cursor -> NAMED error
    (3 to 6).foreach { e =>
      MergeInto.merge(spark, table,
        batch(Seq(("U", 300L + e, keys(1), s"v$e"))), "up", e.toLong, mor)
    }
    Compaction.vacuum(table, retainVersions = 1, orphanMinAgeMs = 0L)
    ChangeFeed.writeCursor(cfg.cursorPath, 1L)
    val ex = intercept[IllegalStateException](ChangeFeed.pollOnce(spark, cfg))
    assert(ex.getMessage.contains("vacuumed past the retention floor"),
      ex.getMessage)
  }

  test("schema evolution propagates through the feed: added column reaches downstream") {
    import org.apache.spark.sql.functions.{col, lit}
    val work = TestSpark.tmpDir("changefeed-evo")
    val up = s"$work/up"
    LakeTable.create(up, Schemas.turn)
    val table = LakeTable.load(up)
    MergeInto.merge(spark, table,
      batch(Seq(("I", 1L, "a", "t1"), ("I", 2L, "b", "t2"))), "up", 0L, mor)

    val cfg = ChangeFeed.Config(up, s"$work/down", s"$work/cursor")
    assert(ChangeFeed.catchUp(spark, cfg) >= 1)
    assert(!LakeTable.load(s"$work/down").payloadSchema.fieldNames
      .contains("tool_meta"))

    // the upstream widens (era-1 tool_meta column) in a LATER epoch — the
    // change feed straddles the boundary, and the downstream table must
    // widen through the same merge-time schema-evolution path the ingest
    // uses, with pre-evolution keys reading null for the new column
    MergeInto.merge(spark, table,
      batch(Seq(("U", 10L, "a", "t1v2"))).withColumn("tool_meta", lit("m1")),
      "up", 1L, mor)
    assert(ChangeFeed.catchUp(spark, cfg) >= 1)

    val down = LakeTable.load(s"$work/down")
    assert(down.payloadSchema.fieldNames.contains("tool_meta"))
    val rows = down.read(spark)
      .select(col("conv_id"), col("text"), col("tool_meta"))
      .collect().map(r => (r.getString(0), r.getString(1), Option(r.getString(2))))
      .toSet
    assert(rows == Set(("a", "t1v2", Some("m1")), ("b", "t2", None)))
    assert(state(s"$work/down") == state(up))
  }

  test("bootstrap carries tombstones: a late lower-lsn event cannot resurrect downstream") {
    val work = TestSpark.tmpDir("changefeed-boot")
    val up = s"$work/up"
    LakeTable.create(up, Schemas.turn)
    val table = LakeTable.load(up)
    MergeInto.merge(spark, table,
      batch(Seq(("I", 10L, "alive", "a"), ("I", 20L, "dead", "d"))), "up", 0L, mor)
    MergeInto.merge(spark, table,
      batch(Seq(("D", 50L, "dead", null))), "up", 1L, mor)
    // age the history out so a change-feed catch-up from creation is
    // impossible — the bootstrap path is the only way in
    Compaction.vacuum(table, retainVersions = 1, orphanMinAgeMs = 0L)

    val cfg = ChangeFeed.Config(up, s"$work/down", s"$work/cursor")
    val ex = intercept[IllegalStateException](ChangeFeed.pollOnce(spark, cfg))
    assert(ex.getMessage.contains("vacuumed past the retention floor"))
    ChangeFeed.bootstrap(spark, cfg)
    assert(state(s"$work/down") == Map("alive" -> "a"))

    // a LATE lower-lsn insert for the pre-bootstrap-deleted key: upstream
    // keeps it dead (tombstone lsn 50 > 40); downstream must too, which only
    // works because bootstrap carried the tombstone
    MergeInto.merge(spark, table,
      batch(Seq(("I", 40L, "dead", "zombie"), ("U", 60L, "alive", "a2"))),
      "up", 2L, mor)
    assert(ChangeFeed.catchUp(spark, cfg) >= 1)
    assert(state(up) == Map("alive" -> "a2"), "upstream sanity")
    assert(state(s"$work/down") == Map("alive" -> "a2"),
      "downstream resurrected a key deleted before bootstrap")
  }
}
