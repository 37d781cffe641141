package graft

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftStreamingShim
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Compaction, KeyCodec, KeyRanges, LakeTable}
import graft.merge.{BatchStats, EpochPlan, Maintenance, MergeInto, MergeMode, MergeOptions,
  Placement}
import graft.model.Schemas

/**
 * An epoch's driver decisions come from metadata alone: planning launches no
 * Spark job, and the epoch history that sizes and places merge-on-read
 * epochs belongs to one (table, checkpoint).
 */
class EpochPlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val ts = Timestamp.valueOf("2025-01-01 00:00:00")

  /** `n` upserts over 1000 conv_ids, lsns from `lsn0`, in one partition. */
  private def events(n: Long, lsn0: Long = 0L): DataFrame =
    spark.range(n).coalesce(1).select(lit("U").as("op"), (col("id") + lsn0).as("lsn"),
      format_string("c%04d", col("id") % 1000).as("conv_id"),
      (col("id") / 1000).cast("int").as("turn_idx"), lit("user").as("role"),
      lit("x").as("text"), lit(null).cast(StringType).as("tool"), lit(ts).as("ts"))

  private val mor = MergeOptions(mode = MergeMode.Mor,
    morCompactDeltaRatio = 1e9, morCompactMaxDeltaFiles = Int.MaxValue)

  /** Runs `body`; returns its result and the Spark jobs started meanwhile. */
  private def jobsOf[T](body: => T): (T, Int) = {
    Maintenance.await()
    org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      (r, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def sized(rows: Long, o: MergeOptions): Int =
    Compaction.outputFiles(spark, rows, o.targetRowsPerFile, o.minRowsPerFile)

  test("planning a MoR, CoW or sparse MoR epoch launches no Spark job") {
    val dir = TestSpark.tmpDir("epoch-plan")
    // a range-folded base: disjoint files whose ranges the snapshot records
    val ranged = LakeTable.create(s"$dir/ranged", Schemas.turn)
    MergeInto.merge(spark, ranged, events(4000), "setup", 0L, mor)
    Compaction.foldDeltas(spark, ranged, minRowsPerFile = 500)
    val rSnap = ranged.currentSnapshot
    assert(rSnap.baseRanges.nonEmpty, "setup: the range fold recorded no ranges")
    val fresh = LakeTable.create(s"$dir/fresh", Schemas.turn)
    val sparse = LakeTable.create(s"$dir/sparse",
      StructType(Seq(StructField("k", LongType), StructField("v", StringType))),
      keyCols = Seq("k"), sparseUpdates = true)
    val batch = events(100, 10000L)
    val bounds = rSnap.baseRanges.init.toIndexedSeq
    val history = EpochPlan.History(30000L,
      Some(Placement.Loads(bounds, (0 to bounds.size).map(i => if (i == 0) 100.0 else 1.0))))
    val cowKeys = KeyRanges.points(Seq(KeyCodec.encode(StringType, "c0001")))
    val cow = MergeOptions()

    val (plans, jobs) = jobsOf {
      Seq(
        EpochPlan.plan(spark, fresh, fresh.currentSnapshot, mor, StringType, None, None,
          batch.rdd.getNumPartitions),
        EpochPlan.plan(spark, ranged, rSnap, mor, StringType, None, Some(history),
          batch.rdd.getNumPartitions),
        EpochPlan.plan(spark, ranged, rSnap, cow, StringType,
          Some(BatchStats(100L, 10000L, 10099L, 0L, cowKeys)), None, batch.rdd.getNumPartitions),
        EpochPlan.plan(spark, sparse, sparse.currentSnapshot,
          MergeOptions(keyCols = Seq("k"), mode = MergeMode.Mor), LongType, None, None,
          batch.rdd.getNumPartitions))
    }
    assert(jobs == 0, s"planning launched $jobs Spark jobs")
    val Seq(first, steady, rewrite, sparseMor) = plans

    // MoR without history: the batch's scan partitions, by hash with no base
    assert(first == EpochPlan(Nil, 1, Placement.ByHash))
    // MoR with history: sized by its rows, placed by the base's ranges with
    // its loads — the heavy first range gets more partitions
    assert(steady.touched.isEmpty && steady.nOut == sized(30000L, mor))
    steady.placement match {
      case p: Placement.ByBase =>
        assert(p.partitions == steady.nOut && p.counts.head == p.counts.max, s"$p")
      case p => fail(s"not placed by the base's ranges: $p")
    }
    // CoW: rewrites only the base file holding the batch's key, by range
    assert(rewrite.touched.nonEmpty && rewrite.touched.size < ranged.currentFiles.size)
    assert(rewrite.touched.forall(cowKeys.touches))
    assert(rewrite.placement == Placement.ByRange &&
      rewrite.nOut == sized(rewrite.touched.map(_.rows).sum + 100L, cow))
    // sparse MoR: planned like any MoR epoch, by hash with no base
    assert(sparseMor == EpochPlan(Nil, 1, Placement.ByHash))
  }

  test("one table's epoch history neither sizes nor places another table's epochs") {
    val dir = TestSpark.tmpDir("epoch-history")
    val ckpt = s"shared-${System.nanoTime()}"
    val a = LakeTable.create(s"$dir/a", Schemas.turn)
    val b = LakeTable.create(s"$dir/b", Schemas.turn)
    val alone = LakeTable.create(s"$dir/alone", Schemas.turn)
    MergeInto.merge(spark, a, events(50000), ckpt, 0L, mor)
    // under the same checkpoint id, as every SQL INSERT merges
    val inB = MergeInto.merge(spark, b, events(10, 100000L), ckpt, 0L, mor)
    val inAlone = MergeInto.merge(spark, alone, events(10, 100000L),
      s"alone-${System.nanoTime()}", 0L, mor)
    assert(inAlone.filesAdded == 1, s"a one-partition batch sized ${inAlone.filesAdded} files")
    assert(inB.filesAdded == inAlone.filesAdded,
      s"table b sized its epoch from table a's: ${inB.filesAdded} files")
    assert(EpochPlan.history(s"$dir/a", ckpt).map(_.rows).contains(50000L))
    assert(EpochPlan.history(s"$dir/b", ckpt).map(_.rows).contains(10L))
    // an idle epoch records nothing
    MergeInto.merge(spark, b, events(0), ckpt, 1L, mor)
    assert(EpochPlan.history(s"$dir/b", ckpt).map(_.rows).contains(10L))
  }

  test("a history-less MoR epoch over a micro-batch frame runs one SQL execution") {
    val table = LakeTable.create(s"${TestSpark.tmpDir("epoch-first")}/t", Schemas.turn)
    // the frame CdcIngestJob merges: a scan of the micro-batch's planned RDD,
    // whose partitions size the first epoch without planning or running it
    val batch = GraftStreamingShim.asBatch(events(2000), spark)
    Maintenance.await()
    org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    val executions = new AtomicInteger
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => executions.incrementAndGet(); ()
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    val stats =
      try {
        val s = MergeInto.merge(spark, table, batch, s"first-${System.nanoTime()}", 0L, mor)
        org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
        s
      } finally spark.sparkContext.removeSparkListener(l)
    assert(executions.get == 1, s"the epoch ran ${executions.get} SQL executions, not its write alone")
    assert(stats.filesAdded == 1 && stats.batchRows == 2000L, s"$stats")
    // the driver time before the write is recorded, inside the epoch's wall
    assert(stats.planMs > 0 && stats.planMs <= stats.wallMs, s"$stats")
    assert(table.metrics(spark).columns.contains("planMs"))
  }
}
