package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SQLExecutionRDD}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.{ChangelogGen, GenParams}
import graft.lake.LakeTable
import graft.merge.MergeInto
import graft.stream.{CdcIngestJob, IngestConfig}

/**
 * Every streaming query runs on its own clone of the session, and under
 * Spark's artifact isolation each clone has its own executor class loader —
 * the key, with the source, of Spark's generated-code cache. Both streaming
 * write paths merge each micro-batch on the session that started the
 * stream, so a second query over the same shape of data compiles nothing:
 * its epochs reuse the classes (and the JIT warm-up) of the first.
 */
class CodegenReuseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val p = GenParams(nEvents = 8000, nConvs = 120, eventsPerFile = 1000,
    maxLateEvents = 300, turnsPerConv = 25)

  /** Classes compiled so far in this JVM, by any session. */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs `start` to termination with no maintenance before or after it in
    * flight; returns the classes it compiled and its input rows per epoch. */
  private def drain(start: => StreamingQuery): (Long, Seq[Long]) = {
    MergeInto.awaitMaintenance()
    val before = compiles
    val q = start
    q.awaitTermination()
    MergeInto.awaitMaintenance()
    assert(q.exception.isEmpty, q.exception.map(_.toString).getOrElse(""))
    (compiles - before, q.recentProgress.toSeq.map(_.numInputRows))
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** Runs `body`; returns, for each plan run on `spark` meanwhile that scans
    * an existing RDD, its `Scan ExistingRDD` nodes and, per node, the planned
    * plans its rows came through (`SQLExecutionRDD`s in the RDD's lineage). */
  private def rddScans(body: => Unit): Seq[Seq[Int]] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(qe); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try body
    finally {
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(l)
    }
    def planned(r: RDD[_]): Int =
      (if (r.isInstanceOf[SQLExecutionRDD]) 1 else 0) + r.dependencies.map(d => planned(d.rdd)).sum
    plans.asScala.toSeq
      .map(qe => Plans.collect(qe.executedPlan) { case s: RDDScanExec => planned(s.rdd) })
      .filter(_.nonEmpty)
  }

  /** The table holds exactly the fold oracle's rows. */
  private def assertOracle(dir: String): Unit = {
    val oracle = ChangelogGen.foldOracle(p)
    val got = LakeTable.load(dir).read(spark).select("conv_id", "turn_idx", "text")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(got.size == oracle.size, s"$dir: ${got.size} rows, want ${oracle.size}")
    oracle.foreach { case (k, e) =>
      assert(got.get(k).contains(e.text), s"$dir: text mismatch at $k")
    }
  }

  test("CdcIngestJob: a second drain in the session compiles no generated code") {
    val work = TestSpark.tmpDir("codegen-ingest")
    ChangelogGen.writeWal(spark, p, s"$work/wal")
    val walRows = spark.read.parquet(s"$work/wal").count()
    val priorMpb = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    def ingest(n: Int): (Long, Seq[Long]) =
      drain(CdcIngestJob.start(spark, IngestConfig(s"$work/wal", s"$work/t$n",
        s"$work/ckpt$n", maxFilesPerTrigger = Some(3)), Trigger.AvailableNow()))
    // `start` leaves its scan-partition size on the session; restore it
    var second: (Long, Seq[Long]) = null
    val ((_, epochs1), (compiled2, epochs2), scans) =
      try {
        val first = ingest(1)
        val scans = rddScans { second = ingest(2) }
        (first, second, scans)
      }
      finally priorMpb match {
        case Some(v) => spark.conf.set("spark.sql.files.maxPartitionBytes", v)
        case None => spark.conf.unset("spark.sql.files.maxPartitionBytes")
      }
    assert(epochs1.count(_ > 0) >= 3, s"epoch input rows: $epochs1")
    assert(compiled2 == 0, s"the second drain compiled $compiled2 classes")
    // each epoch's merge scans the micro-batch once, straight off the plan
    // the stream ran it through: no second plan re-scanning the first
    assert(scans.size >= epochs2.count(_ > 0) && scans.forall(_ == Seq(1)),
      s"Scan ExistingRDD nodes per merge (planned layers under each): $scans")
    Seq(epochs1, epochs2).foreach(e => assert(e.sum == walRows, s"$e vs $walRows"))
    assertOracle(s"$work/t1")
    assertOracle(s"$work/t2")
  }

  test("readStream(graft) -> writeStream(graft): a second chain compiles no " +
    "generated code") {
    val work = TestSpark.tmpDir("codegen-chain")
    ChangelogGen.writeWal(spark, p, s"$work/wal")
    val up = s"$work/up"
    CdcIngestJob.drainAvailableNow(spark,
      IngestConfig(s"$work/wal", up, s"$work/ckpt-up", maxFilesPerTrigger = Some(3)))
    MergeInto.awaitMaintenance()
    val upTable = LakeTable.load(up)
    val changeRows = upTable.readChangesBetween(spark, 0L, upTable.currentVersion).count()
    def chain(n: Int): (Long, Seq[Long]) = drain(
      spark.readStream.format("graft").option("maxVersionsPerBatch", "1").load(up)
        .writeStream.format("graft").option("path", s"$work/down$n")
        .option("checkpointLocation", s"$work/ckpt$n")
        .trigger(Trigger.AvailableNow()).start())
    val (_, epochs1) = chain(1)
    val (compiled2, epochs2) = chain(2)
    assert(epochs1.count(_ > 0) >= 3, s"epoch input rows: $epochs1")
    assert(compiled2 == 0, s"the second chain compiled $compiled2 classes")
    Seq(epochs1, epochs2).foreach(e => assert(e.sum == changeRows, s"$e vs $changeRows"))
    assertOracle(s"$work/down1")
    assertOracle(s"$work/down2")
  }
}
