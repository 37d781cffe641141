package graft

import java.nio.file.{Files, Path, Paths}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.{ChangelogGen, GenParams}
import org.apache.spark.sql.streaming.Trigger

import graft.stream.{CdcIngestJob, IngestConfig}

/**
 * Per-epoch lineage lives in each table's `_metrics` epoch records: every
 * committed batch of a streaming ingest has exactly one, under the table's
 * own checkpoint id, carrying the WAL offsets the batch consumed as the
 * query's offset log holds them — even when other streams run in the same
 * session, for drains and long-running `start()` streams alike. The engine
 * registers no listener.
 */
class LineageSpec extends AnyFunSuite {
  import LineageSpec._

  private lazy val spark = TestSpark.spark

  test("two concurrent ingests in one session: each table's lineage holds " +
    "only its own epochs") {
    val work = TestSpark.tmpDir("lineage-two")
    // different file counts => different epoch counts per stream
    val streams = Seq("a" -> 6, "b" -> 9).map { case (n, files) =>
      val p = GenParams(seed = files, nEvents = files * 500L, nConvs = 40,
        eventsPerFile = 500, maxLateEvents = 100, turnsPerConv = 20)
      val cfg = IngestConfig(s"$work/wal-$n", s"$work/t-$n", s"$work/ckpt-$n",
        maxFilesPerTrigger = Some(1))
      ChangelogGen.writeWal(spark, p, cfg.walDir)
      (cfg, p.nFiles)
    }
    val drains = streams.map { case (cfg, _) =>
      Future(CdcIngestJob.drainAvailableNow(spark, cfg))
    }
    drains.foreach(Await.result(_, 5.minutes))

    val spans = streams.map { case (cfg, nFiles) =>
      val records = epochRecords(cfg.tableDir)
      assert(records.map(r => (r.ckptId, r.epochId)) ==
        (0L until nFiles).map(e => (CdcIngestJob.ckptId(cfg.checkpointDir), e)).toList,
        s"epochs of ${cfg.tableDir}")
      records.foreach { r =>
        assert(r.sourceEnd == offsetEntry(cfg.checkpointDir, r.epochId),
          s"${cfg.tableDir} epoch ${r.epochId}")
        assert(r.sourceStart == (if (r.epochId == 0) null
          else offsetEntry(cfg.checkpointDir, r.epochId - 1)), s"${cfg.tableDir} epoch ${r.epochId}")
      }
      val ts = records.map(_.commitTimeMs)
      assert(ts.forall(_ > 0), ts.toString)
      (ts.min, ts.max)
    }
    // the spec shows something only if the streams ran at the same time
    val (a, b) = (spans(0), spans(1))
    assert(a._2 >= b._1 && b._2 >= a._1, s"streams did not overlap: $spans")
  }

  test("start() streams: one epoch record per committed batch, no listener registered") {
    val work = TestSpark.tmpDir("lineage-start")
    val p = GenParams(seed = 4, nEvents = 9 * 500L, nConvs = 40,
      eventsPerFile = 500, maxLateEvents = 100, turnsPerConv = 20)
    ChangelogGen.writeWal(spark, p, s"$work/staged")
    // (segment index, era=E/wal_file=N), delivered three segments per cycle
    val segments = list(Paths.get(s"$work/staged")).filter(_.getFileName.toString
      .startsWith("era=")).flatMap(era => list(era).filter(_.getFileName.toString
      .startsWith("wal_file=")).map(seg =>
        (seg.getFileName.toString.stripPrefix("wal_file=").toInt,
          Paths.get(era.getFileName.toString, seg.getFileName.toString))))
      .sortBy(_._1)
    assert(segments.size == 9)
    val cfg = IngestConfig(s"$work/wal", s"$work/t", s"$work/ckpt",
      maxFilesPerTrigger = Some(1))
    val listeners = spark.streams.listListeners().toList
    segments.grouped(3).zipWithIndex.foreach { case (group, cycle) =>
      group.foreach { case (_, rel) =>
        val to = Paths.get(cfg.walDir).resolve(rel)
        Files.createDirectories(to.getParent)
        Files.move(Paths.get(s"$work/staged").resolve(rel), to)
      }
      val q = CdcIngestJob.start(spark, cfg, Trigger.ProcessingTime(0L))
      assert(spark.streams.listListeners().toList == listeners,
        s"cycle $cycle: the ingest registered a listener")
      try q.processAllAvailable() finally q.stop()
      assert(spark.streams.listListeners().toList == listeners, s"cycle $cycle listeners")
      // every commit in the checkpoint has its epoch record, and no more
      val committed = list(Paths.get(s"${cfg.checkpointDir}/commits"))
        .map(_.getFileName.toString).filter(_.forall(_.isDigit)).map(_.toLong).sorted
      val records = epochRecords(cfg.tableDir)
      assert(committed == (0L until 3L * (cycle + 1)).toList, s"cycle $cycle commits")
      assert(records.map(_.epochId) == committed, s"cycle $cycle epoch records")
      assert(records.map(_.ckptId).distinct == List(CdcIngestJob.ckptId(cfg.checkpointDir)))
      // a restarted query's first batch starts where the last run ended
      records.foreach { r =>
        assert(r.sourceEnd == offsetEntry(cfg.checkpointDir, r.epochId), s"cycle $cycle $r")
        assert(r.sourceStart == (if (r.epochId == 0) null
          else offsetEntry(cfg.checkpointDir, r.epochId - 1)), s"cycle $cycle $r")
      }
    }
  }
}

object LineageSpec {
  /** The lineage fields of one `_metrics` epoch record. */
  final case class EpochRecord(ckptId: String, epochId: Long, snapshotVersion: Long,
      sourceStart: String, sourceEnd: String, commitTimeMs: Long)

  def list(d: Path): List[Path] = {
    val s = Files.list(d)
    try s.iterator().asScala.toList finally s.close()
  }

  /** `tableDir`'s epoch records, ordered by (ckptId, epochId). */
  def epochRecords(tableDir: String): List[EpochRecord] = {
    implicit val formats: Formats = DefaultFormats
    list(Paths.get(tableDir, "_metrics"))
      .filter(_.getFileName.toString.startsWith("epoch-"))
      .map(f => JsonMethods.parse(new String(Files.readAllBytes(f), "UTF-8"))
        .extract[EpochRecord])
      .sortBy(r => (r.ckptId, r.epochId))
  }

  /** Batch `batchId`'s entry in the offset log of the one-source query
    * checkpointed at `checkpointDir`: the line after the log's version and
    * metadata lines. */
  def offsetEntry(checkpointDir: String, batchId: Long): String = {
    val lines = Files.readAllLines(Paths.get(checkpointDir, "offsets", batchId.toString))
      .asScala.toList
    assert(lines.size == 3, lines.toString)
    lines(2)
  }
}
