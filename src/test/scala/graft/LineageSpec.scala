package graft

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.{ChangelogGen, GenParams}
import org.apache.spark.sql.streaming.Trigger

import graft.stream.{CdcIngestJob, IngestConfig, LineageListener}

/**
 * Per-epoch lineage (`_lineage/`) records only the streaming query that
 * writes the table, even when other streams run in the same session, for
 * drains and long-running `start()` streams alike.
 */
class LineageSpec extends AnyFunSuite {
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

    implicit val formats: Formats = DefaultFormats
    val spans = streams.map { case (cfg, nFiles) =>
      val dir = Paths.get(cfg.tableDir, "_lineage")
      val records = {
        val s = Files.list(dir)
        try s.iterator().asScala.toList.map(f =>
          JsonMethods.parse(new String(Files.readAllBytes(f), "UTF-8")))
        finally s.close()
      }
      val name = CdcIngestJob.queryName(cfg.checkpointDir)
      records.foreach { r =>
        assert((r \ "name").extract[String] == name, s"foreign epoch in ${cfg.tableDir}")
        assert((r \ "sources")(0).\("description").extract[String].contains(cfg.walDir))
      }
      assert(records.map(r => (r \ "batchId").extract[Long]).sorted ==
        (0L until nFiles).toList, s"epochs of ${cfg.tableDir}")
      val ts = records.map(r => java.time.Instant.parse((r \ "timestamp").extract[String]))
      (ts.min, ts.max)
    }
    // the spec shows something only if the streams ran at the same time
    val (a, b) = (spans(0), spans(1))
    assert(!a._2.isBefore(b._1) && !b._2.isBefore(a._1), s"streams did not overlap: $spans")
  }

  test("start() streams record one lineage file per committed epoch and " +
    "detach their listener when stopped") {
    val work = TestSpark.tmpDir("lineage-start")
    val p = GenParams(seed = 4, nEvents = 9 * 500L, nConvs = 40,
      eventsPerFile = 500, maxLateEvents = 100, turnsPerConv = 20)
    ChangelogGen.writeWal(spark, p, s"$work/staged")
    def list(d: java.nio.file.Path): List[java.nio.file.Path] = {
      val s = Files.list(d)
      try s.iterator().asScala.toList finally s.close()
    }
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
    def lineageListeners =
      spark.streams.listListeners().count(_.isInstanceOf[LineageListener])
    def ids(dir: String, keep: String => Boolean, id: String => Long): List[Long] =
      list(Paths.get(dir)).map(_.getFileName.toString).filter(keep).map(id).sorted
    implicit val formats: Formats = DefaultFormats
    segments.grouped(3).zipWithIndex.foreach { case (group, cycle) =>
      group.foreach { case (_, rel) =>
        val to = Paths.get(cfg.walDir).resolve(rel)
        Files.createDirectories(to.getParent)
        Files.move(Paths.get(s"$work/staged").resolve(rel), to)
      }
      val q = CdcIngestJob.start(spark, cfg, Trigger.ProcessingTime(0L))
      try q.processAllAvailable() finally q.stop()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (lineageListeners > 0 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(lineageListeners == 0, s"cycle $cycle left a lineage listener registered")
      // every commit in the checkpoint has its lineage record, and no more
      val committed = ids(s"${cfg.checkpointDir}/commits", _.forall(_.isDigit), _.toLong)
      val recorded = ids(s"${cfg.tableDir}/_lineage", _.startsWith("epoch-"),
        f => f.stripPrefix("epoch-").stripSuffix(".json").toLong)
      assert(committed == (0L until 3L * (cycle + 1)).toList, s"cycle $cycle commits")
      assert(recorded == committed, s"cycle $cycle lineage")
      val last = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(cfg.tableDir,
        "_lineage", f"epoch-${committed.last}%010d.json")), "UTF-8"))
      assert((last \ "name").extract[String] == CdcIngestJob.queryName(cfg.checkpointDir))
    }
  }
}
