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
import graft.stream.{CdcIngestJob, IngestConfig}

/**
 * Per-epoch lineage (`_lineage/`) records only the streaming query that
 * writes the table, even when other streams run in the same session.
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
}
