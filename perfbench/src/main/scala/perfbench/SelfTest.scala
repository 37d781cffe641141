package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.Trigger

import graft.gen.{ChangelogGen, GenParams}
import graft.lake.{Compaction, LakeTable}
import graft.merge.{MergeInto, MergeMode, MergeOptions}
import graft.stream.{CdcIngestJob, ChangeFeed, IngestConfig}

/**
 * Self-tests of the benchmark's own machinery: the percentile rule, span
 * self time, the segment → epoch lag mapping, and that each correctness
 * gate fails on a tampered table or result. Run with
 * `python3 perfbench/run.py --selftest`; exits non-zero on any failure.
 */
object SelfTest {
  private var failures = 0

  private def expect(name: String, ok: Boolean, detail: => String = ""): Unit = {
    println(s"${if (ok) "PASS" else "FAIL"} $name${if (ok) "" else s": $detail"}")
    if (!ok) failures += 1
  }

  def percentileRule(): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(xs)
    expect("100 samples: p90 is the highest rung with 10 beyond",
      t == Stats.Pct(90.0, 90.0, 100, supported = true), t.toString)
    val t2 = Stats.tail((1 to 200).map(_.toDouble))
    expect("200 samples: p95", t2.pct == 95.0 && t2.value == 190.0, t2.toString)
    val t3 = Stats.tail((1 to 40).map(_.toDouble), Seq(75.0, 50.0))
    expect("40 samples: p75 with exactly 10 beyond",
      t3.pct == 75.0 && t3.value == 30.0 && Stats.beyond(40, 75.0) == 10, t3.toString)
    val t4 = Stats.tail((1 to 39).map(_.toDouble), Seq(75.0, 50.0))
    expect("39 samples: falls back to p50", t4.pct == 50.0 && t4.supported, t4.toString)
    val t5 = Stats.tail((1 to 19).map(_.toDouble))
    expect("19 samples: no rung supported, flagged", !t5.supported && t5.n == 19, t5.toString)
    expect("median of an even count averages the middle pair",
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  def selfTime(): Unit = {
    // parent [0,100]; children [10,40] and [30,60] overlap, [90,120] overhangs
    val spans = Seq(
      Span(1, "stream.drain", 0, 100, 0, 1, synthesized = false),
      Span(2, "merge.write", 10, 40, 1, 1, synthesized = true),
      Span(3, "merge.commit", 30, 60, 1, 1, synthesized = true),
      Span(4, "lake.fold", 90, 120, 1, 1, synthesized = false),
      Span(5, "merge.stats", 15, 20, 2, 1, synthesized = true))
    val self = Span.selfTimes(spans)
    expect("overlapping children are counted once", self(1) == 40, self(1).toString)
    expect("a child's own child is subtracted from it only", self(2) == 25, self(2).toString)
    val layers = Span.layerSelfSeconds(spans)
    expect("layer self time sums its spans' self times",
      layers("merge") == (25 + 30 + 5) / 1e6 && layers("stream") == 40 / 1e6, layers.toString)
  }

  def lagMapping(work: String): Unit = {
    val ckpt = Paths.get(work, "ckpt-selftest")
    val src = Files.createDirectories(ckpt.resolve("sources/0"))
    val com = Files.createDirectories(ckpt.resolve("commits"))
    def entry(seg: Int, part: Int, batch: Long) =
      s"""{"path":"file:///w/era=0/wal_file=$seg/part-$part.parquet","timestamp":1,"batchId":$batch}"""
    // batches 0-1 rolled into a compact file, batch 2 and 3 plain
    Files.write(src.resolve("1.compact"), ("v1\n" + Seq(entry(0, 0, 0), entry(1, 0, 0),
      entry(2, 0, 1)).mkString("\n")).getBytes(StandardCharsets.UTF_8))
    Files.write(src.resolve("2"), ("v1\n" + Seq(entry(3, 0, 2), entry(2, 1, 2))
      .mkString("\n")).getBytes(StandardCharsets.UTF_8))
    Files.write(src.resolve("3"), ("v1\n" + entry(4, 0, 3)).getBytes(StandardCharsets.UTF_8))
    Seq(0L -> 1000L, 1L -> 2000L, 2L -> 3000L).foreach { case (b, ms) =>
      val f = com.resolve(b.toString)
      Files.write(f, "v1\n{}".getBytes(StandardCharsets.UTF_8))
      Files.setLastModifiedTime(f, FileTime.fromMillis(ms))
    }
    val got = Ckpt.segmentCommits(Ckpt.fileBatches(ckpt.toString),
      Ckpt.commitTimes(ckpt.toString))
    expect("segments map to the commit of the batch that read them",
      got == Map(0 -> 1000000L, 1 -> 1000000L, 3 -> 3000000L, 2 -> 3000000L), got.toString)
    expect("a segment whose batch never committed has no lag", !got.contains(4))
  }

  /** Each gate of [[Gates]] and [[Ckpt]] passes on the engine's own output
    * and fails once that output is tampered with. */
  def gates(work: String, sf: String): Unit = {
    val ctx = Ctx(2, work)
    val spark = ctx.spark
    try {
      val p = GenParams(seed = 7, nEvents = 20000, nConvs = 50, eventsPerFile = 5000,
        maxLateEvents = 300)
      val wal = s"$work/st-wal"
      ChangelogGen.writeWal(spark, p, wal)
      val expected = Gates.expected(spark, Gates.wal(spark, Seq(wal)))
      val want = Gates.signature(expected)

      // an ingested table and its checkpoint, made as ingest_bulk makes them
      val dir = s"$work/st-table"
      val ckpt = s"$work/st-ckpt"
      CdcIngestJob.start(spark, IngestConfig(wal, dir, ckpt, maxFilesPerTrigger = Some(2)),
        Trigger.AvailableNow()).awaitTermination()
      MergeInto.awaitMaintenance()
      // a downstream copy, made as read_mix makes them
      val down = s"$work/st-down"
      ChangeFeed.catchUp(spark, ChangeFeed.Config(dir, down, s"$work/st-cursor"))
      val conv = expected.orderBy("conv_id", "turn_idx").head().getString(0)
      val wantTurns = Gates.expectedTurns(expected, Seq(conv))(conv)
      def point() = Gates.pointRead(
        Gates.turns(ReadMix.pointQuery(spark, dir, conv).collect().toSeq), wantTurns)

      def holds(what: String, r: Option[String]) = expect(s"$what holds", r.isEmpty, r.toString)
      def fails(what: String, r: Option[String]) = expect(s"$what fails", r.nonEmpty)
      holds("table / full-read gate on the ingested table", Gates.table(spark, dir, want))
      holds("segment gate on the ingest's checkpoint", Ckpt.allCommitted(ckpt, p.nFiles))
      holds("downstream gate after catch-up", Gates.table(spark, down, want))
      holds("point-read gate", point())

      // tamper: one later event rewrites a live row's text behind the WAL's back
      def forge(table: String): Unit = {
        val victim = expected.filter(col("conv_id") === conv).orderBy("turn_idx").limit(1)
          .select(lit("U").as("op"), lit(Long.MaxValue / 2).as("lsn"), col("conv_id"),
            col("turn_idx"), lit("user").as("role"), lit("forged text").as("text"))
        MergeInto.merge(spark, LakeTable.load(table), victim, "tamper", 0, MergeOptions())
      }
      forge(down)
      fails("downstream gate on a downstream table with a forged merge",
        Gates.table(spark, down, want))
      forge(dir)
      fails("table / full-read gate on a table with a forged merge",
        Gates.table(spark, dir, want))
      fails("point-read gate on a table with a forged merge", point())

      // a checkpoint whose last batch lost its commit file
      val commits = Paths.get(ckpt, "commits")
      val last = commits.toFile.list().filter(_.forall(_.isDigit)).maxBy(_.toLong)
      Files.delete(commits.resolve(last))
      fails("segment gate on a checkpoint with a commit file removed",
        Ckpt.allCommitted(ckpt, p.nFiles))

      // delta-file floor: a merge-on-read table, then the same table folded
      val mor = s"$work/st-mor"
      val opts = MergeOptions(mode = MergeMode.Mor)
      LakeTable.create(mor, CdcIngestJob.payloadSchema(graft.model.Schemas.changeV2),
        opts.keyCols)
      MergeInto.merge(spark, LakeTable.load(mor), Gates.wal(spark, Seq(wal)), "st", 0, opts)
      holds("delta-file floor on a merge-on-read table", Gates.deltaFloor(mor, 1))
      Compaction.foldDeltas(spark, LakeTable.load(mor))
      fails("delta-file floor on the same table folded", Gates.deltaFloor(mor, 1))

      // inputs of the DuckDB oracle self-test in run.py
      Queries.writeResults(spark, sf, OracleQueries, s"$work/st-results")
    } finally spark.stop()
  }

  /** Oracle-checked queries whose results run.py's self-test compares with
    * DuckDB, then tampers with. */
  val OracleQueries = Seq("q_dedup_exact", "q_join_enrich")

  def main(args: Array[String]): Unit = {
    val Array(work, sf) = args
    Files.createDirectories(Paths.get(work))
    percentileRule()
    selfTime()
    lagMapping(work)
    gates(work, sf)
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    System.exit(if (failures == 0) 0 else 1)
  }
}
