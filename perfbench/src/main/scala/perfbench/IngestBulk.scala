package perfbench

import org.apache.spark.sql.streaming.Trigger

import graft.gen.{ChangelogGen, GenParams}
import graft.lake.{Compaction, LakeTable}
import graft.merge.MergeInto
import graft.stream.{CdcIngestJob, IngestConfig}

/**
 * ingest_bulk — catch-up of a backlog: one pre-generated WAL with the
 * generator's default shape is drained by the streaming ingest with
 * `Trigger.AvailableNow` in large epochs, then maintenance is awaited and
 * one explicit fold runs, as `graft.Bench` does. Each drain goes into a
 * fresh table; drains repeat until the window is spent. Throughput is the
 * median drain's events/s; latency is each WAL segment's visibility lag
 * (drain start → commit of the epoch that read it). The traced run adds the
 * same drain at one core, the single-threaded baseline.
 */
final class IngestBulk(o: Opts, res: Result) extends Workload {
  import IngestBulk._

  private val params = GenParams(seed = o.seed, nEvents = Events,
    nConvs = (Events / 200).toInt, eventsPerFile = Events / Segments,
    maxLateEvents = 2000)
  private val walDir = s"${o.work}/wal"
  private var drains = 0

  private val steals = Seq.newBuilder[Double]

  /** One drain into a fresh table: (steal-adjusted seconds, per-segment lags
    * in steal-adjusted seconds, table). */
  private def drain(ctx: Ctx, tag: String): (Double, Seq[Double], String) = {
    drains += 1
    val table = s"${o.work}/table-$tag-$drains"
    val ckpt = s"${o.work}/ckpt-$tag-$drains"
    val t = ctx.tracer
    System.gc()
    val startUs = Span.nowMicros()
    val (_, secs, steal) = Steal.timed {
      t.span("stream.drain") {
        CdcIngestJob.start(ctx.spark, IngestConfig(walDir, table, ckpt,
          maxFilesPerTrigger = Some(FilesPerEpoch)), Trigger.AvailableNow())
          .awaitTermination()
      }
      t.span("merge.await_maintenance")(MergeInto.awaitMaintenance())
      t.span("lake.fold") {
        Compaction.foldDeltas(ctx.spark, LakeTable.load(table), rangePlace = false)
      }
    }
    res.gate(s"$tag drain $drains: every WAL segment committed",
      Ckpt.allCommitted(ckpt, params.nFiles))
    val commits = Ckpt.segmentCommits(Ckpt.fileBatches(ckpt), Ckpt.commitTimes(ckpt))
    steals += steal
    (secs, commits.values.map(c => (c - startUs) / 1e6 * (1 - steal)).toSeq, table)
  }

  /** Drains until `o.seconds` pass, or exactly `count` drains (the traced
    * window, so per-layer sums cover the same work in every run):
    * (events/s per drain, lags, tables). */
  private def window(ctx: Ctx, tag: String, count: Option[Int] = None)
      : (Seq[Double], Seq[Double], Seq[String]) = {
    val eps = Seq.newBuilder[Double]
    val lags = Seq.newBuilder[Double]
    val tables = Seq.newBuilder[String]
    val t0 = System.nanoTime()
    var n = 0
    def more = count.fold((System.nanoTime() - t0) / 1e9 < o.seconds || n < MinDrains)(n < _)
    while (more) {
      n += 1
      val (s, l, table) = drain(ctx, tag)
      eps += Events / s
      lags ++= l
      tables += table
      res.ops(params.nFiles)
    }
    (eps.result(), lags.result(), tables.result())
  }

  private def verify(ctx: Ctx, tables: Seq[String], want: (Long, Long)): Unit =
    tables.foreach { t =>
      res.gate(s"table $t equals the SQL fold of the WAL", Gates.table(ctx.spark, t, want))
    }

  def run(ctx0: Ctx, sessionS: Double): Unit = {
    var ctx = ctx0
    ctx.tracer.enabled = o.trace
    val genS = Steal.timed(ctx.tracer.span("gen.write_wal") {
      ChangelogGen.writeWal(ctx.spark, params, walDir)
    })._2
    val want = Gates.signature(Gates.expected(ctx.spark, Gates.wal(ctx.spark, Seq(walDir))))
    ctx.tracer.enabled = false
    val warmS = drain(ctx, "warm")._1
    res.e2e("setup_s") = sessionS + warmS + genS
    res.layer("gen.wal_s") = genS

    steals.clear()
    val (eps, lags, tables) = window(ctx, "w")
    Util.retained(res)
    res.layer("host.steal_frac") = Stats.median(steals.result())
    verify(ctx, tables, want)
    val p50 = Stats.percentile(lags, 50)
    val tail = Stats.tail(lags, Seq(TailPct, 50.0))
    res.e2e("throughput_per_s") = Stats.median(eps)
    res.e2e("latency_p50_s") = p50
    res.e2e("latency_tail_s") = tail.value
    res.note("ingest_events_per_s", Stats.median(eps), "events/s")
    res.note("segment_lag_p50_s", p50, "s")
    res.note(f"segment_lag_p${tail.pct}%.0f_s (n=${tail.n})", tail.value, "s")
    res.note("drains", eps.size, "count")
    eps.foreach(e => res.note("drain_events_per_s", e, "events/s"))

    if (o.trace) {
      ctx.collect(true)
      ctx.tracer.enabled = true
      val t0 = System.nanoTime()
      val (teps, tlags, ttables) = window(ctx, "t", Some(TracedDrains))
      val windowS = (System.nanoTime() - t0) / 1e9
      ctx.tracer.enabled = false
      ctx.collect(false)
      verify(ctx, ttables, want)
      val epochs = ctx.stream.epochs
      val metrics = ttables.map(t => Layers.tableMetrics(ctx.spark, t))
      val merges = metrics.flatMap(_._1)
      Layers.exec(ctx, windowS, epochs.size, res)
      Layers.stream(epochs, res)
      Layers.merge(merges, res)
      Layers.lake(ctx.spark, ttables.last, metrics.last._1, metrics.last._2, Events, res)
      Layers.synthesize(ctx.tracer, epochs, merges,
        ctx.tracer.spans.filter(_.name == "stream.drain"))
      res.layer("latency.samples") = tail.n.toDouble
      res.layer("latency.tail_pct") = tail.pct
      res.layer("trace.overhead_frac") = 1.0 - Stats.median(teps) / Stats.median(eps)
      Layers.hostProbes(ctx.spark, walDir, res)
      Layers.writeTrace(o, ctx, res)

      // single-threaded baseline of the same drain, in a fresh local[1] session
      ctx.spark.stop()
      ctx = Ctx(1, o.work)
      val (s1, _, table1) = drain(ctx, "one")
      verify(ctx, Seq(table1), want)
      res.ops(params.nFiles)
      val eps1 = Events / s1
      res.layer("ingest.events_per_s_1core") = eps1
      res.layer("scaling_eff_1to4") = Stats.median(teps) / eps1 / Main.Cores
      Layers.fill(res)
    }
    ctx.spark.stop()
  }
}

object IngestBulk {
  val Events = 288000L
  val Segments = 45
  /** three epochs per drain: segment lags fall in three commit groups, and
    * the p50 lands inside the middle one rather than on a group boundary */
  val FilesPerEpoch = 15
  val TracedDrains = 2
  val MinDrains = 4
  /** Tail percentile reported. Segment lags cluster by epoch commit (a
    * third of them share each drain's last commit), so p80 lands on the last
    * epoch of the middle drains — the typical drain's time to full
    * visibility — where p90 would track the slower drains alone. */
  val TailPct = 80.0
}
