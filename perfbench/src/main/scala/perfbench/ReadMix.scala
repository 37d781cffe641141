package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.gen.{ChangelogGen, GenParams}
import graft.lake.{Compaction, LakeTable}
import graft.merge.{MergeInto, MergeMode, MergeOptions}
import graft.stream.{CdcIngestJob, ChangeFeed}

/**
 * read_mix — one closed-loop client over a static merge-on-read table: a
 * folded base plus tens of unfolded delta files, built in set-up from one
 * generated WAL (the first [[ReadMix.BaseFiles]] segments merged and folded,
 * then one merge epoch per remaining segment). The client repeats a fixed
 * cycle — [[ReadMix.PointsPerCycle]] seeded point reads by `conv_id` through
 * the `graft` DSv2 source, one full resolved read (`LakeTable.read`), more
 * point reads, one `ChangeFeed` catch-up into a fresh downstream table, and
 * the next [[Queries.PerCycle]] operator queries of [[Queries.Names]] —
 * until the window is spent. Throughput is client operations per second;
 * latency is the point reads'.
 */
final class ReadMix(o: Opts, res: Result) extends Workload {
  import ReadMix._

  private val params = GenParams(seed = o.seed, nEvents = Events,
    nConvs = (Events / 100).toInt, eventsPerFile = Events / Files, maxLateEvents = 500)
  require(params.nFiles == Files, s"WAL has ${params.nFiles} segments, expected $Files")

  /** WAL and table of the run: (WAL dir, table dir, WAL generation seconds). */
  private def build(ctx: Ctx): (String, String, Double) = {
    val spark = ctx.spark
    val walDir = s"${o.work}/wal"
    val tableDir = s"${o.work}/table"
    val genS = Steal.timed(
      ctx.tracer.span("gen.write_wal")(ChangelogGen.writeWal(spark, params, walDir)))._2
    val seg = Util.segmentDirs(walDir).map { case (i, d) => i -> d.getPath }
    // small delta files, so a few epochs leave tens of them
    val opts = MergeOptions(mode = MergeMode.Mor, minRowsPerFile = DeltaFileRows)
    LakeTable.create(tableDir, CdcIngestJob.payloadSchema(graft.model.Schemas.changeV2),
      opts.keyCols)
    def batch(ix: Seq[Int]): DataFrame = Gates.wal(spark, ix.map(seg))
    MergeInto.merge(spark, LakeTable.load(tableDir), batch(0 until BaseFiles), "setup", 0,
      opts)
    Compaction.foldDeltas(spark, LakeTable.load(tableDir))
    (BaseFiles until Files).foreach { i =>
      MergeInto.merge(spark, LakeTable.load(tableDir), batch(Seq(i)), "setup",
        i - BaseFiles + 1L, opts)
    }
    (walDir, tableDir, genS)
  }

  def run(ctx: Ctx, sessionS: Double): Unit = {
    val spark = ctx.spark
    ctx.tracer.enabled = o.trace
    val ((walDir, tableDir, genS), buildS, _) = Steal.timed(build(ctx))
    ctx.tracer.enabled = false
    val table = LakeTable.load(tableDir)
    res.gate("set-up left tens of unfolded delta files", Gates.deltaFloor(tableDir, MinDeltaFiles))

    // expected state, from the WAL alone
    val expected = Gates.expected(spark, Gates.wal(spark, Seq(walDir))).cache()
    val wantSig = Gates.signature(expected)
    val rnd = new scala.util.Random(o.seed)
    val sample = rnd.shuffle((1 until params.nConvs).toList).take(SampleConvs)
      .map(i => f"conv_$i%06d")
    val wantRows = Gates.expectedTurns(expected, sample)
    val feedRows = table.readChangesBetween(spark, 0L, table.currentVersion).count()
    expected.unpersist()

    var feeds = 0
    val downstreams = Seq.newBuilder[String]
    val sf = o.sfDir.getOrElse(sys.error("read_mix needs --sf-dir"))
    require(Queries.missing.isEmpty,
      s"not in SparkEntry.queries: ${Queries.missing.mkString(", ")}")

    /** One operator query by name: steal-adjusted seconds. */
    def query(name: String): Double = {
      val r = try Right(Steal.timed(ctx.tracer.span(s"ops.$name") {
        Queries.count(spark, sf, name)
      })._2) catch { case e: Exception => Left(e.toString.take(300)) }
      res.check(s"query $name runs", r.isRight, r.left.getOrElse(""))
      r.getOrElse(0.0)
    }

    /** One point read: (plan seconds, execute seconds, rows). */
    def pointRead(c: String): (Double, Double) = ctx.tracer.span("spark.point_read") {
      val (df, planS, _) = Steal.timed(ctx.tracer.span("spark.point_plan") {
        val df = pointQuery(spark, tableDir, c)
        df.queryExecution.executedPlan
        df
      })
      val (rows, execS, _) = Steal.timed(ctx.tracer.span("spark.point_exec")(df.collect()))
      res.gate(s"point read $c equals the SQL fold",
        Gates.pointRead(Gates.turns(rows.toSeq), wantRows.getOrElse(c, Nil)))
      (planS, execS)
    }

    def fullRead(): Double = Steal.timed(ctx.tracer.span("lake.read") {
      res.gate("full read equals the SQL fold", Gates.table(spark, tableDir, wantSig))
    })._2

    /** Catch-up of a fresh downstream table: (seconds, per-poll seconds). */
    def catchUp(): (Double, Seq[Double]) = {
      feeds += 1
      val down = s"${o.work}/down-$feeds"
      downstreams += down
      val cfg = ChangeFeed.Config(tableDir, down, s"${o.work}/cursor-$feeds")
      val polls = Seq.newBuilder[Double]
      val (_, s, _) = Steal.timed(ctx.tracer.span("feed.catch_up") {
        var n = 1L
        while (n > 0) {
          val (v, ps, _) = Steal.timed(ctx.tracer.span("feed.poll")(ChangeFeed.pollOnce(spark, cfg)))
          polls += ps
          n = v
        }
      })
      res.ops(1)
      (s, polls.result())
    }

    final class Window {
      val plan = Seq.newBuilder[Double]
      val exec = Seq.newBuilder[Double]
      val lat = Seq.newBuilder[Double]
      val full = Seq.newBuilder[Double]
      val feed = Seq.newBuilder[Double]
      val polls = Seq.newBuilder[Double]
      val queries = Seq.newBuilder[(String, Double)]
      var ops = 0
      var seconds = 0.0
      var steal = 0.0
    }

    /** The client loop: cycles until `o.seconds` pass and at least MinPoints
      * point reads are done, or exactly `cycles` cycles. */
    def window(cycles: Option[Int]): Window = {
      val w = new Window
      var next = 0
      var nextQuery = 0
      def points(): Unit = (1 to PointsPerCycle / 2).foreach { _ =>
        val (p, e) = pointRead(sample(next % sample.size))
        next += 1
        w.plan += p; w.exec += e; w.lat += p + e; w.ops += 1
      }
      val t0 = System.nanoTime()
      val m0 = Steal.mark()
      var n = 0
      def more = cycles.fold(
        (System.nanoTime() - t0) / 1e9 < o.seconds || next < MinPoints)(n < _)
      while (more) {
        n += 1
        points()
        w.full += fullRead(); w.ops += 1
        points()
        val (s, ps) = catchUp()
        w.feed += s; w.polls ++= ps; w.ops += 1
        (1 to Queries.PerCycle).foreach { _ =>
          val q = Queries.Names(nextQuery % Queries.Names.size)
          nextQuery += 1
          w.queries += q -> query(q); w.ops += 1
        }
      }
      w.steal = Steal.share(m0, Steal.mark())
      w.seconds = (System.nanoTime() - t0) / 1e9 * (1 - w.steal)
      w
    }

    // warm-up, outside the window: every operation of the cycle, and every
    // query once, which also writes the results run.py checks with DuckDB
    val (_, warmS, _) = Steal.timed {
      (1 to WarmPoints).foreach(i => pointRead(sample(sample.size - i)))
      fullRead()
      catchUp()
      Queries.writeResults(spark, sf, Queries.Names, s"${o.work}/ops-results")
    }
    res.e2e("setup_s") = sessionS + warmS + buildS
    res.layer("gen.wal_s") = genS

    val w = window(None)
    Util.retained(res)
    val lat = w.lat.result()
    val tail = Stats.tail(lat, Seq(TailPct, 50.0))
    res.e2e("throughput_per_s") = w.ops / w.seconds
    res.layer("host.steal_frac") = w.steal
    res.e2e("latency_p50_s") = Stats.percentile(lat, 50)
    res.e2e("latency_tail_s") = tail.value
    res.note("client_ops_per_s", w.ops / w.seconds, "ops/s")
    res.note("point_read_p50_s", Stats.percentile(lat, 50), "s")
    res.note(f"point_read_p${tail.pct}%.0f_s (n=${tail.n})", tail.value, "s")
    res.note("full_read_s (median)", Stats.median(w.full.result()), "s")
    res.note("feed_catchup_rows_per_s", feedRows / Stats.median(w.feed.result()), "rows/s")
    val qs = w.queries.result()
    Queries.Names.foreach { q =>
      val xs = qs.collect { case (`q`, s) => s }
      if (xs.nonEmpty) res.note(s"ops.${q}_s (median)", Stats.median(xs), "s")
    }

    if (o.trace) {
      ctx.collect(true)
      ctx.tracer.enabled = true
      val feedsBefore = feeds
      val tw = window(Some(TracedCycles))
      ctx.tracer.enabled = false
      ctx.collect(false)
      val l = res.layer
      Layers.exec(ctx, tw.seconds, 0, res)
      // the catch-ups' merges into their downstream tables
      Layers.merge(downstreams.result().drop(feedsBefore)
        .flatMap(d => Layers.tableMetrics(spark, d)._1), res)
      Layers.lake(spark, tableDir, Nil, Nil, 0L, res)
      l("lake.full_read_s") = Stats.median(tw.full.result())
      val points = tw.plan.result().size
      l("spark.point_reads") = points.toDouble
      l("spark.point_plan_p50_s") = Stats.median(tw.plan.result())
      l("spark.point_exec_p50_s") = Stats.median(tw.exec.result())
      l("feed.polls") = tw.polls.result().size.toDouble
      l("feed.poll_p50_s") = Stats.median(tw.polls.result())
      l("feed.rows") = feedRows.toDouble
      l("feed.rows_per_s") = feedRows / Stats.median(tw.feed.result())
      val tq = tw.queries.result()
      Queries.Names.foreach { q =>
        val xs = tq.collect { case (`q`, s) => s }
        l(s"ops.${q}_s") = if (xs.isEmpty) 0.0 else Stats.median(xs)
      }
      l("latency.samples") = tail.n.toDouble
      l("latency.tail_pct") = tail.pct
      l("trace.overhead_frac") = 1.0 - (tw.ops / tw.seconds) / (w.ops / w.seconds)
      Layers.hostProbes(spark, walDir, res)
      Layers.writeTrace(o, ctx, res)
      Layers.fill(res)
    }

    // every downstream table must equal its upstream
    downstreams.result().foreach { d =>
      res.gate(s"downstream $d equals upstream", Gates.table(spark, d, wantSig))
    }
    spark.stop()
  }
}

object ReadMix {
  val Events = 150000L
  val Files = 20
  val BaseFiles = 16
  val DeltaFileRows = 1500L
  val SampleConvs = 200
  val PointsPerCycle = 20
  val MinPoints = 40
  /** point reads of the warm-up, on conversations the window reads last */
  val WarmPoints = 10
  val MinDeltaFiles = 20
  /** two cycles run every query once ([[Queries.PerCycle]] each) */
  val TracedCycles = 2
  /** tail percentile reported: MinPoints samples leave 10 beyond p75 */
  val TailPct = 75.0

  /** A point read: one conversation's (turn_idx, text) rows through the
    * `graft` DSv2 source. */
  def pointQuery(spark: SparkSession, tableDir: String, conv: String): DataFrame =
    spark.read.format("graft").load(tableDir)
      .filter(col("conv_id") === conv).select("turn_idx", "text")
}
