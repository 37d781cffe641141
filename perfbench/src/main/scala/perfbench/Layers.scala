package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.lake.LakeTable

/**
 * Per-layer metrics of a traced window. Every traced run reports every name
 * in [[Layers.Names]] (a layer a workload does not exercise reads 0); the
 * list must match `per_layer` in BENCHMARK.json, which run.py checks.
 */
object Layers {

  val Names: Seq[(String, String)] = Seq(
    "gen.wal_s" -> "s",
    "stream.epochs" -> "count", "stream.epoch_wall_p50_s" -> "s",
    "stream.epoch_overhead_p50_s" -> "s", "stream.latest_offset_s" -> "s",
    "stream.query_planning_s" -> "s", "stream.wal_commit_s" -> "s",
    "stream.commit_offsets_s" -> "s",
    "merge.epochs" -> "count", "merge.stats_s" -> "s", "merge.write_s" -> "s",
    "merge.footer_s" -> "s", "merge.commit_s" -> "s", "merge.rows_in" -> "count",
    "merge.rows_out_per_row_in" -> "ratio", "merge.files_added" -> "count",
    "exec.busy_frac" -> "ratio", "exec.cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.shuffle_write_bytes" -> "bytes", "exec.shuffle_read_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.task_skew" -> "ratio",
    "exec.jobs" -> "count", "exec.jobs_per_epoch" -> "ratio",
    "lake.folds" -> "count", "lake.fold_s" -> "s",
    "lake.fold_rows_rewritten" -> "count", "lake.rows_written_per_event" -> "ratio",
    "lake.table_bytes_per_row" -> "bytes", "lake.snapshot_versions" -> "count",
    "lake.manifest_files" -> "count", "lake.read_files" -> "count",
    "lake.full_read_s" -> "s",
    "spark.point_reads" -> "count", "spark.point_plan_p50_s" -> "s",
    "spark.point_exec_p50_s" -> "s",
    "feed.polls" -> "count", "feed.poll_p50_s" -> "s", "feed.rows" -> "count",
    "feed.rows_per_s" -> "1/s",
    "ingest.events_per_s_1core" -> "1/s", "scaling_eff_1to4" -> "ratio",
    "mem.peak_rss_mb" -> "MB", "mem.live_heap_mb" -> "MB", "mem.nonheap_mb" -> "MB",
    "host.cpu_probe_s" -> "s", "host.scan_probe_s" -> "s", "host.steal_frac" -> "ratio",
    "latency.samples" -> "count", "latency.tail_pct" -> "%",
    "self.gen_s" -> "s", "self.stream_s" -> "s", "self.merge_s" -> "s",
    "self.lake_s" -> "s", "self.spark_s" -> "s", "self.feed_s" -> "s", "self.ops_s" -> "s",
    "trace.spans" -> "count", "trace.overhead_frac" -> "ratio") ++
    Queries.Names.map(q => s"ops.${q}_s" -> "s")

  /** Executor cost of the window from [[ExecListener]]. */
  def exec(ctx: Ctx, windowS: Double, epochs: Int, res: Result): Unit = {
    val ts = ctx.exec.taskCosts
    val l = res.layer
    l("exec.busy_frac") = ts.map(_.runMs).sum / 1000.0 / (ctx.cores * windowS)
    l("exec.cpu_s") = ts.map(_.cpuNs).sum / 1e9
    l("exec.gc_s") = ts.map(_.gcMs).sum / 1000.0
    l("exec.shuffle_write_bytes") = ts.map(_.shuffleWrite).sum.toDouble
    l("exec.shuffle_read_bytes") = ts.map(_.shuffleRead).sum.toDouble
    l("exec.spill_bytes") = ts.map(_.spill).sum.toDouble
    // max/median task time of each stage that reads a shuffle, median over stages
    val skews = ts.groupBy(_.stage).values
      .filter(st => st.size >= 2 && st.exists(_.shuffleRead > 0))
      .map { st =>
        val d = st.map(_.durMs.toDouble)
        d.max / math.max(1.0, Stats.median(d))
      }.toSeq
    l("exec.task_skew") = if (skews.isEmpty) 0.0 else Stats.median(skews)
    l("exec.jobs") = ctx.exec.jobCount.toDouble
    l("exec.jobs_per_epoch") = if (epochs == 0) 0.0 else ctx.exec.jobCount.toDouble / epochs
  }

  /** Micro-batch phases from streaming progress (`durationMs`). */
  def stream(epochs: Seq[Epoch], res: Result): Unit = {
    val l = res.layer
    def sumS(k: String) = epochs.map(_.durations.getOrElse(k, 0L)).sum / 1000.0
    l("stream.epochs") = epochs.size.toDouble
    if (epochs.nonEmpty) {
      l("stream.epoch_wall_p50_s") = Stats.median(epochs.map(_.wallMs / 1000.0))
      l("stream.epoch_overhead_p50_s") = Stats.median(epochs.map(e =>
        (e.wallMs - e.durations.getOrElse("addBatch", 0L)) / 1000.0))
    }
    l("stream.latest_offset_s") = sumS("latestOffset")
    l("stream.query_planning_s") = sumS("queryPlanning")
    l("stream.wal_commit_s") = sumS("walCommit")
    l("stream.commit_offsets_s") = sumS("commitOffsets")
  }

  /** A `MergeStats` row of a table's `_metrics` (epoch records only). */
  final case class MergeRow(ckptId: String, epochId: Long, rowsIn: Long, rowsOut: Long,
      filesAdded: Long, statsMs: Long, writeMs: Long, footerMs: Long, commitMs: Long)

  /** A fold record of a table's `_metrics`. */
  final case class FoldRow(version: Long, rowsRewritten: Long, foldMs: Long)

  /** Epoch and fold records, read through `LakeTable.metrics`. */
  def tableMetrics(spark: SparkSession, dir: String): (Seq[MergeRow], Seq[FoldRow]) = {
    val df = LakeTable.load(dir).metrics(spark)
    if (df.columns.isEmpty) return (Nil, Nil)
    val cols = df.columns.toSet
    def long(r: org.apache.spark.sql.Row, c: String): Long =
      if (!cols.contains(c) || r.isNullAt(r.fieldIndex(c))) 0L else r.getAs[Long](c)
    def str(r: org.apache.spark.sql.Row, c: String): String =
      if (!cols.contains(c) || r.isNullAt(r.fieldIndex(c))) null else r.getAs[String](c)
    val rows = df.collect().toSeq
    val folds = rows.filter(r => str(r, "op") == "fold")
      .map(r => FoldRow(long(r, "snapshotVersion"), long(r, "rowsRewritten"), long(r, "foldMs")))
    val merges = rows.filter(r => str(r, "op") == null && cols.contains("noop") &&
        !r.getAs[Boolean]("noop"))
      .map(r => MergeRow(str(r, "ckptId"), long(r, "epochId"), long(r, "batchRows"),
        long(r, "outputRows"), long(r, "filesAdded"), long(r, "statsMs"),
        long(r, "writeMs"), long(r, "footerMs"), long(r, "commitMs")))
    (merges, folds)
  }

  def merge(rows: Seq[MergeRow], res: Result): Unit = {
    val l = res.layer
    l("merge.epochs") = rows.size.toDouble
    l("merge.stats_s") = rows.map(_.statsMs).sum / 1000.0
    l("merge.write_s") = rows.map(_.writeMs).sum / 1000.0
    l("merge.footer_s") = rows.map(_.footerMs).sum / 1000.0
    l("merge.commit_s") = rows.map(_.commitMs).sum / 1000.0
    val in = rows.map(_.rowsIn).sum
    l("merge.rows_in") = in.toDouble
    l("merge.rows_out_per_row_in") = if (in == 0) 0.0 else rows.map(_.rowsOut).sum.toDouble / in
    l("merge.files_added") = rows.map(_.filesAdded).sum.toDouble
  }

  /** Folds, write amplification, space and metadata size of one table. */
  def lake(spark: SparkSession, dir: String, merges: Seq[MergeRow], folds: Seq[FoldRow],
      events: Long, res: Result): Unit = {
    val l = res.layer
    val t = LakeTable.load(dir)
    l("lake.folds") = folds.size.toDouble
    l("lake.fold_s") = folds.map(_.foldMs).sum / 1000.0
    l("lake.fold_rows_rewritten") = folds.map(_.rowsRewritten).sum.toDouble
    l("lake.rows_written_per_event") =
      if (events == 0) 0.0
      else (merges.map(_.rowsOut).sum + folds.map(_.rowsRewritten).sum).toDouble / events
    val files = t.currentFiles
    val bytes = files.map(f => Files.size(Paths.get(new java.net.URI(
      if (f.path.contains(":")) f.path else "file://" + f.path)))).sum
    val rows = t.read(spark).count()
    l("lake.table_bytes_per_row") = if (rows == 0) 0.0 else bytes.toDouble / rows
    l("lake.snapshot_versions") = t.availableVersions.size.toDouble
    l("lake.manifest_files") =
      Option(new java.io.File(dir, "_manifests").list()).map(_.length).getOrElse(0).toDouble
    l("lake.read_files") = files.size.toDouble
  }

  /**
   * Program-reported child spans: each streaming epoch from its progress
   * report (phases laid end to end in execution order), and inside its
   * addBatch the merge phases from the epoch's `MergeStats` row. Each epoch
   * is parented to the benchmark span that was open when it started.
   */
  def synthesize(tracer: Tracer, epochs: Seq[Epoch], merges: Seq[MergeRow],
      parents: Seq[Span]): Unit = {
    val phases = Seq("latestOffset" -> "stream.latest_offset", "walCommit" -> "stream.wal_commit",
      "getBatch" -> "stream.get_batch", "queryPlanning" -> "stream.query_planning",
      "addBatch" -> "stream.add_batch", "commitOffsets" -> "stream.commit_offsets")
    val byKey = merges.map(m => (m.ckptId, m.epochId) -> m).toMap
    epochs.foreach { e =>
      val start = e.startMs * 1000
      val parent = parents.filter(p => p.start <= start && start <= p.end)
        .sortBy(-_.start).headOption
      val id = tracer.nextId()
      val trace = parent.map(_.trace).getOrElse(id)
      tracer.add(Span(id, "stream.epoch", start, start + e.wallMs * 1000,
        parent.map(_.id).getOrElse(0L), trace, synthesized = true))
      var t = start
      phases.foreach { case (k, name) =>
        e.durations.get(k).foreach { ms =>
          val pid = tracer.nextId()
          tracer.add(Span(pid, name, t, t + ms * 1000, id, trace, synthesized = true))
          if (k == "addBatch")
            byKey.get((e.query.stripPrefix("cdc-ingest-"), e.batchId)).foreach { m =>
              var u = t
              Seq("merge.stats" -> m.statsMs, "merge.write" -> m.writeMs,
                "merge.footer" -> m.footerMs, "merge.commit" -> m.commitMs).foreach {
                case (n, d) =>
                  tracer.add(Span(tracer.nextId(), n, u, u + d * 1000, pid, trace,
                    synthesized = true))
                  u += d * 1000
              }
            }
          t += ms * 1000
        }
      }
    }
  }

  /** Fixed-work probes that separate a slow host from a slow program. */
  def hostProbes(spark: SparkSession, walDir: String, res: Result): Unit = {
    def cpu() = Util.secondsOf(spark.range(0, 400000000L, 1, 32)
      .selectExpr("sum(id % 1000003)").head())._2
    def scan() = Util.secondsOf(Gates.wal(spark, Seq(walDir))
      .selectExpr("sum(length(text))", "max(lsn)").head())._2
    cpu(); scan()
    res.layer("host.cpu_probe_s") = cpu()
    res.layer("host.scan_probe_s") = scan()
  }

  /** Self time per layer into the metrics, and the spans plus a table of
    * self time and executor CPU per layer into the run's output directory.
    * A task's CPU counts for the layer of the span its job was launched
    * under (see [[Tracer]] for the async-fold limit). */
  def writeTrace(o: Opts, ctx: Ctx, res: Result): Unit = {
    val spans = ctx.tracer.spans
    val layerOf = spans.map(s => s.id -> s.layer).toMap
    val cpu = ctx.exec.taskCosts.groupBy(t => layerOf.getOrElse(t.spanId, "(none)"))
      .map { case (l, ts) => l -> ts.map(_.cpuNs).sum / 1e9 }
    val self = Span.layerSelfSeconds(spans)
    Seq("gen", "stream", "merge", "lake", "spark", "feed", "ops").foreach { l =>
      res.layer(s"self.${l}_s") = self.getOrElse(l, 0.0)
    }
    res.layer("trace.spans") = spans.size.toDouble
    val base = Paths.get(o.out, s"${o.workload}-seed${o.seed}")
    Files.write(Paths.get(base.toString + ".spans.json"),
      Tracer.toJson(spans).getBytes(StandardCharsets.UTF_8))
    val table = new StringBuilder
    table ++= s"# ${o.workload} seed ${o.seed}: self time per layer (set-up and traced window)\n"
    table ++= f"${"layer"}%-10s ${"self_s"}%10s ${"spans"}%7s ${"task_cpu_s"}%11s\n"
    (spans.map(_.layer) ++ cpu.keys).distinct.sorted.foreach { l =>
      table ++= f"$l%-10s ${self.getOrElse(l, 0.0)}%10.4f ${spans.count(_.layer == l)}%7d " +
        f"${cpu.getOrElse(l, 0.0)}%11.3f\n"
    }
    table ++= f"tracing overhead: ${res.layer.getOrElse("trace.overhead_frac", 0.0) * 100}%.2f%% " +
      "of untraced throughput\n"
    table ++= "attribution: async fold and vacuum jobs run on the engine's maintenance " +
      "thread and inherit the stream's job properties; fold cost comes from " +
      "_metrics/fold-*.json records\n"
    Files.write(Paths.get(base.toString + ".layers.txt"),
      table.toString.getBytes(StandardCharsets.UTF_8))
    System.err.print(table.toString)
  }

  /** Every name in [[Names]] present (0 where the workload has no such layer). */
  def fill(res: Result): Unit = {
    res.layer("mem.peak_rss_mb") = Util.peakRssMb()
    val known = Names.map(_._1).toSet
    val extra = res.layer.keySet.diff(known)
    require(extra.isEmpty, s"per-layer metrics missing from the list: $extra")
    val vals = res.layer.toMap
    res.layer.clear()
    Names.foreach { case (n, _) => res.layer(n) = vals.getOrElse(n, 0.0) }
  }
}
