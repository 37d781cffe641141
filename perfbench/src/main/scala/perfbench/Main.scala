package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (see run.py, which builds and launches it). */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, out: String, sfDir: Option[String])

/** A Spark session with the benchmark's listeners and span recorder attached. */
final class Ctx(val spark: SparkSession, val cores: Int) {
  val tracer = new Tracer(spark.sparkContext)
  val exec = new ExecListener
  val stream = new StreamListener
  spark.sparkContext.addSparkListener(exec)
  spark.streams.addListener(stream)

  /** Start collecting listener data (spans are switched separately). */
  def collect(on: Boolean): Unit = {
    if (on) { exec.reset(); stream.reset() }
    exec.enabled = on
    stream.enabled = on
    if (!on) org.apache.spark.perfbench.Shim.drainListenerBus(spark.sparkContext)
  }
}

object Ctx {
  def apply(cores: Int, work: String): Ctx = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$cores")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    new Ctx(s, cores)
  }
}

/** Metrics, operation counts and correctness failures of one run. */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val report = mutable.ArrayBuffer.empty[String]

  /** Count `n` operations that completed. */
  def ops(n: Long): Unit = attempted += n

  /** Count one correctness check; a mismatch is counted and shouted. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      val msg = s"$what: $detail"
      failures += msg
      System.err.println(s"[perfbench] CORRECTNESS FAILURE $msg")
    }
  }

  /** Count one gate (see [[Gates]]): `mismatch` is None when it holds. */
  def gate(what: String, mismatch: Option[String]): Unit =
    check(what, mismatch.isEmpty, mismatch.getOrElse(""))

  /** A human-readable figure for stderr, named as the workload notes name it. */
  def note(name: String, value: Double, unit: String): Unit =
    report += f"$name%-34s $value%14.4f $unit"
}

/** Timings and helpers every workload uses. */
object Util {
  def secondsOf[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** `wal_file=N` segment directories of a WAL (either era), by N. */
  def segmentDirs(walDir: String): Map[Int, java.io.File] =
    Option(new java.io.File(walDir).listFiles()).toSeq.flatten.filter(_.isDirectory)
      .flatMap(era => era.listFiles().filter(_.getName.startsWith("wal_file=")))
      .map(d => d.getName.stripPrefix("wal_file=").toInt -> d).toMap

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /**
   * Memory the JVM retains: heap still live after a full collection plus
   * non-heap in use (metaspace, code cache), in MiB. Recorded as
   * `retained_mb` and, split, as `mem.live_heap_mb` / `mem.nonheap_mb`.
   * Unlike the peak resident set (VmHWM, the per-layer `mem.peak_rss_mb`),
   * it does not depend on how large the collector let the heap grow.
   */
  def retained(res: Result): Unit = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc()
    val live = mx.getHeapMemoryUsage.getUsed / 1048576.0
    val nonHeap = mx.getNonHeapMemoryUsage.getUsed / 1048576.0
    res.e2e("retained_mb") = live + nonHeap
    res.layer("mem.live_heap_mb") = live
    res.layer("mem.nonheap_mb") = nonHeap
  }

  def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}

object Main {
  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("out"), m.get("sf-dir"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(Paths.get(o.work))
    Files.createDirectories(Paths.get(o.out))
    val res = new Result
    val code =
      try {
        val ctx = Ctx(Cores, o.work)
        val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
        val w: Workload = o.workload match {
          case "ingest_bulk" => new IngestBulk(o, res)
          case "read_mix" => new ReadMix(o, res)
          case other => sys.error(s"unknown workload '$other'")
        }
        w.run(ctx, sessionS)
        emit(o, res)
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run failed: $e")
          e.printStackTrace()
          1
      }
    // Spark leaves non-daemon threads behind; the session work is done
    System.exit(code)
  }

  /** Cores every run uses: the width the benchmark is defined at. */
  val Cores = 4

  private def emit(o: Opts, res: Result): Unit = {
    res.report.foreach(l => System.err.println(s"[perfbench] $l"))
    val metrics = (if (o.trace) res.layer else res.e2e)
      .map { case (k, v) => s""""$k":${Util.jsonNum(v)}""" }.mkString("{", ",", "}")
    val fails = res.failures.map(f => "\"" + f.replace("\\", "\\\\").replace("\"", "'") + "\"")
      .mkString("[", ",", "]")
    println(s"""PERFBENCH {"correct":${res.failed == 0},"attempted":${res.attempted},""" +
      s""""failed":${res.failed},"failures":$fails,"metrics":$metrics}""")
  }
}

/** One benchmark workload: set-up, timed window(s), checks, metrics. */
trait Workload {
  def run(ctx: Ctx, sessionS: Double): Unit
}
