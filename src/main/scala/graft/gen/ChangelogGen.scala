package graft.gen

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.LocalFs
import graft.model.{ChangeEvent, Schemas}

/**
 * Deterministic synthetic transcript changelog (FIXTURES.md §A).
 *
 * Every emitted row is a pure function of (params, row index) so the same
 * params reproduce the identical multiset of events on any partitioning,
 * any cluster size, any run — the property the replay-equality tests and the
 * two-parallelism scaling benchmark both rely on.
 *
 * Mirrors the workload the reference is used for (streamed change batches,
 * /root/reference/doc.go:53-75) but generated, not read from a DB:
 *  - unique, strictly-ordering `lsn` per logical event
 *  - ~`dupFrac` duplicate deliveries (same lsn + payload re-emitted)
 *  - ~`lateFrac` out-of-order arrivals with bounded lateness (for watermarks)
 *  - hot-key skew: conv "conv_hot" receives ~`hotFrac` of all events
 *  - deletes (`op = D`) with null payload
 *  - schema evolution: events landing in WAL files >= `evolveAtFileFrac`
 *    carry an added `tool_meta` column (era-1 files are written with the
 *    wider schema; era-0 files without it)
 */
final case class GenParams(
    seed: Long = 42L,
    nEvents: Long = 100000L,
    nConvs: Int = 1000,
    turnsPerConv: Int = 50,
    hotFrac: Double = 0.20,
    updateFrac: Double = 0.30,
    deleteFrac: Double = 0.05,
    dupFrac: Double = 0.02,
    lateFrac: Double = 0.10,
    maxLateEvents: Int = 2000,
    eventsPerFile: Long = 10000L,
    evolveAtFileFrac: Double = 0.6,
    toolFrac: Double = 0.10) {
  def nFiles: Int = math.max(1, math.ceil(nEvents.toDouble / eventsPerFile).toInt)
  def evolveFile: Int = math.max(1, (nFiles * evolveAtFileFrac).toInt)
}

object ChangelogGen {
  private val T0 = 1735689600000000L // 2025-01-01T00:00:00Z in micros

  /** SplitMix64 — stable across JVMs, cheap, well distributed. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def rand01(seed: Long, k: Long, stream: Int): Double =
    ((mix(mix(seed ^ (stream.toLong << 48)) ^ k) >>> 11).toDouble) / (1L << 53).toDouble
  private def randInt(seed: Long, k: Long, stream: Int, bound: Int): Int =
    (rand01(seed, k, stream) * bound).toInt.min(bound - 1)

  /** WAL file index for emitted row i (arrival order with bounded lateness). */
  def fileIdx(p: GenParams, i: Long): Int = {
    val jitter =
      if (rand01(p.seed, i, 7) < p.lateFrac) -(1 + randInt(p.seed, i, 8, p.maxLateEvents))
      else 0
    val pos = math.max(0L, i + jitter)
    math.min(p.nFiles - 1, (pos / p.eventsPerFile).toInt)
  }

  /** Logical event index emitted by row i (ducks back for duplicate deliveries). */
  def logicalIdx(p: GenParams, i: Long): Long =
    if (i > 100 && rand01(p.seed, i, 9) < p.dupFrac) i - 1 - randInt(p.seed, i, 10, 100)
    else i

  /**
   * Whether event k may carry the evolved `tool_meta` column. Pure function of
   * k (NOT of the emitting row) so every delivery of the same lsn has an
   * identical payload; the margin guarantees no eligible event can ever be
   * emitted into an era-0 (narrow-schema) file: a row landing in era 0 has
   * i + jitter < evolveFile*eventsPerFile with jitter >= -maxLateEvents and
   * its logical k <= i, hence k < evolveFile*eventsPerFile + maxLateEvents.
   */
  def evolvedEvent(p: GenParams, k: Long): Boolean =
    k >= p.evolveFile.toLong * p.eventsPerFile + p.maxLateEvents

  /**
   * The logical event with lsn = k. Pure; used identically by the Spark map
   * and the driver-side fold oracle.
   */
  def genEvent(p: GenParams, k: Long): ChangeEvent = {
    val inEvolvedFile = evolvedEvent(p, k)
    val hot = rand01(p.seed, k, 1) < p.hotFrac
    val conv = if (hot) "conv_hot" else f"conv_${randInt(p.seed, k, 2, p.nConvs - 1) + 1}%06d"
    val turn = randInt(p.seed, k, 3, p.turnsPerConv)
    val opR = rand01(p.seed, k, 4)
    val op = if (opR < p.deleteFrac) "D" else if (opR < p.deleteFrac + p.updateFrac) "U" else "I"
    val ts = new Timestamp((T0 + k * 1000000L) / 1000L)
    if (op == "D") {
      ChangeEvent(op, k, conv, turn, null, null, None, ts, None)
    } else {
      val isTool = rand01(p.seed, k, 5) < p.toolFrac
      val role = if (isTool) "tool" else if (turn % 2 == 0) "user" else "assistant"
      val tool = if (isTool) Some(s"tool_${randInt(p.seed, k, 6, 8)}") else None
      val text = s"$conv turn=$turn lsn=$k ${wordsFor(p.seed, k)}"
      val meta =
        if (inEvolvedFile && rand01(p.seed, k, 11) < 0.5)
          Some(s"""{"calls":${randInt(p.seed, k, 12, 5)},"lat_ms":${randInt(p.seed, k, 13, 900) + 10}}""")
        else None
      ChangeEvent(op, k, conv, turn, role, text, tool, ts, meta)
    }
  }

  private val vocab = Array("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
    "golf", "hotel", "india", "juliet", "kilo", "lima", "mike", "november")
  private def wordsFor(seed: Long, k: Long): String = {
    val n = 4 + randInt(seed, k, 20, 12)
    (0 until n).map(j => vocab(randInt(seed, k, 21 + j, vocab.length))).mkString(" ")
  }

  /** Emitted row i = (its WAL file, its event). */
  def emittedRow(p: GenParams, i: Long): (Int, ChangeEvent) =
    (fileIdx(p, i), genEvent(p, logicalIdx(p, i)))

  /** Distributed generation of the full emitted changelog (+ wal file idx). */
  def events(spark: SparkSession, p: GenParams): Dataset[(Int, ChangeEvent)] = {
    import spark.implicits._
    spark.range(0, p.nEvents, 1, spark.sparkContext.defaultParallelism)
      .map(i => emittedRow(p, i))
  }

  /**
   * Write the changelog as an append-only WAL directory of parquet files.
   * Era-0 files (`era=0/`) use the v1 schema; era-1 files carry `tool_meta`.
   *
   * A real binlog/WAL directory is created sequentially, so file modification
   * times follow event order — and Spark's file streaming source picks files
   * oldest-modTime-first. A naive distributed write loses that property (all
   * part files land with the same clock second, in arbitrary order), which at
   * scale lets the watermark jump ahead of unread files and the streaming
   * dedup silently drop their events as too-late.
   *
   * Layout is CONTENT-ADDRESSED: a dynamic-partition write by `wal_file`
   * puts each WAL segment in its own `wal_file=N/` directory, and modTimes
   * are stamped from N — so file count and event→file placement are pure
   * functions of the params. (The earlier range-partitioned layout derived
   * placement from repartitionByRange, whose boundary SAMPLING is seeded by
   * the session-global rdd id — under a busy shared session adjacent
   * segments merged nondeterministically, collapsing 8 WAL files to 6-7 and
   * changing the epoch structure between otherwise identical runs.)
   * recursiveFileLookup on the streaming source reads the nested dirs;
   * partition-column inference is off under recursive lookup, so `wal_file`
   * never leaks into the schema.
   */
  def writeWal(spark: SparkSession, p: GenParams, walDir: String): Unit = {
    writeWalEra0(spark, p, walDir)
    writeWalEra1(spark, p, walDir)
  }

  /** Only write era-0 files (for checkpoint-resume tests: run, then append era 1). */
  def writeWalEra0(spark: SparkSession, p: GenParams, walDir: String): Unit = {
    import spark.implicits._
    LocalFs.install(spark)
    events(spark, p)
      .map { case (f, e) => WalRow(f, e.op, e.lsn, e.conv_id, e.turn_idx, e.role,
        e.text, e.tool, e.ts, e.tool_meta) }
      .filter(_.wal_file < p.evolveFile)
      .repartition(p.evolveFile, $"wal_file")
      .sortWithinPartitions($"wal_file", $"lsn")
      .drop("tool_meta")
      .write.mode(SaveMode.Overwrite)
      // WAL segment encoding = the CDC receiver's landing-format choice:
      // lz4/no-dict decodes sequentially and scales with cores where
      // snappy+dictionary is latency-bound at wide widths (measured — see
      // LakeTable.WriteCodec)
      .option("compression", "lz4")
      .option("parquet.enable.dictionary", "false")
      .partitionBy("wal_file").parquet(s"$walDir/era=0")
    stampModTimes(s"$walDir/era=0")
  }

  def writeWalEra1(spark: SparkSession, p: GenParams, walDir: String): Unit = {
    import spark.implicits._
    LocalFs.install(spark)
    if (p.evolveFile < p.nFiles) {
      events(spark, p)
        .map { case (f, e) => WalRow(f, e.op, e.lsn, e.conv_id, e.turn_idx, e.role,
          e.text, e.tool, e.ts, e.tool_meta) }
        .filter(_.wal_file >= p.evolveFile)
        .repartition(p.nFiles - p.evolveFile, $"wal_file")
        .sortWithinPartitions($"wal_file", $"lsn")
        .write.mode(SaveMode.Overwrite)
        .option("compression", "lz4")
        .option("parquet.enable.dictionary", "false")
        .partitionBy("wal_file").parquet(s"$walDir/era=1")
      stampModTimes(s"$walDir/era=1")
    }
  }

  /** Fixed base well in the past so appended eras always sort after by index. */
  private val ModTimeBase = 1600000000000L

  /** wal_file=N directory -> its part files get modTime = base + N seconds
    * (N is the global segment index, so eras need no offset). */
  private def stampModTimes(dir: String): Unit = {
    val d = new java.io.File(dir)
    val subdirs = Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("wal_file="))
    subdirs.foreach { sd =>
      val idx = sd.getName.stripPrefix("wal_file=").toInt
      Option(sd.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.startsWith("part-"))
        .foreach { f =>
          val ok = f.setLastModified(ModTimeBase + idx * 1000L)
          require(ok, s"failed to set modTime on $f")
        }
    }
  }

  /**
   * Driver-side executable spec (SURVEY.md §5): sequential fold of the emitted
   * changelog keyed by (conv_id, turn_idx), max-lsn-wins, deletes remove keys.
   * Only for test-scale inputs (materializes on the driver).
   */
  def foldOracle(p: GenParams): Map[(String, Int), ChangeEvent] = {
    val m = scala.collection.mutable.Map.empty[(String, Int), ChangeEvent]
    var i = 0L
    while (i < p.nEvents) {
      val (_, e) = emittedRow(p, i)
      val key = (e.conv_id, e.turn_idx)
      val keep = m.get(key).forall(_.lsn < e.lsn)
      if (keep) m(key) = e
      i += 1
    }
    m.filter { case (_, e) => e.op != "D" }.toMap
  }
}

/** Flat WAL row (wal_file is a bucketing aid, dropped before write). */
final case class WalRow(
    wal_file: Int,
    op: String,
    lsn: Long,
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: Option[String],
    ts: Timestamp,
    tool_meta: Option[String])
