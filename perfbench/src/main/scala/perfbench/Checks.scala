package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.LakeTable
import graft.model.Schemas

/**
 * Correctness gates that share no code with the engine under test: the
 * expected table is a plain Spark SQL max-LSN fold of the WAL files
 * (`row_number() OVER (PARTITION BY key ORDER BY lsn DESC)`, deletes
 * dropped), compared through an order-independent signature.
 */
object Gates {

  /** (row count, bit_xor of xxhash64(conv_id, turn_idx, text)). */
  def signature(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(bit_xor(xxhash64(col("conv_id"), col("turn_idx"), col("text"))), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  def wal(spark: SparkSession, dirs: Seq[String]): DataFrame =
    spark.read.schema(Schemas.changeV2).option("recursiveFileLookup", "true")
      .parquet(dirs: _*)

  private val views = new java.util.concurrent.atomic.AtomicLong(0)

  /** The expected table state: last event per key by lsn, deletes removed. */
  def expected(spark: SparkSession, wal: DataFrame): DataFrame = {
    val v = s"perfbench_wal_${views.incrementAndGet()}"
    wal.createOrReplaceTempView(v)
    spark.sql(
      s"""SELECT conv_id, turn_idx, text FROM (
         |  SELECT conv_id, turn_idx, text, op,
         |         row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
         |  FROM $v) WHERE rn = 1 AND op <> 'D'""".stripMargin)
  }

  // Each gate returns None when it holds, else what differs. The workloads
  // and the self-test call the same functions.

  /** A table's resolved read (`LakeTable.read`) has the expected signature:
    * the gate of every ingested table, every full read and every downstream
    * table after its catch-up. */
  def table(spark: SparkSession, dir: String, want: (Long, Long)): Option[String] = {
    val got = signature(LakeTable.load(dir).read(spark))
    if (got == want) None else Some(s"got $got want $want")
  }

  /** One conversation's rows as (turn_idx, text), sorted; `rows` are
    * (turn_idx, text) rows, the point read's projection. */
  def turns(rows: Seq[Row]): Seq[(Int, String)] =
    rows.map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)

  /** Expected rows of each of `convs`, from the fold of the WAL. */
  def expectedTurns(expected: DataFrame, convs: Seq[String]): Map[String, Seq[(Int, String)]] =
    expected.filter(col("conv_id").isin(convs: _*)).collect().toSeq.groupBy(_.getString(0))
      .map { case (c, rs) => c -> rs.map(r => (r.getInt(1), r.getString(2))).sortBy(_._1) }

  /** A point read returned exactly the fold's rows of its conversation. */
  def pointRead(got: Seq[(Int, String)], want: Seq[(Int, String)]): Option[String] =
    if (got == want) None
    else Some(s"${got.size} rows, want ${want.size}; first difference " +
      got.zipAll(want, null, null).find { case (a, b) => a != b }.getOrElse(""))

  /** The table holds at least `min` unfolded delta files. */
  def deltaFloor(dir: String, min: Int): Option[String] = {
    val n = LakeTable.load(dir).currentFiles.count(_.delta)
    if (n >= min) None else Some(s"$n delta files, want at least $min")
  }
}

/**
 * Segment → epoch mapping from the files a streaming run leaves in its
 * checkpoint: the file source's metadata log (`sources/0/<batch>` and its
 * `.compact` roll-ups) names the batch each WAL file was read in, and the
 * commit log (`commits/<batch>`) is written when that batch's sink work is
 * done, so its modification time is the batch's commit time.
 */
object Ckpt {
  private val SegmentRe = "wal_file=(\\d+)".r

  /** WAL file path → batch id that read it. */
  def fileBatches(ckptDir: String): Map[String, Long] = {
    val dir = Paths.get(ckptDir, "sources", "0")
    if (!Files.isDirectory(dir)) return Map.empty
    implicit val fmt: org.json4s.Formats = org.json4s.DefaultFormats
    list(dir).filterNot(_.getFileName.toString.startsWith(".")).flatMap { f =>
      new String(Files.readAllBytes(f), StandardCharsets.UTF_8).linesIterator
        .filter(_.startsWith("{")).map { line =>
          val j = org.json4s.jackson.JsonMethods.parse(line)
          (j \ "path").extract[String] -> (j \ "batchId").extract[Long]
        }
    }.toMap
  }

  /** batch id → commit time (µs since the epoch). */
  def commitTimes(ckptDir: String): Map[Long, Long] = {
    val dir = Paths.get(ckptDir, "commits")
    if (!Files.isDirectory(dir)) return Map.empty
    list(dir).map(_.getFileName.toString).filter(_.forall(_.isDigit)).map { n =>
      n.toLong -> Files.getLastModifiedTime(dir.resolve(n)).to(TimeUnit.MICROSECONDS)
    }.toMap
  }

  /** segment index → commit time (µs) of the last batch holding any of its
    * files; segments with an uncommitted file are absent. */
  def segmentCommits(fileBatches: Map[String, Long],
      commits: Map[Long, Long]): Map[Int, Long] =
    fileBatches.toSeq.flatMap { case (path, b) =>
      SegmentRe.findFirstMatchIn(path).map(m => (m.group(1).toInt, commits.get(b)))
    }.groupBy(_._1).collect {
      case (seg, xs) if xs.forall(_._2.isDefined) => seg -> xs.map(_._2.get).max
    }

  /** Gate: every one of `segments` WAL segments was read by a committed
    * batch of the checkpoint. */
  def allCommitted(ckptDir: String, segments: Int): Option[String] = {
    val done = segmentCommits(fileBatches(ckptDir), commitTimes(ckptDir)).keySet
    val missing = (0 until segments).filterNot(done)
    if (missing.isEmpty) None
    else Some(s"${missing.size} of $segments segments uncommitted: ${missing.take(5).mkString(",")}")
  }

  private def list(dir: Path): List[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toList finally s.close()
  }
}
