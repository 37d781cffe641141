package graft.merge

import java.nio.file.Paths
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions.{col, histogram_numeric, lit}
import org.apache.spark.sql.types.{DataType, DoubleType}

import graft.lake.{Compaction, DataFile, KeyRanges, Snapshot, TableLog}

/** A merge epoch's batch: rows, lsn bounds (-1 when unknown), delete
  * events and the keys it may touch. A copy-on-write epoch takes them
  * before its write; a merge-on-read epoch reads them back from it. */
final case class BatchStats(rows: Long, minLsn: Long, maxLsn: Long, deletes: Long,
    ranges: KeyRanges = KeyRanges.All)

/** An epoch's driver decisions: the base files a copy-on-write epoch
  * rewrites, the write's partitions and exchange, and whether a sparse
  * merge-on-read epoch resolves by the aggregate form. */
final case class EpochPlan(touched: List[DataFile], nOut: Int, placement: Placement,
    aggResolve: Boolean)

/**
 * Plans merge epochs from metadata alone — snapshot, options, batch stats
 * and epoch history — launching no Spark job (EpochPlanSpec), and keeps the
 * history: what the last non-empty merge-on-read epoch of a (table,
 * checkpoint) wrote. Its rows size the next epoch (steady streams see
 * stable batch sizes); its rows per base range ([[Placement.Loads]]), when
 * it was placed by them, place the next. In process memory only: a
 * restart's first epoch plans without it.
 */
object EpochPlan {

  final case class History(rows: Long, loads: Option[Placement.Loads])

  private val histories = new ConcurrentHashMap[(String, String), History]

  private def key(tableDir: String, ckptId: String): (String, String) =
    (Paths.get(tableDir).toAbsolutePath.normalize.toString, ckptId)

  def history(tableDir: String, ckptId: String): Option[History] =
    Option(histories.get(key(tableDir, ckptId)))

  /**
   * A copy-on-write epoch rewrites the base files its batch `stats`' keys
   * touch (whole manifests the ranges miss are skipped unparsed), sized by
   * their rows plus the batch's, placed by range. A merge-on-read epoch has
   * no pre-write row count: it sizes from the `history`, else (a first
   * epoch, or the first after a restart) from the batch's `scanPartitions`,
   * which track input bytes, so a small first batch does not spray 2x-cores
   * micro-files (measured: 64 files / ~600 ms write for a 5k-row epoch vs 1
   * file / ~250 ms). It places by the base's key ranges, by hash for the
   * aggregate form.
   */
  def plan(spark: SparkSession, table: TableLog, snap: Snapshot, opts: MergeOptions,
      k1Type: DataType, stats: Option[BatchStats], history: Option[History],
      scanPartitions: => Int): EpochPlan = {
    def sized(estRows: Long): Int = Compaction.outputFiles(spark, estRows,
      opts.targetRowsPerFile, opts.minRowsPerFile)
    opts.mode match {
      case MergeMode.Cow =>
        val s = stats.getOrElse(throw new IllegalArgumentException(
          "a copy-on-write epoch plans from its batch stats"))
        val touched = table.filesIntersecting(snap, s.ranges).filter(s.ranges.touches)
        EpochPlan(touched, sized(touched.map(_.rows).sum + s.rows), Placement.ByRange,
          aggResolve = false)
      case MergeMode.Mor =>
        val nOut = history.map(_.rows).filter(_ > 0).map(sized)
          .getOrElse(math.max(1, math.min(2 * spark.sparkContext.defaultParallelism,
            scanPartitions)))
        val agg = snap.sparse && opts.sparseResolve == ResolveStrategy.Agg
        val placement =
          if (agg) Placement.ByHash
          else Placement.forDeltas(snap.baseRanges, k1Type, nOut, history.flatMap(_.loads))
        EpochPlan(Nil, nOut, placement, agg)
    }
  }

  /** The write job's rows per [[Placement.ByBase]] group of `placement`, as
    * an Observation metric: exact, a histogram with one bin per group. */
  private[merge] def groupRows(placement: Placement, k1: String): Seq[Column] =
    placement match {
      case p: Placement.ByBase =>
        // on doubles, read back rounded: merging partial histograms
        // averages a bin's x in floating point (1.9999… for group 2), and
        // an integral input type would truncate that to the wrong group
        Seq(histogram_numeric(p.groupIndex(col(k1)).cast(DoubleType),
          lit(math.max(2, p.counts.size))).as("groups"))
      case _ => Nil
    }

  /** Record a merge-on-read epoch of (table, checkpoint) that wrote `rows`
    * rows, placed by `placement`, with `groups` the [[groupRows]] metric.
    * An idle epoch records nothing: sizing the next epoch from 0 rows would
    * push a potentially large batch through one task. Loads are kept only
    * when some group saw rows; otherwise the earlier epoch's stay. */
  private[merge] def record(tableDir: String, ckptId: String, placement: Placement,
      rows: Long, groups: Option[Any]): Unit = {
    if (rows <= 0) return
    val loads = (placement, groups) match {
      case (p: Placement.ByBase, Some(bins: Seq[_])) =>
        val byGroup = Array.fill(p.counts.size)(0.0)
        bins.collect { case b: Row => byGroup(math.round(b.getDouble(0)).toInt) += b.getDouble(1) }
        if (byGroup.sum > 0) Some(Placement.Loads(p.bounds, byGroup.toIndexedSeq)) else None
      case _ => None
    }
    histories.merge(key(tableDir, ckptId), History(rows, loads),
      (old, now) => History(now.rows, now.loads.orElse(old.loads)))
    ()
  }
}
