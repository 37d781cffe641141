package graft.merge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graft.GraftStreamingShim
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.lake.LakeTable
import graft.model.Schemas

/** The max-lsn-wins resolvers: row versions in, one resolved row per key
  * out. With globally unique lsns resolution is an associative arg-max
  * fold, so within-batch collapse, read-time folds and delta folds compose
  * exactly. */
object Resolve {
  import LakeTable.{DeletedCol, LsnCol}

  /**
   * The write-time resolver of merge epochs and delta folds: ONE exchange
   * that places every version of a key in one partition, then the per-key
   * fold inside each partition — the per-column window fold
   * ([[resolveSparse]]) on sparse tables, else an in-partition sort and
   * Spark's rank-limit operator alone, which keeps each key's first row in
   * `_lsn desc` order ([[GraftStreamingShim.firstPerGroup]]: no window, no
   * row-number filter), exact for max-lsn-wins because lsns are unique.
   * Every exchange satisfies the operator's ClusteredDistribution and the
   * sort its ordering, so EnsureRequirements adds NO second exchange or
   * sort (asserted in PlanSpec); output is deterministic given the data.
   *
   * `placement` picks the exchange. [[Placement.ByRange]] also gives each
   * output file tight key bounds and key-sorted rows — what long-lived base
   * files (CoW epochs, range folds) need for pruning; its boundary-sampling
   * job re-runs only the cheap scan+project input, and the sampler gives hot
   * key ranges more partitions. A hash exchange skips that job, scanning the
   * input once — the trade for merge-on-read delta files, which are folded
   * soon, and for pure-MoR folds, whose base bounds nothing prunes on.
   * [[Placement.ByHash]] hashes the FULL key tuple (a hot conv_id spreads
   * over its turns). [[Placement.ByBase]] (MoR epochs over a range-placed
   * base) hashes an integer column chosen per group of base ranges and
   * hash sub-partition, which joins the group after the key columns so the
   * exchange still satisfies it; each delta file then lies inside one group.
   *
   * The hash placements need only grouping, not key order, so their sort
   * leads with a 64-bit hash of the key ([[keyHash]]): its 8-byte sort
   * prefix tells almost all keys apart, where the key's own prefix rarely
   * does (every generated `conv_id` starts with `conv_000`) and a tie falls
   * through to a full-row compare. Their files are written in hash order;
   * the range placement keeps key order.
   */
  private[graft] def resolveExchanged(rows: DataFrame, keyCols: Seq[String], sparse: Boolean,
      nOut: Int, placement: Placement): DataFrame = {
    val kc = keyCols.map(col)
    val (exchanged, cluster) = placement match {
      case Placement.ByRange => (rows.repartitionByRange(nOut, kc: _*), keyCols)
      case Placement.ByHash => (rows.repartition(nOut, kc: _*), keyCols)
      case p: Placement.ByBase =>
        (rows.withColumn(PlaceCol, p.column(keyCols)).repartition(p.partitions, col(PlaceCol)),
          keyCols :+ PlaceCol)
    }
    if (sparse) {
      val resolved = resolveSparse(exchanged, cluster, rows.columns.toSeq.filterNot(c =>
        LakeTable.MetaCols.contains(c) || keyCols.contains(c)))
      if (cluster == keyCols) resolved else resolved.drop(PlaceCol)
    } else {
      val group = placement match {
        case Placement.ByRange => kc
        case _ => keyHash(keyCols) +: cluster.map(col)
      }
      GraftStreamingShim.firstPerGroup(exchanged, group, Seq(col(LsnCol).desc),
        rows.columns.toSeq)
    }
  }

  /** The leading sort key of the hash placements: a 64-bit value whose high
    * half is a hash of the first key column and whose low half is a hash of
    * the others. Its 8-byte sort prefix tells almost all keys apart, and each
    * first key's rows (a conversation's turns) stay together in the file, so
    * the file compresses about as well as in key order. An expression, not a
    * column: the sort computes the prefix once per row, and only a tie
    * (versions of one key) evaluates it again. */
  private def keyHash(keyCols: Seq[String]): Column = {
    val first = shiftleft(hash(col(keyCols.head)).cast(LongType), 32)
    if (keyCols.size == 1) first
    else first.bitwiseOR(hash(keyCols.tail.map(col): _*).cast(LongType).bitwiseAND(lit(0xFFFFFFFFL)))
  }

  /** the exchange column of [[Placement.ByBase]], dropped before the write */
  private val PlaceCol = "_place"

  /**
   * Partial-column (sparse) conflict resolution — the reference's
   * `OnDupKeyFields` column-subset upsert (/root/reference/processors/
   * sql_writer.go:25, /root/reference/util/sql.go:274-284), generalized to
   * per-event sparseness: a null payload column in an update event means
   * "unchanged", and the fold resolves EVERY column independently.
   *
   * Rule: per key, a column's final value comes from the highest-CELL-lsn
   * event that set the column AFTER the key's newest delete (`_cell_lsn`
   * records, per column, the lsn of the event that set it — without that
   * provenance a folded row would promote old column values to its row lsn,
   * and a late lower-lsn update arriving in a later epoch would lose;
   * with it the fold is associative, so within-batch collapse, cross-epoch
   * read folds and delta folds all compose exactly).
   *
   * The key's newest-delete lsn is itself fold state: when a row NEWER than
   * the delete survives the fold, the tombstone row is dropped, so its lsn
   * must persist on the folded row (`_del_lsn`) — otherwise a later fold
   * input carrying a late event with a cell lsn below the forgotten delete
   * would resurrect dead cells (fold associativity would break: final state
   * would depend on whether within-batch collapse or a fold ran). The
   * per-row delete watermark is therefore greatest(own tombstone lsn,
   * carried `_del_lsn`), folded by max per key and re-emitted.
   *
   * Explicit-null writes are unrepresentable in sparse mode (null = unset),
   * matching the reference's column-subset semantics.
   *
   * Plan shape: all window functions share ONE key clustering (a single
   * exchange, inserted by the planner if the caller hasn't already
   * placed/partitioned the data) — full-frame per-column max_by folds plus
   * one (key, lsn desc) row_number to keep a single resolved row per key.
   */
  def resolveSparse(rows0: DataFrame, keyCols: Seq[String],
      payloadCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = withDelLsn(rows0)
    val kc = keyCols.map(col)
    val wFull = Window.partitionBy(kc: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wOrd = Window.partitionBy(kc: _*).orderBy(col(LsnCol).desc)
    val lastDel = max(greatest(
      when(coalesce(col(DeletedCol), lit(false)), col(LsnCol)),
      col(LakeTable.DelLsnCol))).over(wFull)
    def cellOf(c: String) = element_at(col(LakeTable.CellLsnCol), lit(c))
    def masked(c: String) =
      when(cellOf(c) > coalesce(col("_ld"), lit(Long.MinValue)), cellOf(c))
    val valCols = payloadCols.map(c => max_by(col(c), masked(c)).over(wFull).as(s"_v_$c"))
    val lsnCols = payloadCols.map(c => max(masked(c)).over(wFull).as(s"_l_$c"))
    val folded = rows
      .withColumn("_ld", lastDel)
      .select((rows.columns.map(col).toSeq :+ col("_ld")) ++ valCols ++ lsnCols: _*)
      .withColumn("_rn", row_number().over(wOrd))
      .filter(col("_rn") === 1)
    val cellMap = cellLsnMap(payloadCols, payloadCols.map(c => col(s"_l_$c")))
    val outCols =
      rows.columns.toSeq.map {
        case c if payloadCols.contains(c) => col(s"_v_$c").as(c)
        case c if c == LakeTable.CellLsnCol => cellMap.as(c)
        case c if c == LakeTable.DelLsnCol => col("_ld").as(c)
        case c => col(c)
      }
    folded.select(outCols: _*)
  }

  /**
   * The max-lsn fold of read-time merge-on-read folds, the change feed's
   * bootstrap and the stream query: per key, the row with the highest
   * `_lsn`. The write path's fold ([[resolveExchanged]] under a hash
   * placement) without its explicit exchange: a sort led by [[keyHash]]
   * under Spark's rank-limit operator ([[GraftStreamingShim.firstPerGroup]]).
   * On unclustered rows Spark plans a partial rank-limit in each input
   * partition (each key's first row there: the map-side collapse), ONE
   * exchange on the key, then the final rank-limit; on rows already in one
   * partition (a point read's `coalesce(1)`) it plans no exchange. Hot keys
   * need no salt: the grouping is on the full key tuple, so a hot conv_id
   * spreads over its turns.
   */
  def resolveMaxLsn(union: DataFrame, keyCols: Seq[String]): DataFrame =
    GraftStreamingShim.firstPerGroup(union, keyHash(keyCols) +: keyCols.map(col),
      Seq(col(LsnCol).desc), union.columns.toSeq)

  /** A `_cell_lsn` map: payload column name -> lsn, null lsns left out. */
  private[merge] def cellLsnMap(payloadCols: Seq[String], lsns: Seq[Column]): Column =
    map_filter(map_from_arrays(array(payloadCols.map(lit): _*), array(lsns: _*)),
      (_, v) => v.isNotNull)

  /** tolerate inputs from before the _del_lsn column existed (reads as null) */
  private def withDelLsn(rows: DataFrame): DataFrame =
    if (rows.columns.contains(LakeTable.DelLsnCol)) rows
    else rows.withColumn(LakeTable.DelLsnCol, lit(null).cast(LongType))

  /** Stored-shape rows (payload + `_lsn` [+ `_deleted`]) as a change batch
    * for [[MergeInto.merge]]: tombstones become deletes, lsns carry through. */
  def storedAsChanges(stored: DataFrame): DataFrame = {
    val payloadCols = stored.columns.toSeq.filterNot(LakeTable.MetaCols.contains).map(col)
    val op =
      if (!stored.columns.contains(DeletedCol)) lit("U")
      else when(coalesce(col(DeletedCol), lit(false)), lit(Schemas.DeleteOp))
        .otherwise(lit("U"))
    stored.select(payloadCols ++ Seq(
      col(LsnCol).as(Schemas.LsnCol), op.as(Schemas.OpCol)): _*)
  }
}
