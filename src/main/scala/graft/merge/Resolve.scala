package graft.merge

import org.apache.spark.sql.{Column, DataFrame}
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
   * ([[resolveSparse]]) on sparse tables, else a (key, lsn desc) sort and
   * first-row-per-key window, exact for max-lsn-wins because lsns are unique.
   * Every exchange satisfies the window's ClusteredDistribution and the
   * in-partition sort its ordering, so EnsureRequirements adds NO second
   * exchange or sort (asserted in PlanSpec); output is deterministic given
   * the data.
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
   * hash sub-partition, which joins the window's partition keys after the
   * key columns so the exchange still satisfies it; each delta file then
   * lies inside one group.
   */
  private[graft] def resolveExchanged(rows: DataFrame, keyCols: Seq[String], sparse: Boolean,
      nOut: Int, placement: Placement): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kc = keyCols.map(col)
    val (exchanged, cluster) = placement match {
      case Placement.ByRange => (rows.repartitionByRange(nOut, kc: _*), keyCols)
      case Placement.ByHash => (rows.repartition(nOut, kc: _*), keyCols)
      case p: Placement.ByBase =>
        (rows.withColumn(PlaceCol, p.column(keyCols)).repartition(p.partitions, col(PlaceCol)),
          keyCols :+ PlaceCol)
    }
    val cc = cluster.map(col)
    val resolved =
      if (sparse)
        resolveSparse(exchanged, cluster, rows.columns.toSeq.filterNot(c =>
          LakeTable.MetaCols.contains(c) || keyCols.contains(c)))
      else
        exchanged
          .sortWithinPartitions(cc :+ col(LsnCol).desc: _*)
          .withColumn("_rn", row_number().over(Window.partitionBy(cc: _*).orderBy(col(LsnCol).desc)))
          .filter(col("_rn") === 1).drop("_rn")
    if (cluster == keyCols) resolved else resolved.drop(PlaceCol)
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
   * Aggregate-form sparse resolution — same fold semantics as
   * [[resolveSparse]] (per-column max-cell-lsn after the delete watermark,
   * watermark persisted), different plan shape: ONE hash aggregate
   * (ObjectHashAggregate via the native `max_row_by_long`, map-side partial
   * combine) instead of clustered windows. The window form buffers each key
   * group in memory before emitting; under heavy per-key duplication (hot
   * conv_ids updated many times within one batch) the aggregate collapses
   * duplicates map-side BEFORE the shuffle, bounding both shuffle volume and
   * per-key memory. Selectable via [[MergeOptions.sparseResolve]].
   *
   * Per column the aggregate takes the arg-max value by UNMASKED cell lsn
   * plus the max cell lsn, then masks at projection time: if the column's
   * max cell lsn is <= the key's delete watermark every older cell is too,
   * and if it is above, the unmasked winner IS the masked winner — so
   * post-masking is exact. null ordinals (events that didn't set the column)
   * are ignored by the aggregate, like nulls in `max_by`.
   */
  def resolveSparseAgg(rows0: DataFrame, keyCols: Seq[String],
      payloadCols: Seq[String]): DataFrame = {
    val rows = withDelLsn(rows0)
    def cellOf(c: String) = element_at(col(LakeTable.CellLsnCol), lit(c))
    val aggs: Seq[Column] =
      payloadCols.flatMap(c => Seq(
        argMax(rows, struct(col(c).as("v")), cellOf(c)).as(s"_av_$c"),
        max(cellOf(c)).as(s"_al_$c"))) ++ Seq(
        max(greatest(
          when(coalesce(col(DeletedCol), lit(false)), col(LsnCol)),
          col(LakeTable.DelLsnCol))).as("_wm"),
        argMax(rows, struct(col(LsnCol).as("l"), col(DeletedCol).as("d")), col(LsnCol))
          .as("_meta"))
    val g = rows.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    def wm = coalesce(col("_wm"), lit(Long.MinValue))
    def maskedLsn(c: String) = when(col(s"_al_$c") > wm, col(s"_al_$c"))
    val cellMap = cellLsnMap(payloadCols, payloadCols.map(maskedLsn))
    val outCols = rows.columns.toSeq.map {
      case c if payloadCols.contains(c) =>
        when(maskedLsn(c).isNotNull, col(s"_av_$c").getField("v")).as(c)
      case c if c == LsnCol => col("_meta").getField("l").as(c)
      case c if c == DeletedCol => col("_meta").getField("d").as(c)
      case c if c == LakeTable.CellLsnCol => cellMap.as(c)
      case c if c == LakeTable.DelLsnCol => col("_wm").as(c)
      case c => col(c) // key columns: grouping output
    }
    g.select(outCols: _*)
  }

  /**
   * The max-lsn arg-max fold of read-time merge-on-read folds and the change
   * feed's bootstrap: per key, the row with the highest `_lsn`.
   *
   * Uses the native `max_row_by_long` TypedImperativeAggregate rather than
   * built-in `max_by`: max_by's immutable buffer types force SortAggregate
   * (a per-partition sort of every row on both sides of the shuffle), while
   * the native aggregate runs in ObjectHashAggregateExec with map-side
   * partial combine. Hot keys need no salt: the grouping is on the full key
   * tuple, so a hot conv_id spreads over its turns.
   */
  def resolveMaxLsn(union: DataFrame, keyCols: Seq[String]): DataFrame = {
    val all = union.columns.toSeq
    union.groupBy(keyCols.map(col): _*)
      .agg(argMax(union, struct(all.map(col): _*), col(LsnCol)).as("_e"))
      .select(all.map(c => col(s"_e.`$c`").as(c)): _*)
  }

  /** `max_row_by_long(v, o)`, registered on `rows`' session. */
  private def argMax(rows: DataFrame, v: Column, o: Column): Column = {
    graft.functions.GraftFunctions.register(rows.sparkSession)
    call_function(graft.functions.GraftFunctions.MaxRowByLongName, v, o)
  }

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
