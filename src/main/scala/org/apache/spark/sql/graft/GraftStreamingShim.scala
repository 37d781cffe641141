package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Ascending, RowNumber, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort, WindowGroupLimit}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.streaming.checkpointing.OffsetSeqLog

/**
 * A V1 streaming `Source.getBatch` must return a DataFrame whose logical
 * plan carries `isStreaming = true` — `MicroBatchExecution` asserts it
 * ("DataFrame returned by getBatch ... did not have isStreaming=true").
 * The only way to stamp that flag onto an already-planned DataFrame is
 * `SparkSession.internalCreateDataFrame(rdd, schema, isStreaming = true)`,
 * which is `private[sql]` — hence this one-object shim inside the
 * `org.apache.spark.sql` namespace, the standard pattern for V1 connectors
 * whose batches are computed with full Catalyst plans rather than raw RDDs.
 * The shim also holds the merge's other uses of `private[sql]` API (a
 * micro-batch's partitions, a plan built from logical nodes, a query's
 * offset log). Nothing else may live in this package.
 */
object GraftStreamingShim {
  def asStreaming(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    cdf.sparkSession.internalCreateDataFrame(
      cdf.queryExecution.toRdd, cdf.schema, isStreaming = true)
  }

  /** The inverse stamp, for a micro-batch consumer (a V1 `Sink.addBatch`,
    * a `foreachBatch` function): re-plan the incremental micro-batch frame
    * as an ordinary batch DataFrame of `spark`, so a multi-job consumer (the
    * merge runs stats + resolve + write) may execute it more than once — a
    * streaming-tagged plan is single-execution by contract.
    *
    * `spark` is the session that started the stream, not the batch's own.
    * Every streaming query runs on a clone of its session, and with Spark's
    * artifact isolation each session gets its own executor class loader;
    * the generated-code cache is keyed by (class loader, source), so a plan
    * run on a fresh clone recompiles every class its stages need, and its
    * first epochs run on cold, unwarmed code. Planned on the long-lived
    * session, every epoch of every query shares one loader and one warm
    * cache. The clone still plans the batch's own scan; its tasks run in
    * the consumer's jobs on `spark`.
    *
    * A `foreachBatch` frame is already a non-streaming scan of the batch's
    * planned RDD (a `LogicalRDD`): that RDD is re-planned as it is, so the
    * consumer's plan holds one `Scan ExistingRDD` rather than a scan of a
    * second plan, compiled on the clone, that only scans the first. */
  def asBatch(df: DataFrame, spark: SparkSession): DataFrame = {
    val cdf = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val rdd = cdf.queryExecution.analyzed match {
      case r: LogicalRDD if !r.isStreaming => r.rdd
      case _ => cdf.queryExecution.toRdd
    }
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, cdf.schema, isStreaming = false)
  }

  /** The source range of each micro-batch of the streaming query
    * checkpointed at `checkpointDir`, from its offset log, which the query
    * writes before it runs a batch: batch `n` consumed (entry `n - 1`,
    * entry `n`]. Each side is JSON: the source's offset, or an array of one
    * per source; null for a first batch's start or an entry the log lacks.
    * Opens the log once: call it when the query is defined, not per batch. */
  def sourceRanges(spark: SparkSession, checkpointDir: String): Long => (String, String) = {
    val log = new OffsetSeqLog(spark, s"$checkpointDir/offsets")
    def entry(batchId: Long): String =
      if (batchId < 0) null
      else log.get(batchId).map(_.offsets.map(_.fold("null")(_.json)) match {
        case Seq(one) => one
        case all => all.mkString("[", ",", "]")
      }).orNull
    batchId => (entry(batchId - 1), entry(batchId))
  }

  /** The partitions `df` yields. A frame [[asBatch]] built is a scan of an
    * RDD, whose partitions are read off it: nothing is planned or run. Any
    * other frame is planned and its RDD built, outside a SQL execution
    * (`Dataset.rdd` would start one); an adaptive plan still runs the jobs
    * that fix its partitions. */
  def partitions(df: DataFrame): Int = {
    val cdf = df.asInstanceOf[Dataset[Row]]
    cdf.queryExecution.analyzed match {
      case r: LogicalRDD if !r.isStreaming => r.rdd.getNumPartitions
      case _ => cdf.queryExecution.toRdd.getNumPartitions
    }
  }

  /**
   * The first row of each group of `rows` that agrees on `group`, in `order`,
   * with the columns named `out`.
   *
   * The plan is an in-partition sort on (`group`, `order`) under Spark's
   * rank-limit operator alone (`WindowGroupLimit` with `row_number()` and
   * limit 1), which keeps each group's first row as the sorted rows stream
   * past. It is the operator Spark's optimizer puts under a
   * `row_number() = 1` window filter, without the window, the filter and
   * the row-number column; plain Spark plans it. Built as one logical plan
   * over `rows` and analyzed once.
   *
   * Spark plans the operator in two steps: a partial one in each input
   * partition, and a final one that requires `rows` clustered by `group`.
   * When `rows` already are (an exchange on a subset of `group`, or a single
   * partition), nothing is added. Otherwise `EnsureRequirements` puts one
   * hash exchange on `group` and a sort after it between the two steps, and
   * the partial step keeps only each group's first row of its partition
   * before the exchange.
   */
  def firstPerGroup(rows: DataFrame, group: Seq[Column], order: Seq[Column],
      out: Seq[String]): DataFrame = {
    val cdf = rows.asInstanceOf[Dataset[Row]]
    val groupSpec = group.map(cdf.sparkSession.expression)
    val orderSpec = order.map(cdf.sparkSession.expression).map {
      case s: SortOrder => s
      case e => SortOrder(e, Ascending)
    }
    val sorted = Sort(groupSpec.map(SortOrder(_, Ascending)) ++ orderSpec, global = false,
      cdf.logicalPlan)
    val firsts = WindowGroupLimit(groupSpec, orderSpec, RowNumber(), 1, sorted)
    Dataset.ofRows(cdf.sparkSession, Project(out.map(UnresolvedAttribute.quoted), firsts))
  }
}
