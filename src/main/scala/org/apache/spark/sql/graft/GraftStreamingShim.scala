package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/**
 * A V1 streaming `Source.getBatch` must return a DataFrame whose logical
 * plan carries `isStreaming = true` — `MicroBatchExecution` asserts it
 * ("DataFrame returned by getBatch ... did not have isStreaming=true").
 * The only way to stamp that flag onto an already-planned DataFrame is
 * `SparkSession.internalCreateDataFrame(rdd, schema, isStreaming = true)`,
 * which is `private[sql]` — hence this one-object shim inside the
 * `org.apache.spark.sql` namespace, the standard pattern for V1 connectors
 * whose batches are computed with full Catalyst plans rather than raw RDDs.
 * Nothing else may live in this package.
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
      case r: org.apache.spark.sql.execution.LogicalRDD if !r.isStreaming => r.rdd
      case _ => cdf.queryExecution.toRdd
    }
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, cdf.schema, isStreaming = false)
  }
}
