package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.{ChangelogGen, GenParams}
import graft.merge.{MergeInto, Resolve}

/**
 * The native max_row_by_long aggregate is a drop-in for max_by: identical
 * results on the real changelog workload (dups, deletes, hot keys, nulls in
 * payload columns), and it must run as hash-based aggregation (the whole
 * point).
 */
class FunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def events = {
    val p = GenParams(nEvents = 30000, nConvs = 200, eventsPerFile = 5000,
      maxLateEvents = 500)
    ChangelogGen.events(spark, p).toDF("wal_file", "ev")
      .select(col("ev.*"))
      .withColumnRenamed("lsn", "_lsn")
  }

  private def canon(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map((r: Row) => r.toSeq).sortBy(_.mkString("|"))

  /** The all-built-ins form of [[Resolve.resolveMaxLsn]]: the same arg-max
    * fold with `max_by`, which plans as SortAggregate — the reference the
    * native aggregate must match. */
  private def maxByReference(union: DataFrame, keyCols: Seq[String]): DataFrame = {
    val all = union.columns.toSeq
    union.groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(all.map(col): _*), col("_lsn")).as("_e"))
      .select(all.map(c => col(s"_e.`$c`").as(c)): _*)
  }

  test("native arg-max == max_by on the changelog workload") {
    val ev = events
    val keys = Seq("conv_id", "turn_idx")
    val native = canon(Resolve.resolveMaxLsn(ev, keys))
    assert(native == canon(maxByReference(ev, keys)))
    // the name `graft.Bench` calls forwards to it, and only unsalted
    assert(canon(MergeInto.resolveMaxLsn(ev, keys, saltBuckets = 1)) == native)
    intercept[IllegalArgumentException](MergeInto.resolveMaxLsn(ev, keys, saltBuckets = 16))
  }

  test("native arg-max plan is hash-based (no SortAggregate) and 1 shuffle") {
    val plan = Resolve.resolveMaxLsn(events, Seq("conv_id", "turn_idx"))
      .queryExecution.executedPlan.toString()
    assert(plan.contains("ObjectHashAggregate"), s"expected object hash agg:\n$plan")
    assert(!plan.contains("SortAggregate"), s"unexpected sort agg:\n$plan")
    assert("Exchange".r.findAllIn(plan).size == 1)
  }

  test("native arg-max survives shuffle-serialization (partial buffers cross the wire)") {
    // force tiny input partitions so partial buffers are serialized/merged
    val ev = events.repartition(37)
    val keys = Seq("conv_id", "turn_idx")
    val a = canon(Resolve.resolveMaxLsn(ev, keys))
    val b = canon(maxByReference(events, keys))
    assert(a == b)
  }
}
