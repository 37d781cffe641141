package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.{ChangelogGen, GenParams}
import graft.merge.MergeInto

/**
 * The native max_row_by_long aggregate is a drop-in for max_by: identical
 * results on the real changelog workload (dups, deletes, hot keys, nulls in
 * payload columns), under any salting, and it must run as hash-based
 * aggregation (the whole point).
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

  /** The all-built-ins form of [[MergeInto.resolveMaxLsn]]: the same
    * (optionally salted) arg-max fold with `max_by`, which plans as
    * SortAggregate — the reference the native aggregate must match. */
  private def maxByReference(union: DataFrame, keyCols: Seq[String],
      saltBuckets: Int): DataFrame = {
    val all = union.columns.toSeq
    val ev = struct(all.map(col): _*)
    val lsn = "_lsn"
    val folded =
      if (saltBuckets <= 1)
        union.groupBy(keyCols.map(col): _*).agg(max_by(ev, col(lsn)).as("_e"))
      else
        union
          .groupBy((keyCols.map(col) :+
            pmod(xxhash64(col(lsn)), lit(saltBuckets)).as("_salt")): _*)
          .agg(max_by(ev, col(lsn)).as("_e"))
          .groupBy(keyCols.map(col): _*)
          .agg(max_by(col("_e"), col(s"_e.$lsn")).as("_e"))
    folded.select(all.map(c => col(s"_e.`$c`").as(c)): _*)
  }

  test("native arg-max == max_by on the changelog workload, salted and not") {
    val ev = events
    val keys = Seq("conv_id", "turn_idx")
    for (salt <- Seq(1, 16)) {
      val native = canon(MergeInto.resolveMaxLsn(ev, keys, salt))
      val builtin = canon(maxByReference(ev, keys, salt))
      assert(native == builtin, s"divergence at saltBuckets=$salt")
    }
  }

  test("native arg-max plan is hash-based (no SortAggregate) and 1 shuffle") {
    val plan = MergeInto.resolveMaxLsn(events, Seq("conv_id", "turn_idx"), 1)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("ObjectHashAggregate"), s"expected object hash agg:\n$plan")
    assert(!plan.contains("SortAggregate"), s"unexpected sort agg:\n$plan")
    assert("Exchange".r.findAllIn(plan).size == 1)
  }

  test("native arg-max survives shuffle-serialization (partial buffers cross the wire)") {
    // force tiny input partitions so partial buffers are serialized/merged
    val ev = events.repartition(37)
    val keys = Seq("conv_id", "turn_idx")
    val a = canon(MergeInto.resolveMaxLsn(ev, keys, 1))
    val b = canon(maxByReference(events, keys, 1))
    assert(a == b)
  }
}
