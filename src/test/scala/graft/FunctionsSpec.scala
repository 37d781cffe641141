package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.{ChangelogGen, GenParams}
import graft.merge.{MergeInto, Resolve}

/**
 * The engine's own arg-max, [[Resolve.resolveMaxLsn]] (the rank-limit fold
 * the writes also run), is a drop-in for max_by: identical results on the
 * real changelog workload (dups, deletes, hot keys, nulls in payload
 * columns), against the all-built-ins `max_by` form that
 * [[MergeInto.resolveMaxLsn]] keeps for the frozen bench's oracle.
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

  /** `max_by(struct(*), _lsn)` per key: the reference the engine must match */
  private def maxByReference(union: DataFrame, keyCols: Seq[String]): DataFrame =
    MergeInto.resolveMaxLsn(union, keyCols, saltBuckets = 1)

  test("native arg-max == max_by on the changelog workload") {
    val ev = events
    val keys = Seq("conv_id", "turn_idx")
    val reference = maxByReference(ev, keys)
    assert(canon(Resolve.resolveMaxLsn(ev, keys)) == canon(reference))
    // the reference is built-ins alone, and only unsalted
    val p = reference.queryExecution.executedPlan.toString()
    assert(!p.contains("WindowGroupLimit") && p.contains("max_by"), p)
    intercept[IllegalArgumentException](MergeInto.resolveMaxLsn(ev, keys, saltBuckets = 16))
  }

  test("native arg-max survives shuffle-serialization (partial buffers cross the wire)") {
    // 37 input partitions: each keeps its keys' first rows in the partial
    // rank-limit, and those rows cross the exchange to the final one
    val ev = events.repartition(37)
    val keys = Seq("conv_id", "turn_idx")
    val a = canon(Resolve.resolveMaxLsn(ev, keys))
    val b = canon(maxByReference(events, keys))
    assert(a == b)
  }
}
