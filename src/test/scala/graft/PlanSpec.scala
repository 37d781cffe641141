package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.merge.{MergeInto, Placement, Resolve}
import graft.ops.{CdcQueries, RelationalOps}

/**
 * Physical-plan assertions: the properties the 100-TB story depends on must
 * be visible in the plan, not assumed — filter/projection pushdown into the
 * parquet scan, broadcast of dimension sides, map-side collapse for the CDC
 * fold, and a single shuffle for the unsalted arg-max.
 */
/** Collects nodes of a plan, descending into adaptive plans. */
private object AqeNodes extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString()

  test("q_agg_pushdown: filter and projection reach the parquet scan") {
    val p = plan(RelationalOps.queries("q_agg_pushdown")(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"),
      s"filter not pushed to scan:\n$p")
    // projection pruning: scan must not read the unused wide columns
    assert(p.contains("ReadSchema") && !p.contains("l_comment"),
      s"column pruning failed (l_comment read):\n$p")
  }

  test("q_join_enrich: dimension side is broadcast, not shuffled") {
    val p = plan(RelationalOps.queries("q_join_enrich")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("q_latest_by_key: CDC fold partial-aggregates map-side before the shuffle") {
    // built-in max_by carries string buffers => SortAggregate (hash agg
    // impossible); what matters at scale is that the partial aggregate sits
    // below the exchange so hot keys combine map-side.
    val p = plan(CdcQueries.queries("q_latest_by_key")(spark, sf))
    val exIdx = p.indexOf("Exchange")
    val partialIdx = p.indexOf("partial_max")
    assert(exIdx >= 0 && partialIdx > exIdx,
      s"no map-side partial aggregation under the shuffle:\n$p")
  }

  test("unsalted arg-max resolution costs exactly one shuffle") {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id").cast("string").as("conv_id"),
        lit(0).as("turn_idx"), col("event_id").as("_lsn"), col("value"))
    val resolved = Resolve.resolveMaxLsn(df, Seq("conv_id", "turn_idx"))
    val exchanges = "Exchange".r.findAllIn(plan(resolved)).size
    assert(exchanges == 1, s"expected 1 shuffle, saw $exchanges:\n${plan(resolved)}")
  }

  test("MoR read: delta fold is one exchange under the rank-limit, no window, no aggregate") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    import graft.lake.LakeTable
    import graft.merge.{MergeInto, MergeMode, MergeOptions}
    import spark.implicits._
    val dir = TestSpark.tmpDir("plan-mor")
    val table = LakeTable.create(s"$dir/t", graft.model.Schemas.turn)
    val mor = MergeOptions(mode = MergeMode.Mor,
      morCompactDeltaRatio = 1e9, morCompactMaxDeltaFiles = Int.MaxValue)
    val b = Seq(("I", 1L, "c1", 0, "user", "x", None: Option[String],
      java.sql.Timestamp.valueOf("2025-01-01 00:00:00")))
      .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    MergeInto.merge(spark, table, b, "ck", 0L, mor)
    MergeInto.merge(spark, table, b.withColumn("lsn", lit(2L)), "ck", 1L, mor)
    val p = table.read(spark).queryExecution.executedPlan
    def all[T](pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] =
      AqeNodes.collect(p)(pf)
    // the consumer-facing fold is the write path's: a partial rank-limit
    // before exactly one shuffle, the final one after it
    assert(all { case e: ShuffleExchangeExec => e }.size == 1, s"expected 1 shuffle:\n$p")
    assert(all { case w: WindowGroupLimitExec => w }.nonEmpty, s"rank-limit operator missing:\n$p")
    assert(all { case w: WindowExec => w }.isEmpty, s"window planned:\n$p")
    assert(all { case a: BaseAggregateExec => a }.isEmpty, s"aggregate planned:\n$p")
    assert(table.read(spark).count() == 1)
  }

  test("sparse resolution: all per-column folds share one key clustering") {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id").cast("string").as("conv_id"),
        (col("event_id") % 5).cast("int").as("turn_idx"),
        col("event_id").as("_lsn"), lit(false).as("_deleted"),
        col("value"), col("event_type"),
        map_from_arrays(array(lit("value"), lit("event_type")),
          array(col("event_id"), col("event_id"))).as("_cell_lsn"))
    val p = plan(Resolve.resolveSparse(
      df.repartition(8, col("conv_id"), col("turn_idx")),
      Seq("conv_id", "turn_idx"), Seq("value", "event_type")))
    // the caller's hash exchange must satisfy every window's clustering:
    // one shuffle total, however many payload columns fold
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 shuffle in sparse resolve, saw $exchanges:\n$p")
  }

  test("sort-dedup resolution: one exchange, one sort, rank-limit pushdown") {
    import org.apache.spark.sql.functions._
    // real (non-literal) key columns: a folded literal key would drop out of
    // the window's partition spec and break the partitioning match
    val df = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id").cast("string").as("conv_id"),
        (col("event_id") % 5).cast("int").as("turn_idx"),
        col("event_id").as("_lsn"), col("value"))
    val p = plan(Resolve.resolveExchanged(df, Seq("conv_id", "turn_idx"), sparse = false, 8,
      Placement.ByRange))
    val exchanges = "Exchange".r.findAllIn(p).size
    val sorts = "Sort ".r.findAllIn(p).size
    // The range exchange must double as the window's clustering — a second
    // (hash) exchange would mean EnsureRequirements didn't accept it.
    assert(exchanges == 1, s"expected 1 shuffle, saw $exchanges:\n$p")
    assert(sorts == 1, s"expected 1 sort, saw $sorts:\n$p")
    // WindowGroupLimit drops losing rows before full window evaluation
    assert(p.contains("WindowGroupLimit"), s"rank-limit pushdown missing:\n$p")
  }

  /** The executed plan of the non-sparse resolve of `stored` under
    * `placement`, the AQE plan's initial form included. */
  private def resolvePlan(placement: Placement): org.apache.spark.sql.execution.SparkPlan = {
    import org.apache.spark.sql.functions._
    val stored = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id").cast("string").as("conv_id"),
        (col("event_id") % 5).cast("int").as("turn_idx"),
        col("event_id").as("_lsn"), col("value"))
    Resolve.resolveExchanged(stored, Seq("conv_id", "turn_idx"), sparse = false, 8, placement)
      .queryExecution.executedPlan
  }

  Seq(Placement.ByHash -> "the key hash",
    Placement.ByBase(org.apache.spark.sql.types.StringType, IndexedSeq("5"), IndexedSeq(4, 4)) ->
      "the key hash",
    Placement.ByRange -> "conv_id").foreach { case (placement, firstKey) =>
    val name = placement.getClass.getSimpleName.stripSuffix("$")
    test(s"$name resolve: one exchange, one sort led by $firstKey, the rank-limit " +
      "operator alone (no window, no row-number filter)") {
      import org.apache.spark.sql.catalyst.expressions.{Attribute, Murmur3Hash}
      import org.apache.spark.sql.execution.{FilterExec, SortExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
      val p = resolvePlan(placement)
      def all[T](pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] =
        AqeNodes.collect(p)(pf)
      assert(all { case e: ShuffleExchangeExec => e }.size == 1, s"expected 1 shuffle:\n$p")
      val sorts = all { case s: SortExec => s }
      assert(sorts.size == 1, s"expected 1 sort:\n$p")
      val lead = sorts.head.sortOrder.head.child
      val led = lead match {
        case a: Attribute => a.name == firstKey
        case e => firstKey == "the key hash" && e.find(_.isInstanceOf[Murmur3Hash]).nonEmpty
      }
      assert(led, s"sort not led by $firstKey:\n$p")
      assert(all { case w: WindowGroupLimitExec => w }.nonEmpty, s"rank-limit operator missing:\n$p")
      assert(all { case w: WindowExec => w }.isEmpty, s"window planned:\n$p")
      assert(all { case f: FilterExec => f }.isEmpty, s"row-number filter planned:\n$p")
    }
  }

  test("graft point read: the fold's input is key-filtered and reads only the " +
    "requested columns") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, WindowGroupLimit}
    import org.apache.spark.sql.execution.{FileSourceScanExec, RowDataSourceScanExec}
    import org.apache.spark.sql.functions._
    import graft.lake.LakeTable
    import graft.merge.{MergeInto, MergeMode, MergeOptions}
    import spark.implicits._
    val dir = TestSpark.tmpDir("plan-point")
    val table = LakeTable.create(s"$dir/t",
      graft.stream.CdcIngestJob.payloadSchema(graft.model.Schemas.changeV2))
    val mor = MergeOptions(mode = MergeMode.Mor,
      morCompactDeltaRatio = 1e9, morCompactMaxDeltaFiles = Int.MaxValue)
    val b = Seq(("I", 1L, "c1", 0, "user", "x", None: Option[String],
      java.sql.Timestamp.valueOf("2025-01-01 00:00:00"), None: Option[String]))
      .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts", "tool_meta")
    MergeInto.merge(spark, table, b, "ck", 0L, mor)
    MergeInto.merge(spark, table, b.withColumn("lsn", lit(2L)), "ck", 1L, mor)
    val point = spark.read.format("graft").load(s"$dir/t")
      .filter($"conv_id" === "c1").select("turn_idx", "text")
    val fold = point.queryExecution.sparkPlan.collectFirst {
      case s: RowDataSourceScanExec => s.relation
    }.collect { case r: graft.spark.GraftRelation => r.resolved }
    assert(fold.isDefined, s"no graft scan:\n${point.queryExecution.sparkPlan}")
    val opt = fold.get.queryExecution.optimizedPlan
    val keyFiltered = opt.collectFirst { case w: WindowGroupLimit => w.child }.exists(_.exists {
      case f: Filter => f.condition.references.exists(_.name == "conv_id")
      case _ => false
    })
    assert(keyFiltered, s"fold input not filtered on conv_id:\n$opt")
    val read = fold.get.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSet
    }.flatten.toSet
    assert(read.nonEmpty && read.intersect(Set("role", "tool", "ts", "tool_meta")).isEmpty,
      s"fold scan reads unrequested payload columns: $read")
    assert(point.collect().map(_.mkString("|")).toSeq == Seq("0|x"))
  }

  test("aligned MoR epoch: one exchange, one sort, no sampling job; a point read " +
    "plans no exchange") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.types.StringType
    import graft.lake.LakeTable
    import graft.merge.{MergeMode, MergeOptions, Placement}
    import spark.implicits._
    val dir = TestSpark.tmpDir("plan-aligned")
    def batch(n: Int, lsn0: Long) = (0 until n).map { i =>
      ("U", lsn0 + i, f"c${i % 400}%04d", i / 400, "user", s"t$lsn0",
        None: Option[String], java.sql.Timestamp.valueOf("2025-01-01 00:00:00"))
    }.toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    val mor = MergeOptions(mode = MergeMode.Mor,
      morCompactDeltaRatio = 1e9, morCompactMaxDeltaFiles = Int.MaxValue)
    // a range fold leaves disjoint base files and records their ranges
    val table = LakeTable.create(s"$dir/t", graft.model.Schemas.turn)
    MergeInto.merge(spark, table, batch(2000, 0L), s"plan-base-${System.nanoTime()}", 0L, mor)
    graft.lake.Compaction.foldDeltas(spark, table, minRowsPerFile = 500)
    val placement = Placement.forDeltas(table.currentSnapshot.baseRanges, StringType, 8)
    assert(placement.isInstanceOf[Placement.ByBase], s"not aligned: $placement")
    val stored = batch(1000, 5000L).select($"conv_id", $"turn_idx", $"role", $"text",
      $"tool", $"ts", $"lsn".as("_lsn"), lit(false).as("_deleted"))
    val p = plan(Resolve.resolveExchanged(stored, Seq("conv_id", "turn_idx"),
      sparse = false, 8, placement))
    assert("Exchange".r.findAllIn(p).size == 1, s"expected 1 shuffle:\n$p")
    assert("Sort ".r.findAllIn(p).size == 1, s"expected 1 sort:\n$p")
    assert(!p.contains("rangepartitioning"), s"range exchange planned:\n$p")

    // the aligned epoch runs as many jobs as a hash-placed epoch of the same
    // batch over an empty base: a sampling job would be one more
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(pr => Option(pr.getProperty("spark.jobGroup.id")))
          .foreach(g => { jobs.merge(g, 1, (a: Integer, b: Integer) => a + b); () })
    }
    val empty = LakeTable.create(s"$dir/e", graft.model.Schemas.turn)
    spark.sparkContext.addSparkListener(listener)
    try {
      Seq("aligned" -> table, "hash" -> empty).foreach { case (g, t) =>
        spark.sparkContext.setJobGroup(g, g)
        try MergeInto.merge(spark, t, batch(1000, 5000L), s"plan-$g-${System.nanoTime()}", 1L, mor)
        finally spark.sparkContext.clearJobGroup()
      }
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get("aligned") != null && jobs.get("aligned") == jobs.get("hash"),
      s"jobs per epoch: $jobs")

    // a point read: one base file plus one range's deltas, folded in one
    // partition with no exchange
    val point = spark.read.format("graft").load(s"$dir/t")
      .filter($"conv_id" === "c0123").select("turn_idx", "text")
    val fold = point.queryExecution.sparkPlan.collectFirst {
      case s: org.apache.spark.sql.execution.RowDataSourceScanExec => s.relation
    }.collect { case r: graft.spark.GraftRelation => r.resolved }.get
    val fp = plan(fold)
    assert(fp.contains("WindowGroupLimit"), fp)
    assert(!fp.contains("Exchange"), s"point read fold plans an exchange:\n$fp")
    assert(point.collect().map(r => r.getInt(0) -> r.getString(1)).toMap ==
      Map(0 -> "t5000", 1 -> "t5000", 2 -> "t5000", 3 -> "t0", 4 -> "t0"))
  }
}
