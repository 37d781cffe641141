package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{KeyCodec, LakeTable, TableLog}
import graft.merge.{MergeInto, MergeMode, MergeOptions}
import graft.model.Schemas

/**
 * DataSourceV2 surface: `spark.read.format("graft")`, SQL
 * `CREATE TABLE … USING graft` + SELECT/INSERT, filter-pushdown pruning,
 * the pre-fold key predicate and projection, time travel via `versionAsOf`.
 */
class DsvSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val payload = StructType(Seq(
    StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
    StructField("text", StringType)))
  private val opts = MergeOptions(keyCols = Seq("conv_id", "turn_idx"),
    mode = MergeMode.Mor)

  /** 3 epochs: inserts, updates on conv-1, a delete — the read must fold. */
  private def seedTable(dir: String): LakeTable = {
    val t = LakeTable.create(dir, payload, keyCols = Seq("conv_id", "turn_idx"))
    val ins = (0 until 60).map(i => ("I", i.toLong, s"conv-${i % 6}", i / 6, s"t$i"))
      .toDF("op", "lsn", "conv_id", "turn_idx", "text")
    val upd = (0 until 10).map(i => ("U", 100L + i, "conv-1", i, s"u$i"))
      .toDF("op", "lsn", "conv_id", "turn_idx", "text")
    val del = Seq(("D", 200L, "conv-2", 0, null.asInstanceOf[String]))
      .toDF("op", "lsn", "conv_id", "turn_idx", "text")
    MergeInto.merge(spark, t, ins, "seed", 0L, opts)
    MergeInto.merge(spark, t, upd, "seed", 1L, opts)
    MergeInto.merge(spark, t, del, "seed", 2L, opts)
    t
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select($"conv_id", $"turn_idx", $"text").collect()
      .map(_.mkString("|")).toSeq.sorted

  test("format(graft) batch read equals the native resolved read") {
    val dir = TestSpark.tmpDir("dsv-read")
    val t = seedTable(s"$dir/t")
    val dsv = spark.read.format("graft").load(s"$dir/t")
    assert(dsv.schema.fieldNames.toSeq == Seq("conv_id", "turn_idx", "text"))
    assert(canon(dsv) == canon(t.read(spark)))
    assert(dsv.count() == 59) // 60 inserts - 1 delete
  }

  test("key filter pushes into manifest/file envelope pruning, result exact") {
    val dir = TestSpark.tmpDir("dsv-prune")
    val t = seedTable(s"$dir/t")
    val dsv = spark.read.format("graft").load(s"$dir/t")
      .filter($"conv_id" === "conv-1")
    // resolved + updated rows for conv-1 only, residual filter re-applied
    val want = canon(t.read(spark).filter($"conv_id" === "conv-1"))
    assert(canon(dsv) == want)
    assert(want.size == 10)
    // the physical scan reports the pushed key filter
    val plan = dsv.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("conv_id"),
      s"expected pushed filter in plan:\n$plan")
    // and the envelope actually prunes: conv-1's encoded point envelope
    // selects strictly fewer files than the full snapshot
    val snap = t.currentSnapshot
    val all = t.files(snap).size
    val k = KeyCodec.encode(StringType, "conv-1")
    val pruned = t.readAtIntersecting(spark, snap, Some(k), Some(k))
      .inputFiles.length
    assert(pruned < all, s"pruned=$pruned all=$all")
  }

  test("SQL: CREATE TABLE USING graft, SELECT, INSERT INTO upserts via merge") {
    val dir = TestSpark.tmpDir("dsv-sql")
    val t = seedTable(s"$dir/t")
    spark.sql(s"CREATE OR REPLACE TABLE dsv_sql USING graft OPTIONS (path '$dir/t')")
    try {
      assert(spark.sql("SELECT count(*) FROM dsv_sql").head().getLong(0) == 59)
      // INSERT = upsert epoch: one new key, one existing key overwritten
      spark.sql(
        "INSERT INTO dsv_sql VALUES ('conv-9', 0, 'new'), ('conv-1', 0, 'sql-upd')")
      val after = spark.sql(
        "SELECT text FROM dsv_sql WHERE conv_id IN ('conv-9','conv-1') AND turn_idx = 0")
        .as[String].collect().sorted.toSeq
      assert(after == Seq("new", "sql-upd"))
      assert(spark.sql("SELECT count(*) FROM dsv_sql").head().getLong(0) == 60)
      // lineage: the SQL writer has its own checkpoint ledger entry
      assert(t.currentSnapshot.epochHwm.contains("sql-writer"))
    } finally spark.sql("DROP TABLE IF EXISTS dsv_sql")
  }

  test("df.write.format(graft).mode(append) merges; versionAsOf time-travels") {
    val dir = TestSpark.tmpDir("dsv-write")
    val t = seedTable(s"$dir/t")
    val v = t.currentVersion
    Seq(("conv-0", 0, "rewrite"), ("conv-8", 1, "fresh"))
      .toDF("conv_id", "turn_idx", "text")
      .write.format("graft").mode("append").save(s"$dir/t")
    val now = spark.read.format("graft").load(s"$dir/t")
    assert(now.filter($"conv_id" === "conv-0" && $"turn_idx" === 0)
      .select($"text").head().getString(0) == "rewrite")
    assert(now.count() == 60)
    // schema evolution through the SQL face: extra column widens the table
    Seq(("conv-8", 2, "tooled", "calc"))
      .toDF("conv_id", "turn_idx", "text", "tool")
      .write.format("graft").mode("append").save(s"$dir/t")
    val widened = spark.read.format("graft").load(s"$dir/t")
    assert(widened.schema.fieldNames.contains("tool"))
    assert(widened.filter($"tool".isNotNull).count() == 1)
    // time travel sees the pre-append state and schema
    val past = spark.read.format("graft").option("versionAsOf", v).load(s"$dir/t")
    assert(!past.schema.fieldNames.contains("tool"))
    assert(canon(past) == canon(t.readAt(spark, v)))
    // overwrite is refused, not silently destructive
    val e = intercept[Exception] {
      Seq(("x", 0, "boom")).toDF("conv_id", "turn_idx", "text")
        .write.format("graft").mode("overwrite").save(s"$dir/t")
    }
    assert(e.getMessage != null)
  }

  test("zero-overlap DataFrame append fails loudly; named INSERT SELECT works") {
    val dir = TestSpark.tmpDir("dsv-posguard")
    seedTable(s"$dir/t")
    // misnamed columns must NOT be silently positionally mapped
    val e = intercept[Exception] {
      Seq(("oops", 9, "boom")).toDF("a", "b", "c")
        .write.format("graft").mode("append").save(s"$dir/t")
    }
    assert(e.getMessage != null && e.getMessage.contains("positional"),
      s"expected the positional-mapping refusal, got: ${e.getMessage}")
    // the documented alternative: resolve by name (aliased select list)
    spark.sql(s"CREATE OR REPLACE TEMP VIEW dsv_guard_src AS " +
      "SELECT 'conv-7' AS s1, 0 AS s2, 'via-select' AS s3")
    spark.read.format("graft").load(s"$dir/t") // force table registration path
    spark.sql(s"CREATE TABLE IF NOT EXISTS dsv_guard USING graft " +
      s"OPTIONS (path '$dir/t')")
    spark.sql("INSERT INTO dsv_guard " +
      "SELECT s1 AS conv_id, s2 AS turn_idx, s3 AS text FROM dsv_guard_src")
    assert(spark.read.format("graft").load(s"$dir/t")
      .filter($"conv_id" === "conv-7").count() == 1)
  }

  test("auto-LSN assignment parses zero manifests (snapshot maxLsn watermark)") {
    val dir = TestSpark.tmpDir("dsv-lsn-hwm")
    val t = seedTable(s"$dir/t") // 3 MoR epochs -> several manifests
    // the ref watermark must equal the full-walk answer on a fresh table
    val snap = t.currentSnapshot
    assert(t.maxLsn(snap) == (t.files(snap).map(_.maxLsn) :+ 0L).max,
      "snapshot-ref maxLsn diverges from the manifest walk")
    assert(t.maxLsn(snap) == 200L) // the seed's delete carries the top lsn
    // SQL-face append: the whole upsert (watermark + MoR merge + pure-append
    // commit) must parse NO manifest — O(manifest count) driver work only
    TableLog.clearManifestCacheForTest()
    val p0 = TableLog.manifestParses.get()
    Seq(("conv-0", 1, "hwm-upd")).toDF("conv_id", "turn_idx", "text")
      .write.format("graft").mode("append").save(s"$dir/t")
    val parsed = TableLog.manifestParses.get() - p0
    assert(parsed == 0, s"auto-LSN append parsed $parsed manifests, expected 0")
    // and the assigned lsn actually won over the incumbent row
    assert(spark.read.format("graft").load(s"$dir/t")
      .filter($"conv_id" === "conv-0" && $"turn_idx" === 1)
      .select($"text").head().getString(0) == "hwm-upd")
    // a ref predating the field (maxLsn = -1) falls back to the walk
    val legacy = snap.copy(manifests = snap.manifests.map(_.copy(maxLsn = -1L)))
    assert(t.maxLsn(legacy) == 200L)
  }

  // ---- pre-fold key predicate and projection: exact against the full read

  private val noAutoFold = MergeOptions(mode = MergeMode.Mor,
    morCompactDeltaRatio = 1e9, morCompactMaxDeltaFiles = Int.MaxValue)

  /** Change events over [[Schemas.turn]]: (op, lsn, conv_id, turn_idx,
    * role, text); a null role or text is an unset column. */
  private def events(rows: Seq[(String, Long, String, Int, String, String)]): DataFrame =
    rows.map { case (op, lsn, c, t, role, tx) =>
      (op, lsn, c, t, role, tx, Option.empty[String],
        java.sql.Timestamp.valueOf("2025-01-01 00:00:00"))
    }.toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts")

  /** A folded base plus three delta epochs: updates, tombstones, late
    * lower-lsn events that must lose (and one that must win), a hot key
    * updated many times in two epochs, and a delete followed by a re-insert.
    * Returns the table and the version before the last epoch. */
  private def historyTable(dir: String, sparse: Boolean = false): (LakeTable, Long) = {
    val t = LakeTable.create(dir, Schemas.turn, sparseUpdates = sparse)
    val convs = (0 until 6).map(c => s"conv-$c") :+ "conv-hot"
    val base = for ((c, ci) <- convs.zipWithIndex; tu <- 0 until 6)
      yield ("I", 10L * ci + tu, c, tu, "user", s"v0-$c-$tu")
    MergeInto.merge(spark, t, events(base), "hist", 0L, noAutoFold)
    graft.lake.Compaction.foldDeltas(spark, t)
    MergeInto.merge(spark, t, events(
      (0 until 6).map(tu => ("U", 1000L + tu, "conv-1", tu, null, s"v1-conv-1-$tu")) ++
        (0 until 20).map(i => ("U", 1100L + i, "conv-hot", 0, "assistant", s"hot-$i")) ++
        Seq(("D", 1200L, "conv-2", 0, null, null))), "hist", 1L, noAutoFold)
    MergeInto.merge(spark, t, events(Seq(
      ("U", 500L, "conv-1", 0, "tool", "late-stale"),
      ("U", 600L, "conv-2", 0, "user", "zombie"),
      ("U", 700L, "conv-3", 1, null, "late-wins"),
      ("D", 1400L, "conv-4", 5, null, null)) ++
      (0 until 10).map(i => ("U", 1300L + i, "conv-hot", i % 3, null, s"hot2-$i"))),
      "hist", 2L, noAutoFold)
    val before = t.currentVersion
    MergeInto.merge(spark, t, events(Seq(
      ("I", 2000L, "conv-4", 5, "user", "reborn"),
      ("U", 2001L, "conv-5", 2, "tool", null))), "hist", 3L, noAutoFold)
    (t, before)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  /** The scan's fold, and the columns its pre-fold filters reference. */
  private def preFold(df: DataFrame): (DataFrame, Set[String]) = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Window, WindowGroupLimit}
    val fold = df.queryExecution.sparkPlan.collectFirst {
      case s: org.apache.spark.sql.execution.RowDataSourceScanExec => s.relation
    }.collect { case r: graft.spark.GraftRelation => r.resolved }
      .getOrElse(fail(s"no graft scan in\n${df.queryExecution.sparkPlan}"))
    val input = fold.queryExecution.optimizedPlan.collectFirst {
      case l: WindowGroupLimit => l.child
      case w: Window => w.child
    }.getOrElse(fail(s"no fold in\n${fold.queryExecution.optimizedPlan}"))
    (fold, input.collect { case f: Filter => f.condition.references.map(_.name) }
      .flatten.toSet)
  }

  test("key predicates fold only their keys: EqualTo, In, ranges, turn_idx, And/Or") {
    val dir = TestSpark.tmpDir("dsv-prefold")
    val (t, _) = historyTable(s"$dir/t")
    val dsv = spark.read.format("graft").load(s"$dir/t")
    val preds: Seq[(String, Column)] = Seq(
      "EqualTo" -> ($"conv_id" === "conv-1"),
      "In" -> $"conv_id".isin("conv-1", "conv-2", "conv-hot"),
      "<" -> ($"conv_id" < "conv-3"),
      ">=" -> ($"conv_id" >= "conv-4"),
      "turn_idx only" -> ($"turn_idx" === 0),
      "And/Or" -> (($"conv_id" === "conv-1" && $"turn_idx" < 3) ||
        ($"conv_id" === "conv-2" && !($"turn_idx" === 1)) || $"conv_id" === "conv-hot"))
    preds.foreach { case (name, p) =>
      val want = rows(t.read(spark).filter(p))
      assert(want.nonEmpty, name)
      assert(rows(dsv.filter(p)) == want, s"[$name] full-row read")
      assert(rows(dsv.filter(p).select("turn_idx", "text")) ==
        rows(t.read(spark).filter(p).select("turn_idx", "text")), s"[$name] projected read")
      val (_, refs) = preFold(dsv.filter(p))
      assert(refs.nonEmpty && refs.subsetOf(Set("conv_id", "turn_idx")),
        s"[$name] fold input not filtered on the key: $refs")
    }
    // the history resolves as written: late lower lsns lose, a late higher
    // lsn wins, the delete survives its late zombie, the hot key's top wins
    val point = rows(dsv.filter($"conv_id".isin("conv-1", "conv-2", "conv-3", "conv-hot") &&
      $"turn_idx" <= 1).select("conv_id", "turn_idx", "text"))
    assert(point == Seq("conv-1|0|v1-conv-1-0", "conv-1|1|v1-conv-1-1",
      "conv-2|1|v0-conv-2-1", "conv-3|0|v0-conv-3-0", "conv-3|1|late-wins",
      "conv-hot|0|hot2-9", "conv-hot|1|hot2-7").sorted)
  }

  test("a non-key predicate stays above the fold: an older value never resurfaces") {
    val dir = TestSpark.tmpDir("dsv-nonkey")
    val (t, _) = historyTable(s"$dir/t")
    val dsv = spark.read.format("graft").load(s"$dir/t")
    // conv-1 turn 0 changed text from v0-conv-1-0 to v1-conv-1-0
    val stale = Seq($"text" === "v0-conv-1-0",
      $"conv_id" === "conv-1" && $"turn_idx" === 0 && $"text" === "v0-conv-1-0",
      $"conv_id" === "conv-1" && ($"turn_idx" === 0 || $"text" === "v0-conv-1-0") &&
        $"text" === "v0-conv-1-0")
    stale.foreach { p =>
      assert(dsv.filter(p).collect().isEmpty, s"older version resurfaced for $p")
      val (_, refs) = preFold(dsv.filter(p).select("turn_idx"))
      assert(!refs.contains("text"), s"non-key predicate moved below the fold: $refs")
    }
    // a key/non-key disjunction is not a key predicate: nothing moves down
    val mixed = $"conv_id" === "conv-1" || $"text" === "hot-3"
    assert(rows(dsv.filter(mixed)) == rows(t.read(spark).filter(mixed)))
  }

  test("pre-fold point reads stay exact on sparse tables, under versionAsOf and " +
    "as count(*)") {
    val dir = TestSpark.tmpDir("dsv-prefold-more")
    // sparse: null role/text in an update keeps the incumbent cell
    val (sp, _) = historyTable(s"$dir/sparse", sparse = true)
    val sdsv = spark.read.format("graft").load(s"$dir/sparse")
    Seq("conv-1", "conv-3", "conv-5", "conv-hot").foreach { c =>
      val p = $"conv_id" === c
      assert(rows(sdsv.filter(p)) == rows(sp.read(spark).filter(p)), s"sparse $c")
      assert(rows(sdsv.filter(p).select("turn_idx", "text")) ==
        rows(sp.read(spark).filter(p).select("turn_idx", "text")), s"sparse $c text")
      assert(preFold(sdsv.filter(p))._2 == Set("conv_id"), s"sparse $c pre-fold")
    }
    assert(rows(sdsv.filter($"conv_id" === "conv-5" && $"turn_idx" === 2)
      .select("role", "text")) == Seq("tool|v0-conv-5-2"))

    val (t, before) = historyTable(s"$dir/t")
    // time travel: conv-4 turn 5 is deleted at `before`, re-inserted after
    val p = $"conv_id" === "conv-4"
    val past = spark.read.format("graft").option("versionAsOf", before).load(s"$dir/t")
    assert(rows(past.filter(p)) == rows(t.readAt(spark, before).filter(p)))
    assert(rows(past.filter(p)) != rows(t.read(spark).filter(p)))
    assert(past.filter(p && $"turn_idx" === 5).count() == 0)

    // count(*): the empty projection reads the key alone
    val dsv = spark.read.format("graft").load(s"$dir/t")
    Seq($"conv_id" === "conv-2", $"conv_id" === "conv-hot", $"turn_idx" === 5).foreach { q =>
      assert(dsv.filter(q).count() == t.read(spark).filter(q).count(), s"count $q")
    }
    assert(dsv.filter($"conv_id" === "conv-2").count() == 5)
    assert(dsv.count() == t.read(spark).count())
    assert(preFold(dsv.groupBy().count())._1.columns.toSeq == Seq("conv_id"))
  }
}
