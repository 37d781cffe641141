package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.{ChangelogGen, GenParams}
import graft.lake.LakeTable
import graft.merge.{MergeInto, MergeOptions, Resolve}
import graft.model.Schemas
import graft.stream.{CdcIngestJob, IngestConfig}

/**
 * Whole-engine queries (no SQL-expressible DuckDB oracle — the correctness
 * authority for these is the in-memory fold oracle + replay equality in
 * `sbt test`; here the driver gets a rows-only smoke signal).
 */
object EngineQueries {

  /** Scale the synthetic changelog with the sf directory being queried. */
  private def paramsFor(dir: String): GenParams = {
    val n = if (dir.contains("0.1")) 200000L
    else if (dir.contains("0.01")) 50000L
    else 20000L
    GenParams(nEvents = n, nConvs = (n / 80).toInt.max(50),
      eventsPerFile = n / 8, maxLateEvents = (n / 40).toInt)
  }

  /** Full batch CDC ingest: gen -> epoch merges -> final table state. */
  def cdcIngestE2E(s: SparkSession, p: GenParams): DataFrame = {
    val work = Scratch.dir("graft-e2e")
    val table = LakeTable.create(s"$work/table", Schemas.turn)
    val ev = ChangelogGen.events(s, p).toDF("wal_file", "ev")
      .select(col("wal_file"), col("ev.*")).cache()
    try {
      val epochs = 4
      (0 until epochs).foreach { e =>
        val batch = ev.filter(pmod(col("wal_file"), lit(epochs)) === e).drop("wal_file")
        MergeInto.merge(s, table, batch, "e2e", e.toLong)
      }
    } finally ev.unpersist()
    table.read(s)
  }

  /** Full streaming CDC ingest over a WAL directory (the flagship). */
  def cdcStreamE2E(s: SparkSession, p: GenParams): DataFrame = {
    val work = Scratch.dir("graft-stream-e2e")
    ChangelogGen.writeWal(s, p, s"$work/wal")
    // drain (no trailing count): the returned frame IS the table read — the
    // bench/oracle consumer performs the only read this query needs
    CdcIngestJob.drainAvailableNow(s,
      IngestConfig(s"$work/wal", s"$work/table", s"$work/ckpt",
        maxFilesPerTrigger = Some(3)))
    LakeTable.load(s"$work/table").read(s)
  }

  /**
   * Partial-column upsert e2e (the reference's OnDupKeyFields,
   * /root/reference/processors/sql_writer.go:25, util/sql.go:274-284):
   * deterministic sparse changelog derived from `documents`, merged through
   * a sparse lake table in two MoR epochs (insert epoch, then a mixed epoch
   * of single-column updates + deletes), so the driver's DuckDB oracle can
   * verify the closed-form final state — including that columns NOT carried
   * by an update survive from the incumbent row.
   */
  def mergeSparse(s: SparkSession, dir: String,
      sparseResolve: graft.merge.ResolveStrategy =
        graft.merge.ResolveStrategy.SortDedup): DataFrame = {
    import org.apache.spark.sql.types._
    import graft.merge.MergeOptions
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    val work = Scratch.dir("graft-sparse")
    val payload = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("text", StringType)))
    val table = LakeTable.create(s"$work/t", payload, keyCols = Seq("doc_id"),
      sparseUpdates = true)
    val opts = MergeOptions(keyCols = Seq("doc_id"),
      mode = graft.merge.MergeMode.Mor, sparseResolve = sparseResolve)
    def nul = lit(null).cast(StringType)
    val ins = docs.select(lit("I").as("op"), (col("doc_id") * 4).as("lsn"),
      col("doc_id"), col("lang"), col("source"), col("text"))
    val updLang = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      .select(lit("U").as("op"), (col("doc_id") * 4 + 1).as("lsn"),
        col("doc_id"), lit("xx").as("lang"), nul.as("source"), nul.as("text"))
    val updText = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(lit("U").as("op"), (col("doc_id") * 4 + 2).as("lsn"),
        col("doc_id"), nul.as("lang"), nul.as("source"),
        concat(lit("v2:"), col("text")).as("text"))
    val dels = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select(lit("D").as("op"), (col("doc_id") * 4 + 3).as("lsn"),
        col("doc_id"), nul.as("lang"), nul.as("source"), nul.as("text"))
    MergeInto.merge(s, table, ins, "sparse", 0L, opts)
    MergeInto.merge(s, table, updLang.unionByName(updText).unionByName(dels),
      "sparse", 1L, opts)
    table.read(s).select(col("doc_id"), col("lang"), col("source"), col("text"))
  }

  /**
   * CDC-out e2e: a deterministic changelog derived from `documents` is
   * merged into an UPSTREAM lake table over three MoR epochs (inserts,
   * full-row updates, deletes), then a [[graft.stream.ChangeFeed]] consumer
   * follows the upstream's change stream into a DOWNSTREAM table via its
   * persisted cursor — pipelines feeding pipelines
   * (/root/reference/doc.go:53-110). The returned frame is the DOWNSTREAM
   * state, so the DuckDB oracle verifies the whole chain: merge semantics,
   * per-version change-file resolution, and feed application.
   */
  def changeFeedE2E(s: SparkSession, dir: String): DataFrame = {
    import graft.stream.ChangeFeed
    val work = Scratch.dir("graft-feed")
    seedChangeUpstream(s, dir, work, "feed-up")
    val cfg = ChangeFeed.Config(s"$work/up", s"$work/down", s"$work/cursor")
    ChangeFeed.catchUp(s, cfg)
    LakeTable.load(s"$work/down").read(s)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
  }

  /** The shared 3-epoch upstream changelog (inserts, %3 full-row updates,
    * %7 deletes over `documents`) behind every CDC-out consumption face —
    * one construction, one closed-form oracle. Returns the upstream dir. */
  private def seedChangeUpstream(s: SparkSession, dir: String, work: String,
      ckptId: String): String = {
    import org.apache.spark.sql.types._
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    val payload = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("text", StringType)))
    val up = LakeTable.create(s"$work/up", payload, keyCols = Seq("doc_id"))
    val opts = MergeOptions(keyCols = Seq("doc_id"),
      mode = graft.merge.MergeMode.Mor)
    // non-sparse updates carry the FULL row (whole-row overwrite semantics)
    val ins = docs.select(lit("I").as("op"), (col("doc_id") * 4).as("lsn"),
      col("doc_id"), col("lang"), col("source"), col("text"))
    val upd = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      .select(lit("U").as("op"), (col("doc_id") * 4 + 1).as("lsn"),
        col("doc_id"), lit("xx").as("lang"), col("source"),
        concat(lit("u1:"), col("text")).as("text"))
    val dels = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select(lit("D").as("op"), (col("doc_id") * 4 + 2).as("lsn"),
        col("doc_id"), lit(null).cast(StringType).as("lang"),
        lit(null).cast(StringType).as("source"),
        lit(null).cast(StringType).as("text"))
    MergeInto.merge(s, up, ins, ckptId, 0L, opts)
    MergeInto.merge(s, up, upd, ckptId, 1L, opts)
    MergeInto.merge(s, up, dels, ckptId, 2L, opts)
    s"$work/up"
  }

  /**
   * Streaming CDC-out e2e: the same 3-epoch upstream changelog as
   * [[changeFeedE2E]], but the feed is consumed through the idiomatic-Spark
   * face — `spark.readStream.format("graft")` ([[graft.spark.GraftStreamSource]])
   * into a parquet sink under `Trigger.AvailableNow` — and the streamed
   * change rows are folded (max-lsn per key, tombstones dropped) to the
   * final state. Verifies the whole streaming chain against the same
   * closed-form DuckDB oracle as the cursor-based feed.
   */
  def changeStreamE2E(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val work = Scratch.dir("graft-cstream")
    val up = seedChangeUpstream(s, dir, work, "cstream-up")
    val q = s.readStream.format("graft").load(up)
      .writeStream.format("parquet").option("path", s"$work/sink")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = s.read.parquet(s"$work/sink")
    Resolve.resolveMaxLsn(streamed, Seq("doc_id"))
      .filter(!col(LakeTable.DeletedCol))
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
  }

  /**
   * Streaming-sink e2e: the same 3-epoch upstream changelog, consumed
   * through the full writeStream face — `readStream.format("graft")` piped
   * directly into `writeStream.format("graft")`
   * ([[graft.spark.GraftStreamSink]]), each micro-batch one idempotent merge
   * epoch into a DOWNSTREAM lake table it creates on first commit. The
   * returned frame is the downstream table's resolved state, so the shared
   * closed-form oracle verifies source, sink, and the tombstone carry
   * in between with zero user glue code.
   */
  def sinkStreamE2E(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val work = Scratch.dir("graft-sstream")
    val up = seedChangeUpstream(s, dir, work, "sstream-up")
    val q = s.readStream.format("graft").load(up)
      .writeStream.format("graft").option("path", s"$work/down")
      .option("keyCols", "doc_id")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    LakeTable.load(s"$work/down").read(s)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
  }

  /**
   * DataSourceV2 e2e: a lake table seeded through the merge API, upserted
   * again through the PLAIN-SQL face (`df.write.format("graft")` append =
   * one auto-LSN merge epoch), then read back through
   * `spark.read.format("graft")` with a key-range predicate that pushes into
   * manifest/file envelope pruning ([[graft.spark.GraftDataSource]]).
   */
  def dsv2E2E(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val work = Scratch.dir("graft-dsv2")
    val payload = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val t = LakeTable.create(s"$work/t", payload, keyCols = Seq("doc_id"))
    val opts = MergeOptions(keyCols = Seq("doc_id"),
      mode = graft.merge.MergeMode.Mor)
    val ins = docs.select(lit("I").as("op"), col("doc_id").as("lsn"),
      col("doc_id"), col("text"))
    MergeInto.merge(s, t, ins, "dsv2-seed", 0L, opts)
    docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"), concat(lit("sql:"), col("text")).as("text"))
      .write.format("graft").mode("append").save(s"$work/t")
    s.read.format("graft").load(s"$work/t").filter(col("doc_id") < 300)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cdc_ingest_e2e" -> ((s, dir) => cdcIngestE2E(s, paramsFor(dir))),
    "q_change_feed_e2e" -> ((s, dir) => changeFeedE2E(s, dir)),
    "q_change_stream_e2e" -> ((s, dir) => changeStreamE2E(s, dir)),
    "q_sink_stream_e2e" -> ((s, dir) => sinkStreamE2E(s, dir)),
    "q_dsv2_sql" -> ((s, dir) => dsv2E2E(s, dir)),
    "q_cdc_stream_e2e" -> ((s, dir) =>
      cdcStreamE2E(s, paramsFor(dir).copy(nEvents = 20000L, eventsPerFile = 2500L,
        maxLateEvents = 500))),
    "q_merge_sparse" -> ((s, dir) => mergeSparse(s, dir)),
    // same changelog through the aggregate-form epoch collapse (hot-key /
    // high-duplication plan shape) — must hit the identical closed form
    "q_merge_sparse_agg" -> ((s, dir) =>
      mergeSparse(s, dir, graft.merge.ResolveStrategy.Agg)))

  // closed-form final state of the sparse changelog: lang touched by the
  // %3 update, text by the %5 update (other columns must SURVIVE each
  // sparse update), %7 keys deleted last. ONE definition for both plan
  // shapes — they must verify against the same oracle by construction.
  private val sparseOracle =
    """SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'xx' ELSE lang END AS lang,
         source,
         CASE WHEN doc_id % 5 = 0 THEN 'v2:' || text ELSE text END AS text
       FROM documents WHERE doc_id % 7 <> 0"""

  val oracles: Map[String, String] = Map(
    "q_merge_sparse" -> sparseOracle,
    "q_merge_sparse_agg" -> sparseOracle,
    // closed form of the seed + SQL-face upsert under the pushed predicate
    "q_dsv2_sql" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 5 = 0 THEN 'sql:' || text ELSE text END AS text
         FROM documents WHERE doc_id < 300""",
    // closed form of the 3-epoch changelog as seen THROUGH the change feed
    // (one definition for both consumption faces — cursor and readStream)
    "q_change_feed_e2e" -> changeFeedOracle,
    "q_change_stream_e2e" -> changeFeedOracle,
    "q_sink_stream_e2e" -> changeFeedOracle)

  private lazy val changeFeedOracle =
    """SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'xx' ELSE lang END AS lang,
         source,
         CASE WHEN doc_id % 3 = 0 THEN 'u1:' || text ELSE text END AS text
       FROM documents WHERE doc_id % 7 <> 0"""
}
