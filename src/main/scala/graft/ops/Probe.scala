package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.gen.{ChangelogGen, GenParams}
import graft.lake.LakeTable
import graft.merge.{MergeInto, MergeOptions}
import graft.model.Schemas

/** Temporary optimization-round probe: phase timing of the e2e query paths.
  * Not part of the bench contract; run via `sbt "runMain graft.ops.Probe"`. */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .appName("graft-probe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"PROBE $name ${(System.nanoTime() - t0) / 1e9}%.3f")
      r
    }

    // warm
    try graft.SparkEntry.entry(spark).count() catch { case e: Throwable => println(e) }

    (1 to 2).foreach { rep =>
      println(s"--- rep $rep: cdcIngestE2E phases ---")
      val p = EngineQueriesProbe.paramsFor(sfDir)
      val work = Scratch.dir("probe-e2e")
      val table = t("create")(LakeTable.create(s"$work/table", Schemas.turn))
      val ev = t("gen+cache") {
        val d = ChangelogGen.events(spark, p).toDF("wal_file", "ev")
          .select(col("wal_file"), col("ev.*")).cache()
        d.count(); d
      }
      (0 until 4).foreach { e =>
        val batch = ev.filter(pmod(col("wal_file"), lit(4)) === e).drop("wal_file")
        val st = t(s"merge$e")(MergeInto.merge(spark, table, batch, "e2e", e.toLong))
        println(s"  stats: batchRows=${st.batchRows} filesAdded=${st.filesAdded} " +
          s"rewritten=${st.filesRewritten} statsMs=${st.statsMs} " +
          s"writeMs=${st.writeMs} footerMs=${st.footerMs} commitMs=${st.commitMs} wall=${st.wallMs}")
      }
      ev.unpersist()
      t("read.count")(table.read(spark).count())

      println(s"--- rep $rep: seedChangeUpstream + feed phases ---")
      val work2 = Scratch.dir("probe-feed")
      t("seed3")(EngineQueriesProbe.seed(spark, sfDir, work2, s"probe-up-$rep"))
      val cfg = graft.stream.ChangeFeed.Config(s"$work2/up", s"$work2/down", s"$work2/cursor")
      t("catchUp")(graft.stream.ChangeFeed.catchUp(spark, cfg))
      t("downRead")(LakeTable.load(s"$work2/down").read(spark).count())

      println(s"--- rep $rep: cdcStreamE2E phases ---")
      val p3 = EngineQueriesProbe.paramsFor(sfDir).copy(nEvents = 20000L,
        eventsPerFile = 2500L, maxLateEvents = 500)
      val work3 = Scratch.dir("probe-stream")
      t("writeWal")(ChangelogGen.writeWal(spark, p3, s"$work3/wal"))
      t("stream")(graft.stream.CdcIngestJob.runAvailableNow(spark,
        graft.stream.IngestConfig(s"$work3/wal", s"$work3/table", s"$work3/ckpt",
          maxFilesPerTrigger = Some(3))))
      val ms = LakeTable.load(s"$work3/table").metrics(spark)
      ms.select("ckptId", "epochId", "batchRows", "filesAdded", "statsMs", "writeMs",
        "footerMs", "commitMs", "wallMs").show(50, false)
    }
    MergeInto.awaitMaintenance()
    spark.stop()
    System.exit(0)
  }
}

private object EngineQueriesProbe {
  def paramsFor(dir: String): GenParams = {
    val n = if (dir.contains("0.1")) 200000L
    else if (dir.contains("0.01")) 50000L
    else 20000L
    GenParams(nEvents = n, nConvs = (n / 80).toInt.max(50),
      eventsPerFile = n / 8, maxLateEvents = (n / 40).toInt)
  }

  def seed(s: SparkSession, dir: String, work: String, ckptId: String): Unit = {
    import org.apache.spark.sql.types._
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    val payload = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("text", StringType)))
    val up = LakeTable.create(s"$work/up", payload, keyCols = Seq("doc_id"))
    val opts = MergeOptions(keyCols = Seq("doc_id"), mode = graft.merge.MergeMode.Mor)
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
    val st0 = MergeInto.merge(s, up, ins, ckptId, 0L, opts)
    val st1 = MergeInto.merge(s, up, upd, ckptId, 1L, opts)
    val st2 = MergeInto.merge(s, up, dels, ckptId, 2L, opts)
    Seq(st0, st1, st2).zipWithIndex.foreach { case (st, i) =>
      println(s"  seed$i: rows=${st.batchRows} filesAdded=${st.filesAdded} " +
        s"writeMs=${st.writeMs} footerMs=${st.footerMs} commitMs=${st.commitMs} wall=${st.wallMs}")
    }
  }
}
