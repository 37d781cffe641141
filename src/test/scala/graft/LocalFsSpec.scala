package graft

import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.{ChangelogGen, GenParams}
import graft.lake.{Compaction, LakeTable, LocalFs}
import graft.merge.Maintenance
import graft.stream.{CdcIngestJob, ChangeFeed, IngestConfig}

/**
 * The engine's `file:` filesystem ([[LocalFs]]): no engine write path forks
 * a `chmod` or `readlink` process, and what lands on disk — bytes, modes,
 * `.crc` sidecars, checksum verification on read — is what stock Hadoop
 * writes.
 */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val p = GenParams(nEvents = 6000, nConvs = 80, eventsPerFile = 1000,
    maxLateEvents = 200, turnsPerConv = 25)

  private val InstallKeys =
    Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl", "fs.file.impl.disable.cache")

  /** Commands of the processes the JVM started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      val f = Files.createTempFile("process-starts", ".jfr")
      try {
        rec.dump(f)
        RecordingFile.readAllEvents(f).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map(_.getString("command"))
      } finally Files.delete(f)
    } finally rec.close()
  }

  /** Undo the install and leave a stock `file:` FileSystem in Hadoop's
    * cache, so a path passes only if it installs [[LocalFs]] itself and the
    * cached instance never serves its writes. */
  private def stockCached(): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    InstallKeys.foreach(conf.unset)
    val fs = FileSystem.get(new URI("file:///"), conf)
    assert(!fs.isInstanceOf[LocalFs.Checksummed])
  }

  private def assertNoForks(path: String)(body: => Unit): Unit = {
    stockCached()
    val forks = processStarts(body).filter { c =>
      val exe = Paths.get(c.split(" ").head).getFileName.toString
      exe == "chmod" || exe == "readlink"
    }
    if (forks.nonEmpty)
      fail(s"$path forked ${forks.size} chmod/readlink processes, e.g. ${forks.take(3)}")
  }

  private def walk(root: String): Seq[JPath] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.toList finally s.close()
  }

  private def mode(f: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(f))

  /** Canonical table state: every column, rows in key order. */
  private def state(dir: String): Seq[Seq[Any]] = {
    val df = LakeTable.load(dir).read(spark)
    val cols = df.columns.sorted
    df.selectExpr(cols.toIndexedSeq: _*).collect().toSeq.map((r: Row) => r.toSeq)
      .sortBy(_.mkString("\u0001"))
  }

  test("engine write paths fork no chmod/readlink; files 0644, dirs 0755, " +
    ".crc sidecars written") {
    val work = TestSpark.tmpDir("localfs-paths")
    val cfg = IngestConfig(s"$work/wal", s"$work/t", s"$work/ckpt",
      maxFilesPerTrigger = Some(2))
    assertNoForks("ChangelogGen.writeWal")(
      ChangelogGen.writeWal(spark, p, cfg.walDir))
    assertNoForks("CdcIngestJob drain + fold") {
      CdcIngestJob.drainAvailableNow(spark, cfg)
      Maintenance.await()
      Compaction.foldDeltas(spark, LakeTable.load(cfg.tableDir))
    }
    val table = LakeTable.load(cfg.tableDir)
    assert(table.currentFiles.forall(!_.delta), "the fold left delta files")
    assert(table.read(spark).count() == ChangelogGen.foldOracle(p).size)
    val feed = ChangeFeed.Config(cfg.tableDir, s"$work/down", s"$work/cursor")
    assertNoForks("ChangeFeed.catchUp")(ChangeFeed.catchUp(spark, feed))
    assert(state(s"$work/down") == state(cfg.tableDir))
    // the sink's checkpoint logs exist before its first merge
    assertNoForks("readStream(graft) -> writeStream(graft)") {
      val q = spark.readStream.format("graft").load(cfg.tableDir)
        .writeStream.format("graft").option("path", s"$work/sink")
        .option("checkpointLocation", s"$work/sink-ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(state(s"$work/sink") == state(cfg.tableDir))

    spark.sql(s"CREATE OR REPLACE TABLE localfs_sql USING graft OPTIONS (path '$work/t')")
    try assertNoForks("SQL INSERT INTO")(
      spark.sql("INSERT INTO localfs_sql VALUES ('conv-new', 0, 'user', 'hi', " +
        "CAST(NULL AS STRING), timestamp'2025-01-01 00:00:00', CAST(NULL AS STRING))"))
    finally spark.sql("DROP TABLE IF EXISTS localfs_sql")
    assert(LakeTable.load(cfg.tableDir).read(spark)
      .filter("conv_id = 'conv-new'").count() == 1)

    // everything Hadoop created: the WAL, the checkpoint, each write's data
    // directory (the tables' own directories are java.nio's)
    def dataDirs(t: String) = {
      val s = Files.list(Paths.get(t, "data"))
      try s.iterator().asScala.map(_.toString).toList finally s.close()
    }
    val entries = (Seq(cfg.walDir, cfg.checkpointDir, s"$work/sink-ckpt") ++
      Seq(cfg.tableDir, s"$work/down", s"$work/sink").flatMap(dataDirs)).flatMap(walk)
    entries.foreach { f =>
      val want = if (Files.isDirectory(f)) "rwxr-xr-x" else "rw-r--r--"
      assert(mode(f) == want, s"$f")
    }
    val parquet = entries.filter(_.getFileName.toString.endsWith(".parquet"))
    assert(parquet.nonEmpty)
    parquet.foreach { f =>
      assert(Files.exists(f.resolveSibling(s".${f.getFileName}.crc")), s"no .crc for $f")
    }
    assert(entries.exists(f => f.getParent.getFileName.toString == "offsets" &&
      f.getFileName.toString.endsWith(".crc")), "no .crc in the checkpoint's offset log")
  }

  test("a flipped byte in a data file fails the read with ChecksumException") {
    val work = TestSpark.tmpDir("localfs-crc")
    val cfg = IngestConfig(s"$work/wal", s"$work/t", s"$work/ckpt")
    ChangelogGen.writeWal(spark, p.copy(nEvents = 2000), cfg.walDir)
    CdcIngestJob.drainAvailableNow(spark, cfg)
    val table = LakeTable.load(cfg.tableDir)
    val file = Paths.get(new URI(table.currentFiles.maxBy(_.rows).path).getPath)
    val bytes = Files.readAllBytes(file)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x01).toByte
    Files.write(file, bytes)
    val e = intercept[Exception](table.read(spark).collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toList
    assert(chain.exists(_.isInstanceOf[ChecksumException]), s"$e")
  }

  test("stock and engine filesystems write identical bytes and modes, " +
    "through FileSystem and FileContext, under umask 022 and 027") {
    val work = TestSpark.tmpDir("localfs-same")
    val payload = Array.tabulate[Byte](5000)(i => (i * 31).toByte)

    /** Writes a nested file with FileSystem and a renamed one with
      * FileContext; returns (relative path, mode, bytes) of every entry. */
    def layout(root: String, umask: String, engine: Boolean): Seq[(String, String, String)] = {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      conf.setBoolean("fs.file.impl.disable.cache", true)
      if (engine) {
        conf.set("fs.file.impl", classOf[LocalFs.Checksummed].getName)
        conf.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs.Afs].getName)
      }
      val fs = FileSystem.get(new URI("file:///"), conf)
      assert(fs.isInstanceOf[LocalFs.Checksummed] == engine)
      val out = fs.create(new Path(s"$root/a/b/data.bin"))
      try out.write(payload) finally out.close()
      val fc = FileContext.getFileContext(new URI("file:///"), conf)
      val tmp = new Path(s"$root/log/.0.tmp")
      val o2 = fc.create(tmp, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
        Options.CreateOpts.createParent())
      try o2.write("v1\n{}".getBytes(StandardCharsets.UTF_8)) finally o2.close()
      fc.rename(tmp, new Path(s"$root/log/0"), Options.Rename.OVERWRITE)
      walk(root).drop(1).map { f =>
        val content =
          if (Files.isDirectory(f)) ""
          else java.util.Base64.getEncoder.encodeToString(Files.readAllBytes(f))
        (Paths.get(root).relativize(f).toString, mode(f), content)
      }.sortBy(_._1)
    }
    for (umask <- Seq("022", "027")) {
      val stock = layout(s"$work/stock-$umask", umask, engine = false)
      assert(stock.exists(_._1.endsWith(".data.bin.crc")))
      assert(layout(s"$work/engine-$umask", umask, engine = true) == stock)
    }
  }

  test("a table reached through a symlinked directory ingests and reads correctly") {
    val work = TestSpark.tmpDir("localfs-link")
    Files.createDirectories(Paths.get(work, "real"))
    Files.createSymbolicLink(Paths.get(work, "link"), Paths.get(work, "real"))
    val cfg = IngestConfig(s"$work/wal", s"$work/link/t", s"$work/link/ckpt",
      maxFilesPerTrigger = Some(3))
    ChangelogGen.writeWal(spark, p, cfg.walDir)
    CdcIngestJob.drainAvailableNow(spark, cfg)
    Maintenance.await()
    Compaction.foldDeltas(spark, LakeTable.load(cfg.tableDir))
    val oracle = ChangelogGen.foldOracle(p)
    val got = LakeTable.load(cfg.tableDir).read(spark)
      .select("conv_id", "turn_idx", "text").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(got == oracle.map { case (k, e) => k -> e.text })
    assert(Files.isDirectory(Paths.get(work, "real", "t", "_snapshots")))
  }
}
