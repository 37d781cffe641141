package graft.lake

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/**
 * The engine's `file:` filesystem, for both Hadoop APIs: `FileSystem`
 * (Spark's parquet writes: data, fold and WAL files) and `FileContext`
 * (the streaming checkpoint's offset, commit and source logs).
 *
 * Spark's distribution ships no `libhadoop`, so the stock
 * `RawLocalFileSystem` forks a `chmod` process for every file, `.crc`
 * sidecar and directory it creates, and a `readlink` process for every
 * `getFileLinkStatus` — which `FileContext.rename` calls on both ends of
 * every checkpoint-log commit. Each is a process spawn where `java.nio`
 * needs one system call (BASELINE.md has the measured effect). These
 * classes replace exactly those two calls; everything else — create modes,
 * umask, `.crc` sidecars, checksum verification on read — is the stock
 * code, so the bytes and modes on disk are unchanged. The stock paths
 * remain for the cases `java.nio` does not cover: the sticky bit, and a
 * path that is itself a symlink.
 */
object LocalFs {

  /** `RawLocalFileSystem` without the per-file `chmod`/`readlink` forks. */
  class Raw extends RawLocalFileSystem {
    // callers pass the final mode: create and mkdirs apply the umask first
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val f = pathToFile(p)
        try Files.setPosixFilePermissions(f.toPath, posix(permission.toShort))
        catch { case _: NoSuchFileException => throw new FileNotFoundException(f.toString) }
      }

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** The checksummed `FileSystem` (`fs.file.impl`) over [[Raw]]. */
  class Checksummed extends LocalFileSystem(new Raw)

  /** `AbstractFileSystem` over [[Raw]] — the stock `RawLocalFs` with the
    * raw filesystem swapped (its constructors are package-private). */
  class RawAfs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort(): Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }

  /** The checksummed `AbstractFileSystem` (`fs.AbstractFileSystem.file.impl`)
    * over [[RawAfs]], as the stock `LocalFs` is over `RawLocalFs`. */
  class Afs(uri: URI, conf: Configuration) extends ChecksumFs(new RawAfs(uri, conf))

  private val FsImpl = "fs.file.impl"
  private val AfsImpl = "fs.AbstractFileSystem.file.impl"
  // FileSystem.get caches per scheme, not per conf: a stock instance cached
  // before the install would otherwise keep serving `file:` paths
  private val NoCache = "fs.file.impl.disable.cache"

  /** Make [[Checksummed]] and [[Afs]] the session's `file:` filesystems.
    * Idempotent and cheap; every engine entry point that creates files calls
    * it, so Hadoop configurations derived afterwards (per query, per write
    * job) carry it. */
  def install(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = classOf[Checksummed].getName
    if (conf.get(FsImpl) != fs) conf.synchronized {
      conf.setBoolean(NoCache, true)
      conf.set(AfsImpl, classOf[Afs].getName)
      // last: the idempotence check above reads this key
      conf.set(FsImpl, fs)
    }
  }

  /** A `file:` URI (how Hadoop and the session catalog qualify paths) as a
    * local path; any other string is a local path already. */
  def localPath(p: String): java.nio.file.Path =
    if (p.startsWith("file:")) java.nio.file.Paths.get(URI.create(p).getPath)
    else java.nio.file.Paths.get(p)

  // PosixFilePermission's declaration order is owner rwx, group rwx,
  // others rwx: bit 0400 down to 0001
  private def posix(mode: Short): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) s.add(p)
    }
    s
  }
}
