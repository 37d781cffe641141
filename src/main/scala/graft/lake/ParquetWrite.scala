package graft.lake

import java.util.{Map => JMap, UUID}

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/**
 * The lake's parquet write: every data file the engine writes (merge
 * epochs, delta folds) goes through [[ParquetWrite.write]], called only by
 * `LakeTable.writeAndCommit`.
 *
 * Spark's own file writer (`df.write.parquet`) Java-serializes the job's
 * Hadoop configuration — over a thousand entries, ~110 KB — twice into the
 * closure of every write task, and each task spends milliseconds
 * deserializing both copies; the driver then re-opened every footer for the
 * manifest stats. This write is a DataSourceV2 batch write instead, so it
 * stays one SQL action (an `Observation` on the written frame still
 * completes) with Spark's commit/abort protocol:
 *  - the driver builds the parquet `OutputWriterFactory` once, with
 *    `ParquetFileFormat.prepareWrite` and the lake's encoding options
 *    (`LakeTable.WriteCodec`, `LakeTable.WriteDictionary`), and ships the
 *    configuration as ONE broadcast, destroyed when the write ends;
 *  - each task writes `part-<partition>-<attempt>-<write id><ext>` straight
 *    into the write's fresh staging dir (no `_temporary` tree, no
 *    `_SUCCESS`), opens no file for an empty partition, and takes the
 *    manifest stats while writing: row count, the `_lsn` bounds and the
 *    bounds of the first key column — strings in unsigned UTF-8 byte order
 *    and integral types numerically, [[KeyCodec]]'s one ordering, encoded
 *    with it; null (unknown) bounds when every key is null or `KeyCodec`
 *    does not support the type;
 *  - an aborted write deletes the staging dir.
 */
object ParquetWrite {

  /** One file a write task committed, with the stats it took writing it. */
  final case class FileWritten(path: String, rows: Long, minKey: String, maxKey: String,
      minLsn: Long, maxLsn: Long) extends WriterCommitMessage

  /** A task whose partition held no rows: it wrote no file. */
  case object NoFile extends WriterCommitMessage

  /** A write in flight, found by the provider through its staging dir (the
    * save path; unique per write, see `TableLog.newDataDir`). */
  private final class InFlight(val spark: SparkSession, val keyCol: String) {
    @volatile var committed: Option[List[FileWritten]] = None
  }
  private val inFlight = new java.util.concurrent.ConcurrentHashMap[String, InFlight]

  /** Write `data` as parquet files into the fresh directory `outDir` and
    * return the committed files with their stats (bounds of `keyCol`). On
    * failure the write is aborted, `outDir` deleted, and the error rethrown. */
  def write(data: DataFrame, outDir: String, keyCol: String): List[FileWritten] = {
    val w = new InFlight(data.sparkSession, keyCol)
    inFlight.put(outDir, w)
    try {
      data.write.format(classOf[ParquetWrite].getName).mode("append").save(outDir)
      w.committed.getOrElse(throw new IllegalStateException(s"write to $outDir did not commit"))
    } finally inFlight.remove(outDir)
  }

  /** Local recursive delete. */
  private[lake] def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }

  private final class WriteTable(schema: StructType, dir: String, w: InFlight)
      extends Table with SupportsWrite {
    override def name(): String = s"graft-write.`$dir`"
    override def schema(): StructType = schema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_WRITE)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new Batch(info.schema(), dir, w)
      }
    }
  }

  /** The task-side factory of a write of `schema` rows into `dir`, with a
    * fresh configuration broadcast; the caller destroys it
    * (`factory.conf.destroy()`) when the write ends. */
  private[graft] def taskFactory(spark: SparkSession, schema: StructType, dir: String,
      keyCol: String): TaskWriterFactory = {
    val options = Map("compression" -> LakeTable.WriteCodec,
      "parquet.enable.dictionary" -> LakeTable.WriteDictionary.toString)
    val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(options))
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    val factory = new ParquetFileFormat().prepareWrite(spark, job, options, schema)
    val out = new Path(dir)
    // manifests store Hadoop-qualified paths (`file:/…`)
    val qualified = out.getFileSystem(job.getConfiguration).makeQualified(out).toString
    val k = schema.fieldIndex(keyCol)
    TaskWriterFactory(factory,
      spark.sparkContext.broadcast(new SerializableConfiguration(job.getConfiguration)),
      qualified, UUID.randomUUID().toString, schema, k, schema(k).dataType,
      schema.fieldIndex(LakeTable.LsnCol))
  }

  private final class Batch(schema: StructType, dir: String, w: InFlight) extends BatchWrite {
    private var conf: Broadcast[SerializableConfiguration] = _

    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
      val f = taskFactory(w.spark, schema, dir, w.keyCol)
      conf = f.conf
      f
    }

    // Spark calls commit after the job succeeds, abort after it (or the
    // commit) fails

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      destroyConf()
      w.committed = Some(messages.toList.collect { case f: FileWritten => f })
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      destroyConf()
      deleteRecursively(LocalFs.localPath(dir))
    }

    private def destroyConf(): Unit = if (conf != null) { conf.destroy(); conf = null }
  }

  /** What each write task receives: no Hadoop configuration, only the
    * broadcast that holds it. */
  private[graft] final case class TaskWriterFactory(factory: OutputWriterFactory,
      conf: Broadcast[SerializableConfiguration], dir: String, writeId: String,
      schema: StructType, keyIdx: Int, keyType: DataType, lsnIdx: Int)
      extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new TaskWriter(this, partitionId)
  }

  private final class TaskWriter(f: TaskWriterFactory, partitionId: Int)
      extends DataWriter[InternalRow] {
    private var out: OutputWriter = _
    private var rows = 0L
    private var minLsn = Long.MaxValue
    private var maxLsn = Long.MinValue
    private val key = KeyBounds(f.keyType, f.keyIdx)

    override def write(row: InternalRow): Unit = {
      if (out == null) open()
      out.write(row)
      rows += 1
      key.add(row)
      if (!row.isNullAt(f.lsnIdx)) {
        val l = row.getLong(f.lsnIdx)
        if (l < minLsn) minLsn = l
        if (l > maxLsn) maxLsn = l
      }
    }

    private def open(): Unit = {
      val tc = TaskContext.get()
      val attempt = new TaskAttemptID(
        new TaskID(new JobID("graft", tc.stageId()), TaskType.MAP, partitionId),
        tc.attemptNumber())
      // the attempt context copies the shared configuration
      val ctx = new TaskAttemptContextImpl(f.conf.value.value, attempt)
      val path = f"${f.dir}/part-$partitionId%05d-${tc.attemptNumber()}-${f.writeId}" +
        f.factory.getFileExtension(ctx)
      out = f.factory.newInstance(path, f.schema, ctx)
    }

    override def commit(): WriterCommitMessage =
      if (out == null) NoFile
      else {
        out.close()
        val (lo, hi) = key.bounds
        // -1 = unknown, as in ManifestRef (no row carried an lsn)
        val lsns = if (maxLsn >= minLsn) (minLsn, maxLsn) else (-1L, -1L)
        val written = FileWritten(out.path(), rows, lo, hi, lsns._1, lsns._2)
        out = null
        written
      }

    override def abort(): Unit = if (out != null) {
      val path = new Path(out.path())
      try out.close()
      finally {
        out = null
        path.getFileSystem(f.conf.value.value).delete(path, false)
        ()
      }
    }

    override def close(): Unit = ()
  }

  /** Running min/max of the first key column, encoded with [[KeyCodec]]. */
  private sealed trait KeyBounds {
    def add(row: InternalRow): Unit
    /** (min, max); nulls when unknown */
    def bounds: (String, String)
  }

  private object KeyBounds {
    def apply(dt: DataType, i: Int): KeyBounds = dt match {
      case _ if !KeyCodec.supports(dt) => Unknown
      case StringType => new Utf8(i)
      case ByteType => new Integral(i, _.getByte(i).toLong)
      case ShortType => new Integral(i, _.getShort(i).toLong)
      case IntegerType => new Integral(i, _.getInt(i).toLong)
      case _ => new Integral(i, _.getLong(i))
    }

    private object Unknown extends KeyBounds {
      def add(row: InternalRow): Unit = ()
      def bounds: (String, String) = (null, null)
    }

    /** unsigned UTF-8 byte order, as `KeyCodec.compare` */
    private final class Utf8(i: Int) extends KeyBounds {
      private var lo: UTF8String = _
      private var hi: UTF8String = _
      def add(row: InternalRow): Unit = if (!row.isNullAt(i)) {
        val s = row.getUTF8String(i)
        // rows may share buffers: keep copies
        if (lo == null || s.binaryCompare(lo) < 0) lo = s.clone()
        if (hi == null || s.binaryCompare(hi) > 0) hi = s.clone()
      }
      def bounds: (String, String) =
        if (lo == null) (null, null)
        else (KeyCodec.encode(StringType, lo), KeyCodec.encode(StringType, hi))
    }

    private final class Integral(i: Int, get: InternalRow => Long) extends KeyBounds {
      private var seen = false
      private var lo = Long.MaxValue
      private var hi = Long.MinValue
      def add(row: InternalRow): Unit = if (!row.isNullAt(i)) {
        val v = get(row)
        seen = true
        if (v < lo) lo = v
        if (v > hi) hi = v
      }
      def bounds: (String, String) =
        if (!seen) (null, null) else (KeyCodec.encodeLong(lo), KeyCodec.encodeLong(hi))
    }
  }
}

/** The provider Spark instantiates by class name for [[ParquetWrite.write]];
  * it serves only writes in flight. */
final class ParquetWrite extends TableProvider {
  import ParquetWrite._

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new UnsupportedOperationException("graft's parquet write has no schema to infer")

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val dir = properties.get("path")
    val w = Option(dir).flatMap(d => Option(inFlight.get(d))).getOrElse(
      throw new IllegalStateException(s"no lake write in flight for $dir"))
    new WriteTable(schema, dir, w)
  }
}
