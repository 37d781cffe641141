package graft.spark

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit, monotonically_increasing_id}
import org.apache.spark.sql.graft.GraftStreamingShim
import org.apache.spark.sql.sources._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.{KeyCodec, LakeTable, LocalFs, Snapshot}
import graft.merge.{MergeInto, MergeOptions}
import graft.model.Schemas

/**
 * DataSourceV2 provider for graft lake tables: `spark.read.format("graft")
 * .load(dir)`, SQL `CREATE TABLE t USING graft OPTIONS (path '…')` +
 * `SELECT`/`INSERT INTO`, and `df.write.format("graft")` — the plain-SQL
 * face of the engine, so a reference user's ad-hoc SQL over ratchet's MySQL
 * sink tables (/root/reference/processors/sql_writer.go:21-80) has a direct
 * equivalent over the lake.
 *
 * Read: a [[V1Scan]] whose relation is the table's resolved view
 * ([[LakeTable.readAtIntersecting]]), built from ONE snapshot per scan. The
 * merge-on-read fold runs inside the scan, where Catalyst cannot reach, so
 * the scan pushes the query's key predicates and projection below it itself:
 *  - filters on the FIRST merge-key column narrow the encoded key envelope
 *    for the merge path's two-level manifest/file pruning — a
 *    `conv_id = '…'` SELECT on a 10^6-file table parses only the manifests
 *    whose range covers that key and scans only their matching files;
 *  - every filter that references merge-key columns only (comparisons,
 *    `In`, null tests and their `And`/`Or`/`Not` combinations) filters the
 *    fold's INPUT. Exact: the fold groups on the full key tuple, so a
 *    predicate on key columns keeps or drops each group whole;
 *  - the fold reads and resolves only the key columns, the row metadata
 *    (`_lsn`, `_deleted`; `_cell_lsn`, `_del_lsn` on sparse tables) and the
 *    requested columns. Exact: the winner of a key is picked by lsn (per
 *    cell on sparse tables) and lsns are unique, so dropping payload columns
 *    never changes which row or cell wins.
 * Predicates on any non-key column stay above the fold — below it they
 * would drop a key's newer version and resurrect an older one. Every filter
 * is still reported back as residual, so Spark re-applies all of them to
 * the resolved rows.
 * Options: `versionAsOf` time-travels the scan.
 *
 * Write: `INSERT INTO` / append = one upsert epoch through [[MergeInto]]
 * under the `"sql-writer"` checkpoint lineage, max-LSN-wins against rows
 * already in the table — ratchet's ON-DUPLICATE-KEY load path expressed as
 * a merge epoch. LSNs are auto-assigned above the table's current maximum
 * (statement arrival order, like the reference's auto-increment context);
 * deletes and explicit LSNs stay on the programmatic merge API.
 *
 * Streaming read: `spark.readStream.format("graft").load(dir)` tails the
 * table's CDC-out feed ([[GraftStreamSource]]). The provider's table does not
 * advertise MICRO_BATCH_READ, so the planner falls back to this V1
 * [[StreamSourceProvider]] — the same V1-fallback family as the batch
 * [[V1Scan]], keeping every physical read on the lake's own resolved plans.
 *
 * Streaming write: `df.writeStream.format("graft").option("path", dir)`
 * merges each micro-batch as one idempotent epoch ([[GraftStreamSink]]) —
 * readStream + writeStream over the same format chain pipelines end to end.
 */
final class GraftDataSource extends TableProvider with DataSourceRegister
    with StreamSourceProvider with StreamSinkProvider {
  override def shortName(): String = "graft"

  override def createSink(ctx: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "graft sink: partitionBy is not supported — files are range-placed " +
        "and key-sorted by the merge itself")
    require(outputMode != OutputMode.Complete(),
      "graft sink: Complete output mode is not supported; Append/Update " +
        "rows upsert by merge key")
    // before the query exists: its checkpoint logs take their filesystem
    // from the Hadoop configuration at start
    LocalFs.install(ctx.sparkSession)
    val dir = pathOf(parameters)
    def opt(k: String): Option[String] =
      parameters.collectFirst { case (n, v) if n.equalsIgnoreCase(k) => v }
    // ckptId anchors the exactly-once ledger; derived from the stream's own
    // checkpoint so epoch ids and the ledger share one lifetime
    val checkpoint = opt("checkpointLocation")
    val ckptId = opt("ckptId")
      .orElse(checkpoint.map(c => "sink-" + graft.stream.CdcIngestJob.ckptId(c)))
      .getOrElse(throw new IllegalArgumentException(
        "graft sink: a checkpointLocation (or explicit ckptId option) is required"))
    val mode = opt("mode").getOrElse("mor") match {
      case m if m.equalsIgnoreCase("mor") => graft.merge.MergeMode.Mor
      case m if m.equalsIgnoreCase("cow") => graft.merge.MergeMode.Cow
      case m => throw new IllegalArgumentException(
        s"graft sink: unknown mode '$m' (use mor or cow)")
    }
    // trigger-fired folds run out of band, as the ingest's do: a stream must
    // never stall an epoch behind an O(table) fold
    val opts = MergeOptions(mode = mode, foldAsync = true)
    val keyCols = opt("keyCols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    new GraftStreamSink(ctx.sparkSession, dir, ckptId, opts, keyCols,
      checkpoint.map(GraftStreamingShim.sourceRanges(ctx.sparkSession, _)))
  }

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    val dir = pathOf(parameters)
    (s"graft-changes[$dir]", GraftStreamSource.changeSchema(LakeTable.load(dir)))
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source = {
    val dir = pathOf(parameters)
    // Pin the resolved starting version in the checkpoint's source-metadata
    // dir on FIRST start: `startingVersion=latest` must mean the head at
    // stream definition, and a restart whose earlier runs committed no
    // batches (offset log empty) must NOT re-resolve "latest" and skip the
    // commits that landed in between.
    val starting = {
      val p = new org.apache.hadoop.fs.Path(metadataPath, "graft-starting-version")
      val fs = p.getFileSystem(ctx.sparkSession.sessionState.newHadoopConf())
      if (fs.exists(p)) {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
        finally in.close()
      } else {
        val v = GraftStreamSource.resolveStartingVersion(LakeTable.load(dir), parameters)
        val out = fs.create(p, false)
        try out.write(v.toString.getBytes("UTF-8")) finally out.close()
        v
      }
    }
    val maxVersions = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("maxVersionsPerBatch") => v.toLong
    }
    new GraftStreamSource(ctx, dir, starting, maxVersions)
  }

  private def pathOf(parameters: Map[String, String]): String = {
    val p = parameters.collectFirst { case (k, v) if k.equalsIgnoreCase("path") => v }
    require(p.isDefined, "graft: OPTION path (the lake table directory) is required")
    // the session catalog qualifies stored paths to file: URIs
    LocalFs.localPath(p.get).toString
  }

  private def dirOf(options: CaseInsensitiveStringMap): String =
    pathOf(options.asCaseSensitiveMap().asScala.toMap)

  private def versionOf(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("versionAsOf")).map(_.toLong)

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftSqlTable(dirOf(options), versionOf(options)).schema()

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    GraftSqlTable(dirOf(opts), versionOf(opts))
  }
}

private[spark] final case class GraftSqlTable(dir: String, versionAsOf: Option[Long])
    extends Table with SupportsRead with SupportsWrite {
  private lazy val table = LakeTable.load(dir)
  /** Parsed afresh per call: a table object outlives the query that
    * resolved it, and later queries must see later commits. */
  private def scanSnapshot: Snapshot =
    table.snapshot(versionAsOf.getOrElse(table.currentVersion))

  override def name(): String = s"graft.`$dir`"

  override def schema(): StructType = {
    // A missing table reports an empty schema instead of throwing: the
    // planner probes the V2 table (inferSchema) BEFORE falling back to the
    // V1 streaming sink, and that sink creates the table on first commit.
    // Batch read/write of a missing table still fails with the lake's named
    // error — both paths force the lazy load before touching data.
    if (!LakeTable.exists(dir)) return new StructType()
    scanSnapshot.payloadSchema
  }

  override def capabilities(): java.util.Set[TableCapability] =
    // BATCH_WRITE advertises writability to the planner; V1_BATCH_WRITE
    // routes the physical write through the InsertableRelation fallback
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.ACCEPT_ANY_SCHEMA).asJava

  // one snapshot for the builder's version, schema and key columns: a commit
  // landing mid-planning (say a schema-evolving epoch) cannot split them
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(table, scanSnapshot)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              require(!overwrite,
                "graft: INSERT OVERWRITE is not supported; use the merge API")
              require(versionAsOf.isEmpty,
                "graft: cannot write to a versionAsOf time-travel table")
              GraftSqlTable.upsert(table, data)
            }
          }
      }
    }
}

private[spark] object GraftSqlTable {
  /** One SQL append = one merge epoch under the "sql-writer" checkpoint.
    * Epoch ids continue that checkpoint's ledger; LSNs are assigned above
    * the table's current max so the batch wins over existing rows. */
  def upsert(table: LakeTable, data: DataFrame): Unit = synchronized {
    val spark = data.sparkSession
    val snap = table.currentSnapshot
    val opts = MergeOptions(keyCols = snap.keyCols,
      mode = graft.merge.MergeMode.Mor)
    // ACCEPT_ANY_SCHEMA means Spark hands the query's own output columns
    // through unresolved: `INSERT INTO … VALUES` arrives as col1..colN
    // (older planners: _c0.._cN). Positional mapping applies ONLY to that
    // SQL-literal shape — a DataFrame append whose column names share no
    // overlap with the payload schema used to be positionally mapped too,
    // silently landing misnamed columns in the wrong fields; it now fails
    // with the mismatch listed. Any name overlap stays by-name (add-column
    // schema evolution may introduce genuinely new columns alongside
    // existing ones).
    val payloadNames = snap.payloadSchema.fieldNames.toSeq
    val sqlLiteralShape = data.columns.forall(_.matches("col[0-9]+|_c[0-9]+"))
    val aligned =
      if (data.columns.exists(payloadNames.contains)) data
      else {
        require(sqlLiteralShape,
          s"graft: none of the write's columns " +
            s"(${data.columns.mkString(", ")}) resolve against the table's " +
            s"payload schema (${payloadNames.mkString(", ")}) — refusing a " +
            "silent positional mapping; rename the DataFrame columns (for " +
            "INSERT INTO … SELECT, alias the select list to the table's " +
            "column names). Bare `INSERT INTO … VALUES` keeps working: its " +
            "columns arrive as the SQL-literal shape col1..colN")
        require(data.columns.length == payloadNames.length,
          s"graft: positional INSERT has ${data.columns.length} columns; " +
            s"table expects ${payloadNames.mkString(", ")}")
        data.toDF(payloadNames: _*)
      }
    // snapshot-ref high-watermark: O(manifest count), parses no manifests
    val lsnBase = table.maxLsn(snap) + 1L
    val epoch = snap.epochHwm.getOrElse("sql-writer", -1L) + 1L
    val batch = aligned
      .withColumn(Schemas.OpCol, lit("U"))
      .withColumn(Schemas.LsnCol, lit(lsnBase) + monotonically_increasing_id())
    MergeInto.merge(spark, table, batch, "sql-writer", epoch, opts)
    ()
  }
}

private[spark] final class GraftScanBuilder(table: LakeTable, snap: Snapshot)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private val fullSchema = snap.payloadSchema
  private var required: StructType = fullSchema
  private var envelope: (Option[String], Option[String]) = (None, None)
  private var keyPredicate: Option[Column] = None
  private var used: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // empty projection (e.g. SELECT count(*)) still needs a row stream: the
    // first key column, which the fold reads anyway
    required = if (requiredSchema.isEmpty)
        StructType(fullSchema.filter(_.name == snap.keyCols.head))
      else requiredSchema
  }

  /** Conjunctive filters on the FIRST merge-key column tighten the encoded
    * key envelope used for manifest/file pruning; every filter over merge-key
    * columns only joins the pre-fold predicate. Everything is returned as
    * residual — Spark re-applies the predicates on the resolved rows. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val k1 = snap.keyCols.head
    val dt = fullSchema.fields.find(_.name == k1).map(_.dataType)
    if (dt.exists(KeyCodec.supports)) {
      val enc = (v: Any) => KeyCodec.encode(dt.get, v)
      def max(a: Option[String], b: String) =
        Some(a.filter(x => KeyCodec.compare(x, b) > 0).getOrElse(b))
      def min(a: Option[String], b: String) =
        Some(a.filter(x => KeyCodec.compare(x, b) < 0).getOrElse(b))
      filters.foreach {
        case EqualTo(`k1`, v) if v != null =>
          envelope = (max(envelope._1, enc(v)), min(envelope._2, enc(v)))
        case GreaterThan(`k1`, v) if v != null =>
          envelope = (max(envelope._1, enc(v)), envelope._2)
        case GreaterThanOrEqual(`k1`, v) if v != null =>
          envelope = (max(envelope._1, enc(v)), envelope._2)
        case LessThan(`k1`, v) if v != null =>
          envelope = (envelope._1, min(envelope._2, enc(v)))
        case LessThanOrEqual(`k1`, v) if v != null =>
          envelope = (envelope._1, min(envelope._2, enc(v)))
        case In(`k1`, vs) if vs.nonEmpty && vs.forall(_ != null) =>
          val es = vs.map(enc)
          envelope = (max(envelope._1, es.min(KeyCodec.ordering)),
            min(envelope._2, es.max(KeyCodec.ordering)))
        case _ => ()
      }
    }
    val onKeys = filters.flatMap(f =>
      if (f.references.forall(snap.keyCols.contains)) GraftScanBuilder.toColumn(f).map(f -> _)
      else None)
    keyPredicate = onKeys.map(_._2).reduceOption(_ && _)
    used = onKeys.map(_._1)
    filters
  }

  override def pushedFilters(): Array[Filter] = used

  override def build(): Scan = new V1Scan {
    private val (lo, hi) = envelope
    private val schema = required
    private val predicate = keyPredicate
    override def readSchema(): StructType = schema
    override def description(): String =
      s"graft v${snap.version} envelope=[${lo.getOrElse("-inf")},${hi.getOrElse("+inf")}]" +
        predicate.fold("")(p => s" preFold=$p")
    override def toV1TableScan[T <: BaseRelation with TableScan](
        ctx: SQLContext): T =
      new GraftRelation(ctx, schema,
        table.readAtIntersecting(ctx.sparkSession, snap, lo, hi, predicate,
          Some(schema.fieldNames.toSeq))).asInstanceOf[T]
  }
}

private[spark] object GraftScanBuilder {
  /** A filter as a Column with the same semantics, if its shape is one the
    * pre-fold predicate takes. */
  def toColumn(f: Filter): Option[Column] = {
    def c(a: String) = col(s"`${a.replace("`", "``")}`")
    f match {
      case EqualTo(a, v) => Some(c(a) === lit(v))
      case EqualNullSafe(a, v) => Some(c(a) <=> lit(v))
      case GreaterThan(a, v) => Some(c(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(c(a) >= lit(v))
      case LessThan(a, v) => Some(c(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(c(a) <= lit(v))
      case In(a, vs) => Some(c(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a) => Some(c(a).isNull)
      case IsNotNull(a) => Some(c(a).isNotNull)
      case And(l, r) => for (x <- toColumn(l); y <- toColumn(r)) yield x && y
      case Or(l, r) => for (x <- toColumn(l); y <- toColumn(r)) yield x || y
      case Not(x) => toColumn(x).map(!_)
      case _ => None
    }
  }
}

/** The scan's relation: `resolved` is the merge-on-read fold of the scan's
  * snapshot, restricted to its key predicate and projection. */
private[graft] final class GraftRelation(ctx: SQLContext, override val schema: StructType,
    val resolved: DataFrame) extends BaseRelation with TableScan {
  override def sqlContext: SQLContext = ctx
  override def needConversion: Boolean = false
  override def buildScan(): RDD[Row] =
    resolved.queryExecution.toRdd.asInstanceOf[RDD[Row]]
}
