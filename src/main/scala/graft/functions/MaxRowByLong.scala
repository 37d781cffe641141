package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types.{DataType, LongType}

/**
 * Native arg-max aggregate: the row-valued `value` of the input with the
 * greatest long `ord`. The engine's hottest operation (max-LSN-wins CDC
 * conflict resolution) — built-in `max_by` carries immutable-typed buffer
 * attributes, so HashAggregateExec rejects it and every merge epoch falls
 * back to SortAggregate (sorting all rows on both sides of the shuffle).
 * As a TypedImperativeAggregate this runs in ObjectHashAggregateExec: hash
 * lookup + compare per row, no sort, map-side partial combine intact.
 *
 * Buffer = (maxOrd, value as UnsafeRow bytes); serialize = 8-byte ord +
 * row bytes. Ties on `ord` keep the first-seen value: in the CDC engine lsn
 * ties only occur for duplicate deliveries carrying identical payloads, so
 * the result is deterministic (asserted by the generator's property tests).
 */
final class MaxRowBuffer(var ord: Long, var row: UnsafeRow, var set: Boolean)

case class MaxRowByLong(
    valueExpr: Expression,
    ordExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MaxRowBuffer] with BinaryLike[Expression] {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (ordExpr.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"max_row_by_long ord must be LongType, got ${ordExpr.dataType}")

  override def left: Expression = valueExpr
  override def right: Expression = ordExpr
  override def dataType: DataType = valueExpr.dataType
  override def nullable: Boolean = true
  override def prettyName: String = "max_row_by_long"

  @transient private lazy val proj = UnsafeProjection.create(Array(valueExpr.dataType))
  @transient private lazy val inputProj = UnsafeProjection.create(Seq(valueExpr))

  override def createAggregationBuffer(): MaxRowBuffer =
    new MaxRowBuffer(Long.MinValue, null, set = false)

  override def update(buf: MaxRowBuffer, input: InternalRow): MaxRowBuffer = {
    val o = ordExpr.eval(input)
    if (o != null) {
      val ord = o.asInstanceOf[Long]
      if (!buf.set || ord > buf.ord) {
        buf.ord = ord
        // one-field UnsafeRow wrapping the value (copied: eval may reuse)
        buf.row = inputProj(input).copy()
        buf.set = true
      }
    }
    buf
  }

  override def merge(buf: MaxRowBuffer, other: MaxRowBuffer): MaxRowBuffer = {
    if (other.set && (!buf.set || other.ord > buf.ord)) {
      buf.ord = other.ord
      buf.row = other.row
      buf.set = true
    }
    buf
  }

  override def eval(buf: MaxRowBuffer): Any =
    if (!buf.set) null else buf.row.get(0, valueExpr.dataType)

  override def serialize(buf: MaxRowBuffer): Array[Byte] = {
    if (!buf.set) return Array.emptyByteArray
    val rowBytes = buf.row.getBytes
    val out = new Array[Byte](8 + rowBytes.length)
    var i = 0
    var v = buf.ord
    while (i < 8) { out(i) = (v & 0xFF).toByte; v >>>= 8; i += 1 }
    System.arraycopy(rowBytes, 0, out, 8, rowBytes.length)
    out
  }

  override def deserialize(bytes: Array[Byte]): MaxRowBuffer = {
    if (bytes.isEmpty) return createAggregationBuffer()
    var ord = 0L
    var i = 7
    while (i >= 0) { ord = (ord << 8) | (bytes(i) & 0xFFL); i -= 1 }
    val row = new UnsafeRow(1)
    row.pointTo(bytes,
      org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + 8L, bytes.length - 8)
    new MaxRowBuffer(ord, row, set = true)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MaxRowByLong =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MaxRowByLong =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MaxRowByLong =
    copy(valueExpr = newLeft, ordExpr = newRight)
}

/** Session-scoped registration so the aggregate is usable via `expr(...)`. */
object GraftFunctions {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  val MaxRowByLongName = "max_row_by_long"

  /** `max_row_by_long`'s name, info and builder, for the session registry
    * and for `SparkSessionExtensions.injectFunction` alike. */
  val maxRowByLong: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier(MaxRowByLongName),
    new ExpressionInfo(classOf[MaxRowByLong].getName, MaxRowByLongName),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2, s"$MaxRowByLongName(value, ord) takes 2 args")
      MaxRowByLong(exprs.head, exprs(1))
    })

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    val (id, info, builder) = maxRowByLong
    if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
  }
}
