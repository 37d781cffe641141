package graft.lake

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.types._

/**
 * Order-preserving string encoding for manifest key bounds, with ONE
 * comparison rule everywhere: unsigned UTF-8 byte order.
 *
 * Why not plain `String.compareTo`: parquet footer statistics and Spark's
 * internal string min/max are both computed in UTF-8 binary order, while
 * Java compares UTF-16 code units. The orders disagree for supplementary
 * characters (surrogate pairs sort below U+E000..U+FFFF in UTF-16 but above
 * all BMP text in UTF-8), so mixing the two can classify a file holding a
 * batch key as untouched — a stale row would silently survive a merge.
 * Encoding + comparison live in one place so manifest bounds, batch min/max
 * and pruning can never drift apart again.
 *
 * Integral keys are encoded as sign-flipped unsigned decimals padded to 20
 * digits, so their byte order equals numeric order and non-string merge keys
 * prune files instead of rewriting the whole table.
 */
object KeyCodec {

  /** Key types whose bounds we can encode order-preservingly. Anything else
    * disables file pruning (safe: every file is treated as touched). */
  def supports(dt: DataType): Boolean = dt match {
    case StringType | ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  def encode(dt: DataType, v: Any): String = (dt, v) match {
    case (StringType, s: String) => s
    case (StringType, u) => u.toString // UTF8String from internal rows
    case (_, n: Number) => encodeLong(n.longValue())
    case _ => throw new IllegalArgumentException(s"unsupported key: $dt / $v")
  }

  /** sign-flip + zero-padded unsigned decimal: byte order == numeric order */
  def encodeLong(v: Long): String = {
    val u = java.lang.Long.toUnsignedString(v ^ Long.MinValue)
    "0" * (20 - u.length) + u
  }

  /** Inverse of [[encodeLong]]. */
  def decodeLong(s: String): Long = java.lang.Long.parseUnsignedLong(s) ^ Long.MinValue

  /** Unsigned UTF-8 byte-order comparison (the single ordering rule). */
  def compare(a: String, b: String): Int =
    compareBytes(a.getBytes(StandardCharsets.UTF_8), b.getBytes(StandardCharsets.UTF_8))

  /** [[compare]] of already-encoded UTF-8 bytes. */
  def compareBytes(x: Array[Byte], y: Array[Byte]): Int = {
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xFF) - (y(i) & 0xFF)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  val ordering: Ordering[String] = (a: String, b: String) => compare(a, b)
}
