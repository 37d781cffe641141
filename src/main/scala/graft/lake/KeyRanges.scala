package graft.lake

/**
 * The one rule for "may this file (or manifest) hold a key this change
 * touches": sorted, merged, closed intervals of first-key values in
 * [[KeyCodec]] encoding and order. A null interval end is unbounded on that
 * side; a null FILE bound means "unknown", so such a file always touches.
 *
 * Every driver-side pruning decision goes through [[touches]]: copy-on-write
 * merges (a batch's exact key set is a list of point intervals, else its
 * span), scoped delta folds (the union of the deltas' intervals), commits
 * (the removed files' intervals decide which manifests to parse) and reads
 * (the scan's key envelope). A manifest's range contains each member file's
 * range, so a manifest the ranges do not touch holds no touched file.
 */
final class KeyRanges private (los: Array[String], his: Array[String]) {

  /** True when some interval intersects `[minKey, maxKey]`, or either bound
    * is unknown (null). */
  def touches(minKey: String, maxKey: String): Boolean =
    minKey == null || maxKey == null || {
      // the first interval whose hi >= minKey; it intersects iff lo <= maxKey
      // (after merging both ends strictly increase, so a binary search works)
      var l = 0
      var r = his.length
      while (l < r) {
        val m = (l + r) >>> 1
        if (his(m) != null && KeyCodec.compare(his(m), minKey) < 0) l = m + 1 else r = m
      }
      l < los.length && (los(l) == null || KeyCodec.compare(los(l), maxKey) <= 0)
    }

  def touches(f: DataFile): Boolean = touches(f.minKey, f.maxKey)

  def touches(m: ManifestRef): Boolean = touches(m.minKey, m.maxKey)

  override def toString: String =
    los.indices.map(i => s"[${Option(los(i)).getOrElse("-inf")}, " +
      s"${Option(his(i)).getOrElse("+inf")}]").mkString("KeyRanges(", ", ", ")")
}

object KeyRanges {

  /** Every key. */
  val All: KeyRanges = new KeyRanges(Array(null), Array(null))

  /** The union of closed intervals `(lo, hi)`; a null end is unbounded. */
  def of(intervals: Seq[(String, String)]): KeyRanges = {
    val sorted = intervals.sortWith { case ((a, _), (b, _)) =>
      a == null && b != null || a != null && b != null && KeyCodec.compare(a, b) < 0
    }
    val los = scala.collection.mutable.ArrayBuffer.empty[String]
    val his = scala.collection.mutable.ArrayBuffer.empty[String]
    sorted.foreach { case (lo, hi) =>
      val last = his.size - 1
      if (last >= 0 && (his(last) == null || lo == null ||
          KeyCodec.compare(lo, his(last)) <= 0)) {
        if (his(last) != null && (hi == null || KeyCodec.compare(hi, his(last)) > 0))
          his(last) = hi
      } else { los += lo; his += hi }
    }
    new KeyRanges(los.toArray, his.toArray)
  }

  /** An exact key set: one point interval per key. */
  def points(keys: Seq[String]): KeyRanges = of(keys.map(k => (k, k)))

  /** One interval; `None` leaves that side unbounded. */
  def span(lo: Option[String], hi: Option[String]): KeyRanges =
    of(Seq((lo.orNull, hi.orNull)))

  /** The union of `files`' intervals — [[All]] when any bound is unknown,
    * since an unknown file may hold any key. */
  def covering(files: Seq[DataFile]): KeyRanges =
    if (files.exists(f => f.minKey == null || f.maxKey == null)) All
    else of(files.map(f => (f.minKey, f.maxKey)))
}
