package graft.merge

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32

import graft.lake.{DataFile, KeyCodec}

/**
 * Where a write's one exchange sends each key ([[MergeInto.resolveExchanged]]).
 * Every placement is a function of the key alone, so all versions of a key
 * meet in one partition and the in-partition dedup is exact.
 */
sealed trait Placement

object Placement {

  /** `repartitionByRange` on the full key tuple: tight, key-sorted files for
    * long-lived base files, at the price of a boundary-sampling job. */
  case object ByRange extends Placement

  /** Hash on the full key tuple: no sampling job, but every output file
    * spans the whole keyspace. */
  case object ByHash extends Placement

  /**
   * By the base files' first-key ranges: group `g` takes the first keys in
   * `(bounds(g - 1), bounds(g)]` (group 0 is unbounded below, the last group
   * above) and spreads them over `counts(g)` partitions by a hash of the
   * full key tuple, so a hot first key still spreads over its group's
   * partitions. Each output file then lies inside one group, so a point
   * read's envelope pruning keeps one group's files per epoch.
   *
   * The exchange is a plain hash exchange on [[column]]: an integer chosen
   * on the driver per partition so that Spark's `pmod(murmur3(x), n)` sends
   * it to exactly that partition — no sampling job, one exchange.
   */
  final case class ByBase(keyType: DataType, bounds: IndexedSeq[String],
      counts: IndexedSeq[Int]) extends Placement {
    require(bounds.size == counts.size - 1 && counts.forall(_ >= 1))

    def partitions: Int = counts.sum

    /** The group of `k1`, the first key column: a binary search over the
      * bounds in KeyCodec order (UTF-8 bytes, or numbers). A function, not
      * a tree of comparisons, so the generated code is the same for every
      * placement and a new epoch's bounds compile nothing. A null first key
      * lands in the last group. */
    def groupIndex(k1: Column): Column = {
      val n = bounds.size
      if (keyType == StringType) {
        val bs = bounds.map(_.getBytes(StandardCharsets.UTF_8)).toArray
        udf((k: Array[Byte]) =>
          if (k == null) n else countBelow(n, i => KeyCodec.compareBytes(bs(i), k) < 0))
          .apply(k1.cast(BinaryType))
      } else {
        val bs = bounds.map(KeyCodec.decodeLong).toArray
        udf((k: java.lang.Long) => if (k == null) n else countBelow(n, i => bs(i) < k))
          .apply(k1.cast(LongType))
      }
    }

    /** The exchange column for rows keyed by `keyCols`. */
    def column(keyCols: Seq[String]): Column = {
      val g = groupIndex(col(keyCols.head)) + 1
      val slot = element_at(typedLit(counts.scanLeft(0)(_ + _).init.toArray), g) +
        pmod(hash(keyCols.map(col): _*), element_at(typedLit(counts.toArray), g))
      element_at(typedLit(hashSeeds(partitions)), slot + 1)
    }
  }

  /**
   * The key ranges of `base` for [[graft.lake.Snapshot.baseRanges]]: the
   * distinct maxima of the files' first-key intervals, when every bound is
   * known and the intervals are disjoint apart from shared endpoints (what
   * a range fold leaves); range `i` holds the first keys in
   * `(maxima(i - 1), maxima(i)]`. Empty otherwise (no base, a hash-folded
   * base, unknown bounds). Adjacent ranges merge down to at most
   * [[MaxRanges]].
   */
  def rangesOf(base: Seq[DataFile]): List[String] = {
    if (base.isEmpty || base.exists(f => f.minKey == null || f.maxKey == null)) return Nil
    val sorted = base.sortWith { (a, b) =>
      val c = KeyCodec.compare(a.minKey, b.minKey)
      c < 0 || c == 0 && KeyCodec.compare(a.maxKey, b.maxKey) < 0
    }
    val disjoint = sorted.zip(sorted.tail)
      .forall { case (a, b) => KeyCodec.compare(b.minKey, a.maxKey) >= 0 }
    if (!disjoint) Nil
    else {
      val maxima = sorted.map(_.maxKey).foldLeft(Vector.empty[String]) { (acc, m) =>
        if (acc.lastOption.contains(m)) acc else acc :+ m
      }
      if (maxima.size <= MaxRanges) maxima.toList
      else (1 to MaxRanges).map(j => maxima(j * maxima.size / MaxRanges - 1)).toList
    }
  }

  /** Bounds [[graft.lake.Snapshot.baseRanges]], which every snapshot
    * carries: 256 ranges of 24-byte keys add ~7 KB. */
  private[graft] val MaxRanges = 256

  /**
   * Rows per key range that an earlier epoch wrote, range `i` holding the
   * first keys in `(bounds(i - 1), bounds(i)]` ([[MergeInto]] counts them per
   * [[ByBase]] group in the epoch's write job): the estimate of where the
   * next epoch's rows land, which the base files' layout cannot give — a hot
   * key's updates, or new keys above the base's maximum, all fall into one
   * range.
   */
  final case class Loads(bounds: IndexedSeq[String], rows: IndexedSeq[Double]) {
    require(rows.size == bounds.size + 1)

    /** The rows carried over to the ranges split by `to`: each range's rows
      * are shared evenly by the ranges of `to` that overlap it. */
    def over(to: IndexedSeq[String]): IndexedSeq[Double] =
      if (to == bounds) rows
      else {
        // (a(i - 1), a(i)] and (b(j - 1), b(j)] overlap; ends unbounded
        def overlaps(a: IndexedSeq[String], i: Int, b: IndexedSeq[String], j: Int): Boolean =
          (i == 0 || j == b.size || KeyCodec.compare(a(i - 1), b(j)) < 0) &&
            (j == 0 || i == a.size || KeyCodec.compare(b(j - 1), a(i)) < 0)
        val out = Array.fill(to.size + 1)(0.0)
        rows.indices.foreach { i =>
          val hit = (0 to to.size).filter(j => overlaps(bounds, i, to, j))
          hit.foreach(j => out(j) += rows(i) / hit.size)
        }
        out.toIndexedSeq
      }
  }

  /**
   * The placement of a merge-on-read epoch's `nOut` partitions over the
   * base's key `ranges` ([[rangesOf]]): [[ByHash]] without ranges, else
   * [[ByBase]]. The ranges' expected rows (`loads`; equal without them) are
   * cut into `nOut` equal slices: a range holding the midpoints of `m`
   * slices becomes a group of `m` hash sub-partitions, and a range holding
   * none joins the next group (the last group when none follows). So the
   * epoch writes `nOut` partitions, as the hash exchange would, and a range
   * gets partitions by its share of the rows: with equal loads the ranges
   * thin to `nOut` groups, or split into `nOut / ranges` or one more
   * sub-partitions, and a range with a hot key gets more.
   */
  def forDeltas(ranges: Seq[String], keyType: DataType, nOut: Int,
      loads: Option[Loads] = None): Placement = {
    val rs = ranges.toIndexedSeq
    if (rs.isEmpty) return ByHash
    val w = loads.map(_.over(rs.init)).filter(_.sum > 0).getOrElse(rs.map(_ => 1.0))
    val cum = w.scanLeft(0.0)(_ + _).tail
    // the range holding slice j's midpoint: non-decreasing in j
    val owner = (0 until nOut).map { j =>
      val i = cum.indexWhere(_ > (j + 0.5) * cum.last / nOut)
      if (i < 0) rs.size - 1 else i
    }
    val owners = owner.distinct
    // group g ends with range owners(g); the last group is open above
    ByBase(keyType, owners.init.map(rs), owners.map(o => owner.count(_ == o)))
  }

  /** The number of leading indices `i < n` where `below(i)` holds, for a
    * `below` true on a prefix of `0 until n` (a binary search). */
  private def countBelow(n: Int, below: Int => Boolean): Int = {
    var lo = 0
    var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (below(mid)) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** `x(p)` for each partition `p < n`: the least non-negative int that
    * Spark's hash partitioning into `n` partitions (murmur3, seed 42, then
    * pmod) sends to `p`. */
  private[graft] def hashSeeds(n: Int): Array[Int] = {
    val seeds = Array.fill(n)(-1)
    var left = n
    var x = 0
    while (left > 0) {
      val p = Math.floorMod(Murmur3_x86_32.hashInt(x, 42), n)
      if (seeds(p) < 0) { seeds(p) = x; left -= 1 }
      x += 1
    }
    seeds
  }
}
