package graft

import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{DataFile, KeyCodec, KeyRanges}

/**
 * The one key-range rule behind CoW pruning, scoped folds, commits and
 * scans: a file touches the ranges iff its [minKey, maxKey] intersects one
 * of them, or a bound is unknown.
 */
class KeyRangesSpec extends AnyFunSuite {

  private def enc(i: Int): String = KeyCodec.encode(StringType, f"k$i%04d")
  private def file(lo: Int, hi: Int): DataFile =
    DataFile(s"f-$lo-$hi", 1L, enc(lo), enc(hi), 0L, 0L, 0L)

  test("key points touch exactly the files holding one of the keys") {
    val r = KeyRanges.points(Seq(enc(30), enc(10), enc(20), enc(20)))
    assert(r.touches(file(10, 10)) && r.touches(file(5, 10)) && r.touches(file(20, 25)))
    assert(r.touches(file(0, 100)))
    assert(!r.touches(file(11, 19)) && !r.touches(file(21, 29)))
    assert(!r.touches(file(0, 9)) && !r.touches(file(31, 40)))
    assert(!KeyRanges.points(Nil).touches(file(0, 100)), "no keys touch no known file")
  }

  test("a span touches every file it overlaps, closed at both ends") {
    val r = KeyRanges.span(Some(enc(10)), Some(enc(20)))
    Seq((0, 10), (20, 30), (12, 14), (0, 99)).foreach { case (lo, hi) =>
      assert(r.touches(file(lo, hi)), s"[$lo, $hi]")
    }
    Seq((0, 9), (21, 30)).foreach { case (lo, hi) =>
      assert(!r.touches(file(lo, hi)), s"[$lo, $hi]")
    }
  }

  test("overlapping and adjacent file intervals merge into one range") {
    val merged = KeyRanges.covering(Seq(file(10, 20), file(15, 30), file(30, 40), file(60, 70)))
    assert(merged.toString ==
      s"KeyRanges([${enc(10)}, ${enc(40)}], [${enc(60)}, ${enc(70)}])")
    assert(merged.touches(file(35, 38)) && merged.touches(file(41, 60)))
    assert(!merged.touches(file(41, 59)) && !merged.touches(file(71, 80)))
    // an interval nested in another adds nothing
    assert(KeyRanges.covering(Seq(file(10, 40), file(20, 30))).toString ==
      s"KeyRanges([${enc(10)}, ${enc(40)}])")
  }

  test("half-open bounds are unbounded on the open side") {
    val from = KeyRanges.span(Some(enc(50)), None)
    assert(from.touches(file(49, 50)) && from.touches(file(900, 999)))
    assert(!from.touches(file(0, 49)))
    val upTo = KeyRanges.span(None, Some(enc(50)))
    assert(upTo.touches(file(0, 1)) && upTo.touches(file(50, 60)))
    assert(!upTo.touches(file(51, 60)))
    // an unbounded end absorbs every interval on its side
    assert(KeyRanges.of(Seq((enc(5), enc(6)), (enc(50), null), (enc(70), enc(80)))).toString ==
      s"KeyRanges([${enc(5)}, ${enc(6)}], [${enc(50)}, +inf])")
    assert(KeyRanges.All.touches(file(0, 9999)))
  }

  test("a null file bound is unknown and always touches") {
    val r = KeyRanges.points(Seq(enc(10)))
    assert(r.touches(null, enc(5)) && r.touches(enc(50), null) && r.touches(null, null))
    assert(r.touches(DataFile("u", 1L, null, null, 0L, 0L, 0L)))
    // one unknown file among the covered ones: every key may be touched
    assert(KeyRanges.covering(Seq(file(1, 2), DataFile("u", 1L, null, enc(3), 0L, 0L, 0L)))
      .touches(file(500, 600)))
  }

  test("touches agrees with a brute-force intersection over random intervals") {
    val rnd = new scala.util.Random(11)
    (0 until 300).foreach { _ =>
      val ivs = Seq.fill(rnd.nextInt(6)) {
        val a = rnd.nextInt(100); (a, a + rnd.nextInt(10))
      }
      val r = KeyRanges.of(ivs.map { case (a, b) => (enc(a), enc(b)) })
      val a = rnd.nextInt(110); val b = a + rnd.nextInt(15)
      val want = ivs.exists { case (lo, hi) => lo <= b && hi >= a }
      assert(r.touches(file(a, b)) == want, s"$ivs vs [$a, $b]")
    }
  }
}
