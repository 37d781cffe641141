package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext

/**
 * One timed interval. Times are wall-clock microseconds since the epoch, so
 * spans measured here and spans rebuilt from Spark's progress reports share
 * one axis. `synthesized` marks spans rebuilt from numbers the program
 * reports about itself (streaming progress, `MergeStats`) rather than timed
 * around a call by the benchmark.
 */
final case class Span(id: Long, name: String, start: Long, end: Long,
    parent: Long, trace: Long, synthesized: Boolean) {
  def layer: String = name.takeWhile(_ != '.')
  def dur: Long = end - start
}

object Span {
  def nowMicros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** Self time of every span: its duration minus the part of its interval
    * that its children cover (overlapping children are counted once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** Self time summed per layer, in seconds. */
  def layerSelfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e6 }
  }
}

/**
 * In-memory span recorder. `span` times a call into one layer; while it runs,
 * the span id rides the calling thread's Spark local properties, so jobs the
 * call launches carry it (see [[ExecListener]]).
 *
 * Attribution limit: a thread sees the local properties of the thread that
 * created it. Spark's streaming thread is created inside the drain span and
 * so carries it, but the engine's single maintenance thread is created by
 * whichever streaming epoch first queues a fold, and every later async fold
 * or vacuum job carries that stream's properties, not a fold span. Fold cost
 * is therefore read from the table's `_metrics/fold-*.json` records, not
 * from job properties.
 */
final class Tracer(sc: SparkContext) {
  @volatile var enabled: Boolean = false
  private val ids = new AtomicLong(0)
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  def spans: Seq[Span] = synchronized(buf.toList)
  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = synchronized { buf += s; () }

  /** Time `f` as span `name` (child of the caller's open span, if any). */
  def span[A](name: String)(f: => A): A = {
    if (!enabled) f
    else {
      val id = nextId()
      val outer = stack.get()
      val (parent, trace) = outer.headOption.getOrElse((0L, id))
      val prevProp = sc.getLocalProperty(Tracer.SpanProp)
      stack.set((id, trace) :: outer)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val t0 = Span.nowMicros()
      try f
      finally {
        add(Span(id, name, t0, Span.nowMicros(), parent, trace, synthesized = false))
        stack.set(outer)
        sc.setLocalProperty(Tracer.SpanProp, prevProp)
      }
    }
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  def toJson(spans: Seq[Span]): String =
    spans.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_us":${s.start},"end_us":${s.end},""" +
        s""""parent":${s.parent},"trace":${s.trace},"synthesized":${s.synthesized}}"""
    }.mkString("[\n", ",\n", "\n]\n")
}
