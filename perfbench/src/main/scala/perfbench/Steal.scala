package perfbench

/**
 * CPU time the hypervisor gave to other guests while this VM's CPUs were
 * runnable ("steal", from the aggregate line of /proc/stat). On a shared VM
 * it swings from a few percent to a third of the runnable time within
 * minutes, and every timing of a CPU-bound run stretches with it. The
 * benchmark scales each timed interval by (1 − stolen share of that
 * interval), i.e. reports the time the work took on the CPU it was actually
 * given, so a co-tenant's load does not read as a regression; the share
 * itself is traced as `host.steal_frac`.
 */
object Steal {
  final case class Mark(steal: Long, runnable: Long)

  def mark(): Mark = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
    finally src.close()
    // user nice system idle iowait irq softirq steal ...
    val steal = if (f.length > 7) f(7) else 0L
    Mark(steal, f(0) + f(1) + f(2) + f(5) + f(6) + steal)
  }

  /** Share of the runnable CPU time between two marks that was stolen. */
  def share(a: Mark, b: Mark): Double = {
    val run = b.runnable - a.runnable
    if (run <= 0) 0.0 else math.min(0.95, (b.steal - a.steal).toDouble / run)
  }

  /** Run `f`; return its result, its steal-adjusted seconds and the share. */
  def timed[A](f: => A): (A, Double, Double) = {
    val m0 = mark()
    val (r, secs) = Util.secondsOf(f)
    val s = share(m0, mark())
    (r, secs * (1 - s), s)
  }
}
