package graft.merge

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.lake.{Compaction, LakeTable, Snapshot}

/** The `_metrics` record of a failed maintenance task (`op` = "fold-failed",
  * "vacuum-failed") or a skipped vacuum sweep ("vacuum-sweep-skipped"): the
  * error's class and message, the thread it ran on and when (epoch ms). */
final case class MaintenanceFailure(
    op: String,
    errorClass: String,
    message: String,
    thread: String,
    timeMs: Long)

/** Table maintenance off the epoch's critical path: the merge-on-read fold
  * trigger, the one thread that runs folds and vacuums out of band
  * ([[MergeOptions.foldAsync]]), and the records of steps that failed. */
object Maintenance {

  /** Fold `table`'s deltas into its base when `committed` is past either of
    * `opts`' MoR thresholds: inline, or queued on the maintenance thread
    * with `opts.foldAsync`. The trigger math rides the committed snapshot's
    * manifest refs — no file listing. */
  private[merge] def foldIfDue(spark: SparkSession, table: LakeTable, committed: Snapshot,
      opts: MergeOptions): Unit = {
    val deltaFiles = committed.manifests.map(_.deltaFiles).sum
    val deltaRows = committed.manifests.map(_.deltaRows).sum
    val baseRows = committed.manifests.map(_.rows).sum - deltaRows
    // ratio trigger only once a base EXISTS: with an empty base a "fold"
    // is a pure relabel (deltas -> base, same file count, no read-amp
    // gain) that rewrites every ingested row — measured as the single
    // largest cost of a from-empty ingest window. Until the first real
    // fold, the file-count trigger bounds read fan-in on its own.
    if (deltaFiles > opts.morCompactMaxDeltaFiles ||
        (baseRows > 0 && deltaRows > baseRows * opts.morCompactDeltaRatio)) {
      val fold = () => {
        Compaction.foldDeltas(spark, table, opts.targetRowsPerFile, opts.minRowsPerFile); ()
      }
      if (opts.foldAsync) submit(table, "fold")(fold) else fold()
    }
  }

  /** Single maintenance thread for out-of-band folds/vacuums: daemon so a
    * finished driver never hangs on it, one thread so two maintenance jobs
    * never race each other's commit (cross-PROCESS races remain covered by
    * the rebase retry). */
  private lazy val pool = java.util.concurrent.Executors
    .newSingleThreadExecutor { r =>
      val t = new Thread(r, "graft-maintenance"); t.setDaemon(true); t
    }
  /** (table dir, op) pairs with a maintenance task queued or running */
  private val inFlight =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()

  /** Queue `task` (the maintenance op `op`, e.g. "fold") for `table` unless
    * the same op is already pending for it — a trigger firing mid-fold is
    * absorbed, not queued behind it (the running fold already shrinks the
    * delta backlog; the next epoch re-evaluates the trigger). Another op is
    * queued: a vacuum due while a fold is pending runs after it on the one
    * thread, rather than waiting for its next cadence. A failure clears the
    * flag and is recorded, not rethrown: maintenance is best-effort by design
    * (the stream's correctness never depends on a fold), so the table's
    * `_metrics` get a [[MaintenanceFailure]] record (op `"<op>-failed"`). */
  private[graft] def submit(table: LakeTable, op: String)(task: () => Unit): Unit = {
    val key = (table.dir, op)
    if (inFlight.add(key)) pool.submit(new Runnable {
      override def run(): Unit =
        try task()
        catch {
          case e: Throwable =>
            System.err.println(s"[graft] maintenance task $op for ${table.dir} failed: $e")
            record(table, s"$op-failed", e)
        } finally {
          inFlight.remove(key); ()
        }
    })
  }

  /** Drain the maintenance queue (tests, bounded-lifecycle jobs): returns
    * once every task submitted before the call has finished. */
  def await(): Unit = {
    pool.submit(new Runnable { override def run(): Unit = () }).get()
    ()
  }

  /** Write `table`'s [[MaintenanceFailure]] record of `op` failing with `e`.
    * Never throws: a record that cannot be written is reported on stderr. */
  private[graft] def record(table: LakeTable, op: String, e: Throwable): Unit = {
    val failed = MaintenanceFailure(op, e.getClass.getName, String.valueOf(e.getMessage),
      Thread.currentThread.getName, System.currentTimeMillis())
    try table.writeMetrics(f"${failed.op}-${failed.timeMs}%013d-${System.nanoTime()}%x.json", failed)
    catch {
      case NonFatal(w) =>
        System.err.println(s"[graft] could not record $op for ${table.dir}: $w")
    }
  }
}
