package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** What one finished task cost, as Spark's task metrics report it. */
final case class TaskCost(stage: Int, spanId: Long, durMs: Long, runMs: Long,
    cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long)

/**
 * Executor-side cost from Spark's public listener API: every task's metrics,
 * tagged with the benchmark span its job was launched under. Collects only
 * while `enabled`, so the untraced run pays nothing but the registration.
 */
final class ExecListener extends SparkListener {
  @volatile var enabled: Boolean = false
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val tasks = mutable.ArrayBuffer.empty[TaskCost]
  private var jobs = 0

  def reset(): Unit = synchronized {
    tasks.clear(); stageSpan.clear(); jobs = 0
  }
  def taskCosts: Seq[TaskCost] = synchronized(tasks.toList)
  def jobCount: Int = synchronized(jobs)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
    jobs += 1
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    e.stageIds.foreach(s => stageSpan(s) = span)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    val m = e.taskMetrics
    if (m != null) synchronized {
      tasks += TaskCost(e.stageId, stageSpan.getOrElse(e.stageId, 0L),
        e.taskInfo.duration, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled)
      ()
    }
  }
}

/** One micro-batch as its streaming progress report describes it. */
final case class Epoch(query: String, batchId: Long, startMs: Long, rows: Long,
    durations: Map[String, Long]) {
  def wallMs: Long = durations.getOrElse("triggerExecution", 0L)
}

/** Streaming progress (`durationMs` per trigger phase) of every query. */
final class StreamListener extends StreamingQueryListener {
  @volatile var enabled: Boolean = false
  private val buf = mutable.ArrayBuffer.empty[Epoch]

  def reset(): Unit = synchronized(buf.clear())
  def epochs: Seq[Epoch] = synchronized(buf.toList)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (enabled) {
      val p = e.progress
      // a trigger that found no new data reports no addBatch: not an epoch
      if (p.durationMs.containsKey("addBatch")) {
        import scala.jdk.CollectionConverters._
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        synchronized { buf += Epoch(p.name, p.batchId, start, p.numInputRows, d); () }
      }
    }
}
