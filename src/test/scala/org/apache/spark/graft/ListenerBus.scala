package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Drains Spark's listener bus (an internal API), so a test reads its
  * listener only after every event of the jobs it ran has been delivered. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
