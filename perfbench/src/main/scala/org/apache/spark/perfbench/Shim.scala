package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains Spark's listener bus (an internal API) so the benchmark reads its
  * listeners only after every event of a window has been delivered. */
object Shim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
