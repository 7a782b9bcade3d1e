package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one scheduler internal the benchmark needs: waiting until the
  * listener bus has delivered every event posted so far, so counters read
  * after a timed region are complete. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
