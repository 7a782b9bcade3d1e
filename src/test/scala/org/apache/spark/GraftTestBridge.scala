package org.apache.spark

/** Test-only bridge to `private[spark]` members, compiled into test sources
  * only. `SparkContext.checkpointDir` has no public clear API, but specs that
  * flip the shared session into reliable-checkpoint mode must restore it so
  * later suites keep using localCheckpoint. Listener events are delivered
  * asynchronously, so a spec that counts them must drain the bus first.
  */
object GraftTestBridge {
  def checkpointDir(sc: SparkContext): Option[String] = sc.checkpointDir
  def setCheckpointDir(sc: SparkContext, dir: Option[String]): Unit =
    sc.checkpointDir = dir
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
