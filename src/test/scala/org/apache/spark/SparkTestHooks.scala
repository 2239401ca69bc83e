package org.apache.spark

/** Test access to two `private[spark]` members, hence this file's
  * package: draining the listener bus (query-execution listeners are
  * called asynchronously from it), and unsetting a checkpoint directory
  * (Spark offers no public way back to "none", and every suite shares
  * one SparkContext in the forked test JVM).
  */
object SparkTestHooks {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def clearCheckpointDir(sc: SparkContext): Unit = sc.checkpointDir = None
}
