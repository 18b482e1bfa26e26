package org.apache.spark.grafttest

import org.apache.spark.SparkContext

/** Test-only access to the private[spark] listener bus: waits until every
  * queued event has been delivered, so a listener's counts are complete
  * before a spec reads them. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
