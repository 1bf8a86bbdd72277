package org.apache.spark

/** Test access to the one listener-bus call specs need: wait until every
  * event posted so far has been delivered, so a listener's counts are
  * complete when the spec reads them. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
