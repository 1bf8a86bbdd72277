package org.apache.spark

/** The one Spark-internal call the benchmark needs: waiting until every
  * listener event posted so far has been delivered, so that task and
  * query events are attributed to the request that produced them. */
object BenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
