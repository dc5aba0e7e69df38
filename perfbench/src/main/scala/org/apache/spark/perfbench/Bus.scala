package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered.
  * Listener delivery is asynchronous; the benchmark reads its counters
  * only after the timed pass, once the bus is empty. The bus is
  * private[spark], hence this package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
