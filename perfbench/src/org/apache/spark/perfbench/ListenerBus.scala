package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every event posted so
  * far, so the trace holds the last jobs' task totals and write
  * callbacks. The bus is `private[spark]`, hence this package.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
