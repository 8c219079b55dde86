package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is package-private; the traced run drains it before
  * reading task metrics so no event of the last op is lost. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
