package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** Access to the context's `LiveListenerBus`, which Spark keeps
  * package-private. */
object ListenerBus {

  /** Blocks until every event posted so far has reached every
    * listener: after an action returns, its task-end events are
    * delivered once this does. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
