package org.apache.spark

/** Bridge to the `private[spark]` listener-bus drain, so benchmark
  * counters read after an action include every event that action posted. */
package object perfbenchglue {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
