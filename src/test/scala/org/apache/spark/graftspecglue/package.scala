package org.apache.spark

/** Bridge to the `private[spark]` listener-bus drain, so a spec that reads
  * a listener's counts after an action sees every event the action posted. */
package object graftspecglue {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
