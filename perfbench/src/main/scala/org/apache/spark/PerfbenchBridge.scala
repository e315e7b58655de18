package org.apache.spark

/** `LiveListenerBus.waitUntilEmpty` is private[spark]; the traced run needs
  * it so every listener event of a pass is delivered before the probes
  * are detached and before events are attributed to queries. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
