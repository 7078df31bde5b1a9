package org.apache.spark

/** The listener bus is asynchronous: a traced run waits for it to
  * deliver every event before it reads the listeners' counters.
  */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
