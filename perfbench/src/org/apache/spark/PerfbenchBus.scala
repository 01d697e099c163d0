package org.apache.spark

/** The listener bus delivers events asynchronously; a probe reads its
  * counters only after every event posted so far has been handled. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
