package org.apache.spark

/** The listener bus drain is package-private; the traced run needs it so
  * that every event of a finished call is counted before the call's
  * counters are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
