package org.apache.spark

/** The listener bus is package-private; the traced run drains it
  * before reading counts, so every event of a finished op is counted
  * and the counts repeat exactly from run to run.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
