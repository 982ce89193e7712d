package org.apache.spark

/** The listener bus is package-private; specs that read listener
  * events drain it first so every event of a finished action counts.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
