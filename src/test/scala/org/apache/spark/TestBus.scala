package org.apache.spark

/** The listener bus is package-private; specs that count actions drain
  * it so every event of the measured call is delivered first. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
