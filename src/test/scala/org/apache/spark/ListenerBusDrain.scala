package org.apache.spark

/** The listener bus drain is package-private to Spark. Specs that count
  * listener events call it before reading their counters, so every
  * event a finished action posted has been delivered. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
