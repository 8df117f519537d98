package org.apache.spark

/** The listener bus drain is package-private to Spark. A traced run
  * drains it after every operation, so each listener event is charged
  * to the operation that caused it and not to the next one. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
