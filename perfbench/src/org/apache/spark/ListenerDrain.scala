package org.apache.spark

/** Waits until every event posted so far has reached the listeners.
  * The bus is package-private to Spark, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
