package org.apache.spark

/** Listener events arrive asynchronously; the benchmark drains the bus
  * before it reads listener totals so a window's jobs are all counted.
  * `listenerBus` is package-private to Spark, hence this package. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
