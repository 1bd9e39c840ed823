package org.apache.spark

/** Listener events arrive asynchronously: a spec that counts jobs with
  * a listener drains the bus first, so every job it ran is counted.
  * `listenerBus` is package-private to Spark, hence this package. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
