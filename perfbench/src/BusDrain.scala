package org.apache.spark

/** The listener bus is private to Spark; the traced run drains it before
  * closing a key's span so every job, stage and task event of that key has
  * been delivered to the benchmark's listener. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
