package org.apache.spark

/** Drains Spark's listener bus, so the benchmark reads its listeners'
  * counters only after every event of an iteration has arrived.
  * `listenerBus` is private to Spark, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
