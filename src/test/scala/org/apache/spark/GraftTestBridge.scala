package org.apache.spark

/** Test-side bridge into the `private[spark]` listener bus, the
  * [[org.apache.spark.sql.GraftBridge]] pattern: returns once every
  * event posted so far has reached every listener. */
object GraftTestBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
