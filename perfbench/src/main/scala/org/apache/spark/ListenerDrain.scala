package org.apache.spark

/** Waits until Spark has delivered every posted listener event, so a span's
  * counts are complete before they are read. Lives in Spark's package
  * because the listener bus is package-private.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
