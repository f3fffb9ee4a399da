package org.apache.spark

/** Test access to the context's listener bus, which is private to
  * Spark: block the caller until every event posted so far has been
  * delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
