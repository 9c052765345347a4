package org.apache.spark

/** Test access to the context's listener bus, which Spark keeps
  * package-private: block until every event posted so far has reached
  * its listeners, so a listener's counts are complete.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
