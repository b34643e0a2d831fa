package org.apache.spark

/** Test access to the listener bus, which is private to Spark: block until
  * every event posted so far has reached every listener, so a spec reads
  * listener state and `statusTracker` as of the moment it calls this.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
