package org.apache.spark

/** Reaches the package-private listener bus so a spec can wait for the
  * events of the jobs it just ran. */
object ListenerDrain {
  /** Block until every event posted so far has reached every listener. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
