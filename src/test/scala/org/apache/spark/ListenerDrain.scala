package org.apache.spark

/** Test access to the listener bus's drain, which Spark keeps
  * package-private: a spec reads what its listener recorded only after
  * every event posted so far has been delivered. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
