package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Access to the listener bus's drain, which Spark keeps package-private:
  * listener callbacks arrive asynchronously, so a spec waits for the bus to
  * empty before it reads what its listener recorded.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
