package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the package-private listener bus: a traced pass waits
  * until every queued event reached its listeners before reading
  * them. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
