package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is private to the spark package: a
  * traced op reads its job records only after every event it caused has been
  * delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
