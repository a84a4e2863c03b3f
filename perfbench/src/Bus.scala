package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the driver's listener bus, which is `private[spark]`. */
object Bus {

  /** Block until every event posted so far has reached every listener, so
    * counts read afterwards are complete (no sleeps, no time windows).
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
