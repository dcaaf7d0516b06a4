package org.apache.spark.wfbenchbridge

import org.apache.spark.SparkContext

/** Access to the live listener bus, which Spark keeps package-private. */
object Bus {
  /** Block until every event posted so far has been delivered, so listener
    * counts read afterwards are complete. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
