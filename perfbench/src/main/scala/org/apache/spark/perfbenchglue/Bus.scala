package org.apache.spark.perfbenchglue

import org.apache.spark.SparkContext

/** The one Spark-internal call the benchmark needs: wait until every
  * event posted so far has reached every listener, so counts read after
  * an action include that action. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
