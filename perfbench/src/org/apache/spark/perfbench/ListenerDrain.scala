package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one Spark-internal call the harness needs: wait until every
  * listener event posted so far has been delivered, so counts read right
  * after an action include that action's jobs, stages and tasks.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
