package org.apache.spark

/** The one Spark-private call the benchmark needs: wait until the listener
  * bus has delivered every event posted so far, so a traced span is read
  * only after all of its job, stage and task events have arrived.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
