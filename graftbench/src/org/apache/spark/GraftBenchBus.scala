package org.apache.spark

/** Lets the benchmark wait until Spark's listener bus has delivered every
  * posted event. The traced run calls it at statement boundaries so each
  * job, stage, task and query-execution event lands on the statement that
  * caused it. Lives in this package only because the bus is Spark-private.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
