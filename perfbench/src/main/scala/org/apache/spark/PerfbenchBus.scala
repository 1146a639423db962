package org.apache.spark

/** Bridge to the package-private listener bus: blocks until every event
  * posted so far has reached the listeners, so a probe read after an op
  * sees all of that op's job, stage and task events.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
