package org.apache.spark

/** Lives in Spark's package only to reach the listener bus, so a traced
  * run can wait until every job and task event has been delivered.
  */
object GraftbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
