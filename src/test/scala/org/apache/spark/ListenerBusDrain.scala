package org.apache.spark

/** Test access to the `private[spark]` listener bus: listener events
  * (jobs, SQL executions, `QueryExecutionListener` callbacks) arrive
  * asynchronously, so a spec drains the bus before it reads what its
  * listeners saw. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
