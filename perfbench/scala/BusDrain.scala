package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * traced operation's jobs, tasks and planning phases are all recorded
  * before the tracer is detached. Lives in Spark's package because the
  * bus is `private[spark]`. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
