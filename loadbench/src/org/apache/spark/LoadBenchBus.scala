package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * traced run can attribute all of an op's jobs, stages and tasks before it
  * detaches its listeners. The bus is package-private in Spark. */
object LoadBenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
