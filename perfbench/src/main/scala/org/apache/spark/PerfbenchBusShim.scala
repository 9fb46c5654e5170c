package org.apache.spark

/** Bridge into `SparkContext.listenerBus` (private[spark]): the benchmark
  * flushes the asynchronous listener bus before it reads what its listeners
  * collected, so no job, task or progress event of a measured region is
  * still queued when the numbers are taken. */
object PerfbenchBusShim {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
