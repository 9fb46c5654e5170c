package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.{GraftListenerBusShim, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block of driver code starts. */
object SparkJobs {

  /** The jobs started on `sc` while `body` runs, and its result. The bus
    * is drained before and after, so every job of `body` is counted and
    * none from before it. */
  def during[T](sc: SparkContext)(body: => T): (Int, T) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftListenerBusShim.waitUntilEmpty(sc, 30000L)
    sc.addSparkListener(listener)
    try {
      val out = body
      GraftListenerBusShim.waitUntilEmpty(sc, 30000L)
      (jobs.get, out)
    } finally sc.removeSparkListener(listener)
  }
}
