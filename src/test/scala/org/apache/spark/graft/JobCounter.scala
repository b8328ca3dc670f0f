package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The Spark jobs a block runs, counted by a listener. Lives in this
  * package only for `listenerBus.waitUntilEmpty` (private[spark]): the bus
  * is drained before the listener is added and again before the count is
  * read, so the count is exact instead of racing the async bus. */
object JobCounter {
  def jobsOf[A](sc: SparkContext)(body: => A): (A, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    sc.listenerBus.waitUntilEmpty(10000L)
    sc.addSparkListener(listener)
    try {
      val a = body
      sc.listenerBus.waitUntilEmpty(10000L)
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
