package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Job and task counters for the bench artifact (r12 VERDICT #3): each
  * BENCH_full row carries bytes-read / shuffle-write alongside its
  * min/med/max, so a 2× wall-clock swing on a heavyweight row is
  * attributable from the artifact alone — same bytes ⇒ host/cache window,
  * more bytes ⇒ a real plan change. Jobs started and task run time feed
  * `graft.QueryProbe`'s per-run census. Lives in this package only for
  * `listenerBus.waitUntilEmpty` (private[spark]) — the drain that makes the
  * per-rep deltas exact instead of racing the async listener bus. */
class BenchMetrics(sc: SparkContext) extends SparkListener {
  private val bytesRead = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val jobs = new AtomicLong
  private val taskMs = new AtomicLong
  sc.listenerBus.addToSharedQueue(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      bytesRead.addAndGet(m.inputMetrics.bytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      taskMs.addAndGet(m.executorRunTime)
    }
  }

  /** The counters so far, after draining in-flight events. A drain failure
    * (timeout) degrades to the undrained counters — slightly stale beats
    * failing the bench. */
  def snapshot(): BenchMetrics.Counts = {
    try sc.listenerBus.waitUntilEmpty(10000L)
    catch { case _: Exception => () }
    BenchMetrics.Counts(bytesRead.get, shuffleWrite.get, jobs.get, taskMs.get)
  }
}

object BenchMetrics {
  final case class Counts(bytesRead: Long, shuffleWrite: Long, jobs: Long, taskMs: Long) {
    def -(o: Counts): Counts =
      Counts(bytesRead - o.bytesRead, shuffleWrite - o.shuffleWrite, jobs - o.jobs, taskMs - o.taskMs)
  }
}
