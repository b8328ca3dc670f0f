package servebench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a client request, an in-process call, a Spark job. */
final case class Span(id: Long, parent: Long, op: Long, name: String, startNs: Long, endNs: Long)

/** Per-operation counters, summed over every traced operation of one kind. */
final class OpStats {
  var count = 0L
  var wallNs = 0L
  var jobs = 0L
  var jobNs = 0L // wall time covered by at least one running job
  var tasks = 0L
  var taskCpuNs = 0L
  var schedDelayMs = 0L
  var bytesRead = 0L
  var recordsRead = 0L
  var shuffleBytes = 0L
  var planningMs = 0L
  var gcMs = 0L
  var jitMs = 0L
}

/** The traced run's recorder. Spans and counters are kept in memory and
  * written out at the end. Its Spark listeners are attached only while an
  * operation runs, so a request made outside [[op]] pays nothing for them:
  * a run can alternate traced and untraced requests to measure the
  * recorder's own cost. After each operation the listener bus is drained
  * and events are charged by their own timestamps: a job submitted inside
  * the operation's interval belongs to it, and so do its tasks. Operations
  * and spans are opened from one client thread only. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val nextId = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stats = mutable.HashMap.empty[String, OpStats]

  // the open operation, its innermost open span, and its closed child spans
  private var curOp = 0L
  private var curParent = 0L
  private val children = mutable.ArrayBuffer.empty[Span]

  /** Spark stamps events with wall-clock ms; spans use nanoTime. */
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def nanoOf(ms: Long): Long = ms * 1000000L - epochNs
  private val MsSlack = 1000000L

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private def jitMs: Long = if (jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else 0L

  def statsOf(kind: String): OpStats = stats.getOrElseUpdate(kind, new OpStats)

  /** Events delivered while one operation is open. */
  private final class Events extends SparkListener with QueryExecutionListener {
    val jobStarts = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val jobEnds = new ConcurrentLinkedQueue[SparkListenerJobEnd]()
    val taskEnds = new ConcurrentLinkedQueue[SparkListenerTaskEnd]()
    val phases = new ConcurrentLinkedQueue[(Long, Long)]() // analysis/optimization/planning, wall ms

    override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.add(e)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = taskEnds.add(e)
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").flatMap(ph.get)
        .foreach(p => phases.add((p.startTimeMs, p.endTimeMs)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Run `body` as one operation of `kind`, recording its span, the Spark
    * work it caused and its JVM-level counters. */
  def op[A](kind: String, name: String)(body: => A): A = {
    require(curOp == 0L, "operations do not nest")
    val id = nextId.getAndIncrement()
    val ev = new Events
    sc.addSparkListener(ev)
    spark.listenerManager.register(ev)
    val g0 = gcMs; val j0 = jitMs
    curOp = id; curParent = id
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val gc = gcMs - g0; val jt = jitMs - j0
      curOp = 0L; curParent = 0L
      org.apache.spark.servebench.ListenerDrain(sc)
      sc.removeSparkListener(ev)
      spark.listenerManager.unregister(ev)
      charge(kind, Span(id, 0L, id, s"$kind:$name", t0, t1), ev, gc, jt)
    }
  }

  /** A child span inside the open operation (a client request or an
    * in-process call); Spark jobs submitted inside it become its children. */
  def span[A](name: String)(body: => A): A = {
    if (curOp == 0L) return body
    val id = nextId.getAndIncrement()
    val saved = curParent
    curParent = id
    val t0 = System.nanoTime()
    try body
    finally {
      children += Span(id, saved, curOp, name, t0, System.nanoTime())
      curParent = saved
    }
  }

  private def charge(kind: String, op: Span, ev: Events, gcMsDelta: Long, jitMsDelta: Long): Unit = {
    val reqs = children.sortBy(_.startNs).toSeq
    children.clear()
    spans += op
    spans ++= reqs
    // event times are truncated to the ms, so allow one ms before the start
    def inOp(ns: Long): Boolean = ns >= op.startNs - MsSlack && ns <= op.endNs
    val ends = ev.jobEnds.asScala.map(e => e.jobId -> nanoOf(e.time)).toMap
    val jobs = ev.jobStarts.asScala.toSeq.filter(j => inOp(nanoOf(j.time)))
    val stages = jobs.flatMap(_.stageIds).toSet
    val intervals = jobs.map { j =>
      val submitted = nanoOf(j.time)
      val start = math.max(submitted, op.startNs)
      val end = math.max(start, math.min(ends.getOrElse(j.jobId, op.endNs), op.endNs))
      val parent = reqs.filter(_.startNs <= submitted + MsSlack).lastOption.fold(op.id)(_.id)
      spans += Span(nextId.getAndIncrement(), parent, op.id, s"job:${j.jobId}", start, end)
      (start, end)
    }
    val s = statsOf(kind)
    s.count += 1
    s.wallNs += op.endNs - op.startNs
    s.jobs += jobs.size
    s.jobNs += covered(intervals)
    ev.taskEnds.asScala.filter(e => stages(e.stageId) && e.taskMetrics != null).foreach { e =>
      val m = e.taskMetrics
      val info = e.taskInfo
      s.tasks += 1
      s.taskCpuNs += m.executorCpuTime
      s.schedDelayMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime)
      s.bytesRead += m.inputMetrics.bytesRead
      s.recordsRead += m.inputMetrics.recordsRead
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
    s.planningMs += ev.phases.asScala.filter(p => inOp(nanoOf(p._1))).map(p => p._2 - p._1).sum
    s.gcMs += gcMsDelta
    s.jitMs += jitMsDelta
  }

  /** Length of the union of `ivs`. */
  private def covered(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = -1L; var curE = -1L
    ivs.sortBy(_._1).foreach { case (s0, e0) =>
      if (s0 > curE) { total += curE - curS; curS = s0; curE = e0 }
      else curE = math.max(curE, e0)
    }
    total + (curE - curS)
  }

  def dumpSpans(path: java.io.File): Int = {
    val all = spans.sortBy(_.startNs).toSeq
    val base = all.headOption.map(_.startNs).getOrElse(0L)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.println("[")
      w.println(all.map(s =>
        s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
          f""""start_ms":${(s.startNs - base) / 1e6}%.3f,"end_ms":${(s.endNs - base) / 1e6}%.3f}""")
        .mkString(",\n"))
      w.println("]")
    } finally w.close()
    all.size
  }
}
