package servebench

/** What the traced HTTP pass measured besides the Spark and JVM counters. */
final case class HttpPass(
    write: Samples, tracedSearch: Samples, untracedSearch: Samples,
    writeRequestBytes: Samples, batchReplyBytes: Samples, bytesWritten: Samples,
    segments: Int, liveRows: Int)

/** The per-layer metrics of a traced run, by name. Per-operation counts are
  * means over the traced operations of that kind; a layer an operation never
  * reaches reads 0. */
final class LayerReport(w: Workload, t: Tracer, ip: CallTimes, setup: Build, h: HttpPass) {
  val Ops = Seq("search", "batch", "write", "fresh")

  private def med(s: Samples): Double = if (s.size == 0) 0.0 else s.median
  private def mean(s: Samples): Double = if (s.size == 0) 0.0 else s.sum / s.size
  private def per(x: Double, n: Long): Double = if (n == 0) 0.0 else x / n

  def metrics: Seq[(String, Double, String)] = {
    val st = Ops.map(o => o -> t.statsOf(o)).toMap
    val search = st("search"); val batch = st("batch")
    val scoredRows: Double =
      if (w.exact) h.liveRows.toDouble * search.count
      else search.recordsRead.toDouble
    val probedShare = w.ivfCells.fold(1.0)(c => w.nprobe.toDouble / c)
    val pairs = batch.count * w.batchQueries * h.liveRows * probedShare
    val serve = Seq(
      ("serve.overhead_ms.search", med(h.untracedSearch) - med(ip.search), "ms"),
      ("serve.overhead_ms.write", med(h.write) - med(ip.write), "ms"),
      ("serve.request_kb.write", mean(h.writeRequestBytes) / 1024, "KB"),
      ("serve.response_kb.batch", mean(h.batchReplyBytes) / 1024, "KB"))
    val catalog = Seq(
      ("catalog.call_ms.search", med(ip.search), "ms"),
      ("catalog.call_ms.insert", med(ip.insert), "ms"),
      ("catalog.call_ms.delete", med(ip.delete), "ms"),
      ("catalog.call_ms.flush_delta", med(ip.flushDelta), "ms"),
      ("catalog.call_ms.first_search", med(ip.firstSearch), "ms"),
      ("catalog.call_ms.refresh_local", med(ip.refreshLocal), "ms"),
      ("catalog.segments", h.segments.toDouble, "count"),
      ("catalog.bytes_written.write", mean(h.bytesWritten), "bytes"),
      ("catalog.call_s.flush", setup.flushS, "s"),
      ("catalog.call_s.load", ip.loadS, "s"),
      ("catalog.call_s.local_build", ip.rungS, "s"))
    val sparkPerOp = Ops.flatMap { o =>
      val s = st(o)
      Seq(
        (s"spark.jobs.$o", per(s.jobs, s.count), "count"),
        (s"spark.tasks.$o", per(s.tasks, s.count), "count"),
        (s"spark.task_cpu_ms.$o", per(s.taskCpuNs / 1e6, s.count), "ms"),
        (s"spark.driver_ms.$o", per((s.wallNs - s.jobNs) / 1e6, s.count), "ms"),
        (s"spark.sched_delay_ms.$o", per(s.schedDelayMs, s.count), "ms"),
        (s"spark.bytes_read.$o", per(s.bytesRead, s.count), "bytes"),
        (s"spark.shuffle_bytes.$o", per(s.shuffleBytes, s.count), "bytes"))
    }
    val kernel = Seq(
      ("spark.planning_ms.batch", per(batch.planningMs, batch.count), "ms"),
      ("kernel.rows_per_cpu_s.search", if (search.taskCpuNs == 0) 0.0 else scoredRows / (search.taskCpuNs / 1e9), "1/s"),
      ("kernel.pairs_per_cpu_s.batch", if (batch.taskCpuNs == 0) 0.0 else pairs / (batch.taskCpuNs / 1e9), "1/s"),
      ("ann.local_search_us", med(ip.localSearchUs), "us"),
      ("ann.batch_ms_per_query", per(ip.batchNanos / 1e6, ip.batchQueries), "ms"))
    val jvm = Ops.flatMap { o =>
      val s = st(o)
      Seq((s"jvm.gc_ms.$o", per(s.gcMs, s.count), "ms"), (s"jvm.jit_ms.$o", per(s.jitMs, s.count), "ms"))
    }
    val overhead = Seq(("trace.overhead_pct",
      if (h.untracedSearch.size == 0) 0.0
      else 100.0 * (med(h.tracedSearch) - med(h.untracedSearch)) / med(h.untracedSearch), "%"))
    serve ++ catalog ++ sparkPerOp ++ kernel ++ jvm ++ overhead
  }

  /** Human-readable table of `ms`, grouped by layer. */
  def report(ms: Seq[(String, Double, String)]): String = {
    val lines = ms.map { case (n, v, u) => f"  $n%-34s $v%14.3f $u" }
    val head = s"per-layer metrics (${w.name}; in-process pass: ${ip.search.size} searches, " +
      s"${ip.write.size} writes; traced searches ${h.tracedSearch.size} vs untraced ${h.untracedSearch.size})"
    (head +: lines).mkString("\n")
  }
}
