package servebench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.collection.GraftCatalog
import graft.serve.GraftServer

/** `servebench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out DIR`
  *
  * Drives one workload through an in-process [[GraftServer]] from a single
  * closed-loop client and prints one JSON result line last. `--selftest`
  * runs the oracle's hand-checked cases instead. */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (args.contains("--selftest")) {
      println(s"selftest: ${SelfTest.run()} checks passed")
      sys.exit(0)
    }
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val runner = new Runner(Workload.byName(need("workload")), need("seed").toLong,
      need("seconds").toInt, need("trace") == "1", new File(need("work")), new File(need("out")))
    val line = runner.run()
    println(line)
    System.out.flush()
    sys.exit(0)
  }
}

/** Ordered samples with the two summaries the benchmark reports. */
final class Samples {
  private val xs = mutable.ArrayBuffer.empty[Double]
  def +=(x: Double): Unit = xs += x
  def size: Int = xs.size
  def sum: Double = xs.sum
  def values: Seq[Double] = xs.toSeq
  /** Linear-interpolated percentile, p in [0, 1]. */
  def pct(p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median: Double = pct(0.5)
}

/** What the HTTP pass leaves for the end of the run once the benchmark's
  * model of the collection is gone. */
final case class Served(coll: String, setupS: Double, build: Build, warmS: Double, timedS: Double,
                        plans: Seq[RoundPlan], segments: Int, liveRows: Int, diskRatio: Double,
                        liveDigest: (Int, Int), tracer: Option[Tracer])

final class Runner(w: Workload, seed: Long, seconds: Int, trace: Boolean, work: File, out: File) {
  /** Search latency tail: p75, reported only with at least 10 samples beyond it. */
  val TailPct = 0.75
  val WarmupRounds: Int = Workload.RoundsPerCycle
  private val cycles = math.max(1, math.round(seconds / 20.0).toInt)
  val Rounds: Int = cycles * Workload.RoundsPerCycle
  private val FreshPollLimit = 400

  private val failures = mutable.ArrayBuffer.empty[String] // wrong answers
  private var failedOps = 0
  private var attemptedOps = 0
  private def wrong(msg: String): Unit = { if (failures.size < 20) System.err.println(s"WRONG: $msg"); failures += msg }

  private val cpus = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
  private lazy val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.ui.enabled", "false")
    // scratch locations only: keep every file the run writes inside its work dir
    .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
    .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
    .getOrCreate()

  private val root = new File(work, "catalog").getAbsolutePath
  private val gen = DataGen(seed)
  private val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)
  private val unusedDeleteTags = mutable.ArrayBuffer.tabulate(DataGen.DeleteTags)(i => s"b$i")

  // end-to-end samples (timed rounds only)
  private val searchMs = new Samples
  private val writeMs = new Samples
  private val freshMs = new Samples
  private val recall = new Samples
  private var batchQueries = 0
  private val batchS = new Samples

  def run(): String = {
    work.mkdirs(); out.mkdirs()
    SelfTest.run()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    spark.sparkContext.setLogLevel("WARN")
    val server = new GraftServer(spark, root, 0)
    server.start()
    val http = new Http(server.boundPort)
    val readyS = (System.currentTimeMillis() - jvmStart) / 1e3
    val setupCat = new GraftCatalog(spark, root)
    try {
      val s = serve(http, setupCat, jvmStart)
      // the model is out of scope here, so the reading holds the server's
      // heap and only the benchmark's small per-run records
      val heapMb = heapAfterGc()
      val tc0 = System.nanoTime()
      reloadCheck(s.coll, s.liveDigest)
      val meanRecall = recall.sum / recall.size
      if (meanRecall < w.recallFloor) wrong(f"recall@10 $meanRecall%.4f is below the floor ${w.recallFloor}")
      val correct = failures.isEmpty
      if (!correct) System.err.println(s"${failures.size} wrong answers; first: ${failures.head}")
      val metrics: Seq[(String, Double, String)] = s.tracer match {
        case None =>
          Seq(
            ("setup_s", s.setupS, "s"),
            ("search_p50_ms", searchMs.median, "ms"),
            ("search_tail_ms", tail(searchMs), "ms"),
            // a run is one whole lineage cycle, so the total weighs every
            // position in the cycle once
            ("batch_qps", batchQueries / batchS.sum, "1/s"),
            ("write_p50_ms", writeMs.median, "ms"),
            ("fresh_p50_ms", freshMs.median, "ms"),
            ("recall_at_10", meanRecall, "ratio"),
            ("heap_mb", heapMb, "MB"),
            ("disk_bytes_per_user_byte", s.diskRatio, "ratio"))
        case Some(t) =>
          // the in-process pass runs on a second, identically built collection
          val twin = "c1"
          build(setupCat, http, twin)
          http.post(s"/collections/$twin/release")
          val ip = new InProcessPass(spark, setupCat, w, twin, s.plans, WarmupRounds, t).run()
          val pass = HttpPass(writeMs, tracedSearch, untracedSearch, writeRequestBytes,
            batchReplyBytes, bytesWritten, s.segments, s.liveRows)
          val layer = new LayerReport(w, t, ip, s.build, pass)
          val ms = layer.metrics
          val spansFile = new File(out, s"spans-${w.name}-$seed.json")
          val n = t.dumpSpans(spansFile)
          System.err.println(layer.report(ms))
          System.err.println(s"spans: $n written to ${spansFile.getPath}")
          ms
      }
      System.err.println(f"phases: ready $readyS%.2f s, build ${s.build}, warm-up ${s.warmS}%.2f s, " +
        f"set-up ${s.setupS}%.2f s, timed ${s.timedS}%.2f s, checks ${(System.nanoTime() - tc0) / 1e9}%.2f s")
      System.err.println(s"write ms: ${writeMs.values.map(x => f"$x%.0f").mkString(" ")}; fresh ms: " +
        s"${freshMs.values.map(x => f"$x%.0f").mkString(" ")}; batch s: ${batchS.values.map(x => f"$x%.3f").mkString(" ")}")
      System.err.println(f"samples: search ${searchMs.size}, write ${writeMs.size}, fresh ${freshMs.size}, " +
        f"batch queries $batchQueries; rounds $Rounds (+$WarmupRounds warm-up); heap $heapMb%.1f MB")
      resultLine(correct, metrics)
    } finally {
      server.stop()
      spark.stop()
    }
  }

  /** Set-up, warm-up, the timed rounds and the checks that need the model.
    * The model lives only inside this call. */
  private def serve(http: Http, setupCat: GraftCatalog, jvmStart: Long): Served = {
    val model = baseModel()
    val coll = "c0"
    val b = build(setupCat, http, coll)
    // Warm-up: one whole lineage cycle of rounds, all but the last with
    // only their write and freshness poll. The first cycle after a load
    // evaluates every mutation from the loaded snapshot; later cycles start
    // from the catalog's in-memory cut, the steady state of a serving node.
    val plans = mutable.ArrayBuffer.empty[RoundPlan]
    val tw0 = System.nanoTime()
    for (i <- 0 until WarmupRounds) {
      // the cycle's last round is full, so search and batch are warm too
      val p = plan(i, model, full = i == WarmupRounds - 1); plans += p
      httpRound(http, coll, p, model, timed = false, tracer = None)
    }
    val warmS = (System.nanoTime() - tw0) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val tt0 = System.nanoTime()
    for (i <- 0 until Rounds) {
      val p = plan(WarmupRounds + i, model, full = true); plans += p
      val before = if (trace) dirBytes(coll) else 0L
      httpRound(http, coll, p, model, timed = true, tracer)
      if (trace) bytesWritten += (dirBytes(coll) - before).toDouble
    }
    val timedS = (System.nanoTime() - tt0) / 1e9
    val segments = setupCat.segmentCount(coll)
    endChecks(http, coll, model)
    Served(coll, setupS, b, warmS, timedS, plans.toSeq, segments, model.size,
      dirBytes(coll).toDouble / model.userBytes, model.digest, tracer)
  }

  private def tail(s: Samples): Double = {
    require(s.size * (1 - TailPct) >= 10 - 1e-9,
      s"${s.size} search samples leave fewer than 10 beyond p${(TailPct * 100).round}")
    s.pct(TailPct)
  }

  private def resultLine(correct: Boolean, ms: Seq[(String, Double, String)]): String = {
    val body = ms.map { case (n, v, u) =>
      val vs = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
      s""""$n": {"value": $vs, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attemptedOps, "failed": $failedOps, "metrics": {$body}}"""
  }

  // ---- inputs ----

  private def baseModel(): LiveSet = {
    val m = new LiveSet(Workload.Dim, w.storage)
    var i = 0
    while (i < Workload.Rows) { val (id, v, t, c) = gen.row(i); m.upsert(id, v, t, c); i += 1 }
    m
  }

  private def plan(index: Int, model: LiveSet, full: Boolean): RoundPlan = {
    val r = rng.split()
    val cat = () => s"c${r.nextInt(DataGen.Cats)}"
    val news = (0 until Workload.NewPerRound).map(j => (s"n$index-$j", Json.wire(gen.point(r)), s"w$index", cat()))
    // upsert targets: base ids still live (deterministic given the seed)
    val ups = mutable.LinkedHashSet.empty[String]
    while (ups.size < Workload.UpsertsPerRound) {
      val id = f"r${r.nextInt(Workload.Rows)}%07d"
      if (model.isLive(id)) ups += id
    }
    val upRows = ups.toSeq.map(id => (id, Json.wire(gen.point(r)), s"w$index", cat()))
    val tag = unusedDeleteTags.remove(r.nextInt(unusedDeleteTags.size))
    val queries = (0 until (if (full) Workload.SearchesPerRound else 0)).map(_ => (Json.wire(gen.point(r)), cat()))
    val writes = news ++ upRows
    // the batch block looks up every row this round wrote by its own
    // vector, then fills with fresh queries
    val batch = if (!full) Nil else writes.map(x => (s"w:${x._1}", x._2)) ++
      (0 until w.batchQueries - writes.size).map(j => (s"q$index-$j", Json.wire(gen.point(r))))
    RoundPlan(index, full, writes, tag, queries, batch)
  }

  // ---- set-up ----

  private def build(cat: GraftCatalog, http: Http, name: String): Build = {
    import spark.implicits._
    val t0 = System.nanoTime()
    cat.createCollection(w.meta(name))
    cat.loadCollection(name)
    val g = gen
    val df = spark.range(Workload.Rows).map(i => g.row(i)).toDF("id", "vector", "tag", "cat")
    cat.insert(name, df)
    val t1 = System.nanoTime()
    cat.flush(name)
    cat.releaseCollection(name)
    val t2 = System.nanoTime()
    val lr = http.post(s"/collections/$name/load")
    require(lr.ok, s"load failed: ${lr.text}")
    val t3 = System.nanoTime()
    // the rung's first request compiles its plan or builds its local index
    val (q, c) = (Json.wire(gen.point(new SplittableRandom(seed + 17))), "c0")
    val rr = http.post(s"/collections/$name/${w.searchRoute}", searchBody(q, c))
    require(rr.ok, s"first search failed: ${rr.text}")
    val t4 = System.nanoTime()
    Build((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, (t4 - t3) / 1e9, (t4 - t0) / 1e9)
  }

  // ---- requests ----

  private def searchBody(q: Array[Float], cat: String): String = {
    val v = Json.vec(q)
    w.searchRoute match {
      case "search" => s"""{"vector":$v,"topK":${Workload.TopK}}"""
      case "searchLocal" =>
        s"""{"vector":$v,"topK":${Workload.TopK},"nprobe":${w.nprobe},""" +
          s""""filter":{"col":"cat","op":"eq","value":${Json.str(cat)}}}"""
      case "searchPq" => s"""{"vector":$v,"topK":${Workload.TopK},"nprobe":${w.nprobe},"rerank":true}"""
    }
  }

  private def batchBody(qs: Seq[(String, Array[Float])], nprobe: Int): String =
    qs.map { case (id, v) => s"""{"id":${Json.str(id)},"vector":${Json.vec(v)}}""" }
      .mkString("""{"queries":[""", ",", s"""],"topK":${Workload.TopK},"nprobe":$nprobe}""")

  private def insertBody(rows: Seq[(String, Array[Float], String, String)]): String =
    rows.map { case (id, v, t, c) =>
      s"""{"id":${Json.str(id)},"vector":${Json.vec(v)},"tag":${Json.str(t)},"cat":${Json.str(c)}}"""
    }.mkString("""{"rows":[""", ",", "]}")

  private def catFilter(cat: String): Option[String] = if (w.filtered) Some(cat) else None

  /** Checks one search answer against the model; returns its recall. */
  private def checkSearch(what: String, q: Array[Float], cat: String, got: Seq[(String, Double)],
                          model: LiveSet): Double = {
    val pq = model.prepare(q)
    val want = model.topK(pq, Workload.TopK, catFilter(cat))
    val exactOf = (id: String) => model.distanceTo(pq, id)
    if (w.exact) Oracle.compareTopK(got, want, exactOf).foreach(e => wrong(s"$what: $e"))
    else {
      if (got.size != want.size) wrong(s"$what: ${got.size} rows, expected ${want.size}")
      got.foreach { case (id, d) =>
        exactOf(id) match {
          case None => wrong(s"$what: returned $id, which is not live")
          case Some(e) if math.abs(e - d) > 1.5e-6 => wrong(s"$what: $id reported $d, exact $e")
          case _ => ()
        }
        if (w.filtered && !model.catOf(id).contains(cat)) wrong(s"$what: $id fails the filter cat=$cat")
      }
      if (got.map(_._2) != got.map(_._2).sorted) wrong(s"$what: not ordered by distance")
    }
    Oracle.recall(got.map(_._1), want, exactOf)
  }

  /** Rank 1 is the written row itself (its own vector is at distance 0). */
  private def rankOne(got: Seq[(String, Double)], id: String): Boolean =
    got.headOption.exists(_._1 == id) || got.exists { case (g, d) => g == id && d == 0.0 }

  private def httpRound(http: Http, coll: String, p: RoundPlan, model: LiveSet, timed: Boolean,
                        tracer: Option[Tracer]): Unit = {
    def op[A](kind: String, name: String)(body: => A): A =
      tracer.fold(body)(_.op(kind, name)(body))
    def req(path: String, body: String): Http#Reply =
      tracer.fold(http.post(path, body))(_.span(s"http:${path.split('/').last}")(http.post(path, body)))
    def count(ok: Boolean): Unit = if (timed) { attemptedOps += 1; if (!ok) failedOps += 1 }

    // write: insert (new rows + upserts), delete by this round's tag, flushDelta
    val (wOk, wNs) = op("write", "insert+delete+flushDelta") {
      val t0 = System.nanoTime()
      val a = req(s"/collections/$coll/insert", insertBody(p.writes))
      val b = req(s"/collections/$coll/delete", s"""{"filter":{"col":"tag","op":"eq","value":${Json.str(p.deleteTag)}}}""")
      val c = req(s"/collections/$coll/flushDelta", "")
      val ns = System.nanoTime() - t0
      if (timed) writeRequestBytes += (a.requestBytes + b.requestBytes + c.requestBytes).toDouble
      Seq(a, b, c).filterNot(_.ok).foreach(r => System.err.println(s"write failed: ${r.status} ${r.text}"))
      (a.ok && b.ok && c.ok, ns)
    }
    count(wOk)
    if (timed && wOk) writeMs += wNs / 1e6
    p.writes.foreach { case (id, v, t, c) => model.upsert(id, v, t, c) }
    val deleted = model.deleteTag(p.deleteTag).toSet

    // freshness: from the acknowledgement to the first search that returns
    // the new row at rank 1
    val (nid, nv, _, ncat) = p.newRow
    val (fOk, fNs) = op("fresh", "poll") {
      val t0 = System.nanoTime()
      var polls = 0; var seen = false; var errors = 0
      while (!seen && polls < FreshPollLimit && errors < 3) {
        val r = req(s"/collections/$coll/${w.searchRoute}", searchBody(nv, ncat))
        polls += 1
        if (!r.ok) errors += 1
        else {
          val got = Json.hits(r.json)
          seen = rankOne(got, nid)
          // only the local rung may serve its previous version while it folds
          if (w.searchRoute != "searchLocal")
            got.map(_._1).filter(deleted).foreach(d => wrong(s"fresh poll returned deleted id $d"))
        }
      }
      (seen, System.nanoTime() - t0)
    }
    count(fOk)
    if (!fOk) System.err.println(s"round ${p.index}: written row $nid never served at rank 1")
    if (timed && fOk) freshMs += fNs / 1e6

    // search block
    p.queries.zipWithIndex.foreach { case ((q, c), i) =>
      // traced runs alternate traced and untraced searches: the difference
      // of their medians is the recorder's own cost
      val traced = tracer.exists(_ => i % 2 == 0)
      val r =
        if (traced) op("search", w.searchRoute)(req(s"/collections/$coll/${w.searchRoute}", searchBody(q, c)))
        else http.post(s"/collections/$coll/${w.searchRoute}", searchBody(q, c))
      count(r.ok)
      if (r.ok) {
        if (timed) { searchMs += r.ms; if (tracer.isDefined) (if (traced) tracedSearch else untracedSearch) += r.ms }
        val rec = checkSearch(s"round ${p.index} search $i", q, c, Json.hits(r.json), model)
        if (timed) recall += rec
      } else System.err.println(s"search failed: ${r.status} ${r.text}")
    }

    // batch block
    if (p.full) {
      val br = op("batch", "searchBatch")(req(s"/collections/$coll/searchBatch", batchBody(p.batch, w.nprobe)))
      count(br.ok)
      if (br.ok) {
        if (timed) { batchQueries += p.batch.size; batchS += br.nanos / 1e9; batchReplyBytes += br.body.length.toDouble }
        checkBatch(s"round ${p.index} batch", p.batch, Json.batchHits(br.json), model, exactRank = w.exact)
      } else System.err.println(s"batch failed: ${br.status} ${br.text}")
    }
  }

  private val tracedSearch = new Samples
  private val bytesWritten = new Samples
  private val untracedSearch = new Samples
  private val writeRequestBytes = new Samples
  private val batchReplyBytes = new Samples

  private def checkBatch(what: String, qs: Seq[(String, Array[Float])],
                         got: Map[String, Seq[(String, Double)]], model: LiveSet, exactRank: Boolean): Unit =
    qs.foreach { case (qid, q) =>
      val hits = got.getOrElse(qid, Nil)
      val pq = model.prepare(q)
      val exactOf = (id: String) => model.distanceTo(pq, id)
      if (qid.startsWith("w:") && !rankOne(hits, qid.drop(2)))
        wrong(s"$what: written row ${qid.drop(2)} not at rank 1 by its own vector: ${hits.take(2)}")
      if (exactRank) Oracle.compareTopK(hits, model.topK(pq, Workload.TopK), exactOf).foreach(e => wrong(s"$what $qid: $e"))
      else {
        val want = math.min(Workload.TopK, model.size)
        if (hits.size != want) wrong(s"$what $qid: ${hits.size} rows, expected $want")
        hits.foreach { case (id, d) =>
          exactOf(id) match {
            case None => wrong(s"$what $qid: returned $id, which is not live")
            case Some(e) if math.abs(e - d) > 1.5e-6 => wrong(s"$what $qid: $id reported $d, exact $e")
            case _ => ()
          }
        }
      }
    }

  /** Untimed checks after the last round: on IVF layouts a batch probing
    * every cell must equal brute force. */
  private def endChecks(http: Http, coll: String, model: LiveSet): Unit =
    w.ivfCells.foreach { cells =>
      val r = new SplittableRandom(seed + 99)
      val qs = (0 until 8).map(j => (s"all$j", Json.wire(gen.point(r))))
      val br = http.post(s"/collections/$coll/searchBatch", batchBody(qs, cells))
      if (!br.ok) wrong(s"all-cells batch failed: ${br.text}")
      else checkBatch("all-cells batch", qs, Json.batchHits(br.json), model, exactRank = true)
    }

  /** A fresh catalog on the same root must load exactly the live set: the
    * same ids, each once, with the same tag and category. */
  private def reloadCheck(coll: String, want: (Int, Int)): Unit = {
    val fresh = new GraftCatalog(spark, root)
    val rows = fresh.loadCollection(coll).select("id", "tag", "cat").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    val distinct = rows.map(_._1).distinct.size
    if (distinct != rows.size) wrong(s"reload: ${rows.size - distinct} duplicate ids")
    val got = LiveSet.digest(rows)
    if (got._1 != want._1) wrong(s"reload: ${got._1} rows, expected ${want._1} live rows")
    else if (got != want) wrong("reload: ids, tags or categories differ from the live set")
    fresh.releaseCollection(coll)
  }

  /** Used heap after a full GC, once it has settled: Spark frees cached and
    * broadcast blocks from its cleaner thread after the GC that finds them
    * unreachable, so one GC alone leaves a varying amount of them counted. */
  private def heapAfterGc(): Double = {
    def used(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    val readings = mutable.ArrayBuffer(used())
    while (readings.size < 10 && (readings.size < 2 || math.abs(readings.last - readings(readings.size - 2)) > 0.5)) {
      Thread.sleep(300)
      readings += used()
    }
    System.err.println(s"heap readings MB: ${readings.map(x => f"$x%.1f").mkString(" ")}")
    readings.last
  }

  private def dirBytes(coll: String): Long = {
    val p = new Path(root, coll)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
  }
}
