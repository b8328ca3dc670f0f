package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.FilterExpr
import graft.collection.{CollectionMeta, GraftCatalog, IndexField}

/** Thin JSON-over-HTTP serving layer — the network surface the engine needs
  * for client-facing parity with the reference, which is a gRPC server
  * (/root/reference/root_layer/edge-lite/rpc.go:104-108, service EdgeRpc at
  * idl/proto/v4/edge.proto:9-22). One route per RPC:
  *
  * {{{
  * GET    /ping                              Ping
  * GET    /collections                       GetCollections
  * POST   /collections        {meta json}    CreateCollection
  * GET    /collections/:name                 GetCollection (info)
  * DELETE /collections/:name                 DeleteCollection
  * POST   /collections/:name/load            LoadCollection
  * POST   /collections/:name/release         ReleaseCollection
  * POST   /collections/:name/flush           Flush (full snapshot / compaction)
  * POST   /collections/:name/flushDelta      Flush (O(changes) delta segment)
  * POST   /collections/:name/changes         Version CDC (changeLog/stateDiff)
  * POST   /collections/:name/export          Copy chain+sidecars to another root
  * POST   /collections/:name/exportColtt     Write a native coltt edge bucket
  * POST   /collections/:name/insert {rows}   Index (upsert changes)
  * POST   /collections/:name/delete {filter} Index (delete changes)
  * POST   /collections/:name/search {query}  Search / FilterSearch
  * }}}
  *
  * Built on the JDK's HttpServer + the json4s already on the Spark
  * classpath — zero extra dependencies. The JDK server is created by
  * [[GraftServer.httpServer]], which turns Nagle's algorithm off on every
  * accepted socket (as gRPC-Go does): with Nagle on, each response waited
  * ~40 ms for the client's delayed ACK. Requests run on a small pool behind
  * a two-lane read/write gate.
  * The engine's validation/state-machine errors (bad schema, not-loaded —
  * edge/constants.go:30) map to HTTP 400 with `{"error": msg}`, mirroring
  * the reference's status-in-response contract.
  *
  * This is a serving SHIM for functional parity, not a low-latency ANN
  * server: every search is a Spark job. `/search` runs through the
  * catalog's prepared-plan cache (plan-once/execute-many — the ~22-43 ms
  * per-request Catalyst re-analysis the r8 probe measured is paid once per
  * (resident state, query shape), leaving the Spark job's scheduling and
  * task time) — fine for batch/analytical clients, not for the reference's
  * sub-millisecond HNSW point serving; THAT latency class is served by the
  * driver-local routes (searchLocal/searchLocalPq/searchLocalBin).
  */
/** `runMain graft.serve.Serve [catalogRoot] [port]` — standalone server. */
object Serve {
  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse(sys.env.getOrElse("GRAFT_ROOT", "/tmp/graft-catalog"))
    val port = args.lift(1).map(_.toInt).getOrElse(8080)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val server = new GraftServer(spark, root, port)
    server.start()
    println(s"graft serving on 127.0.0.1:${server.boundPort} (catalog root: $root)")
    Thread.currentThread().join()
  }
}

object GraftServer {
  /** The JDK property `sun.net.httpserver.ServerConfig` reads to set
    * TCP_NODELAY on every socket the server accepts. */
  private[serve] val NoDelayProperty = "sun.net.httpserver.nodelay"

  /** The one place a JDK [[HttpServer]] is created for graft, bound to
    * 127.0.0.1:`port` (0 = ephemeral). Sets [[NoDelayProperty]] to `true`
    * first, but only when it is unset: an operator's
    * `-Dsun.net.httpserver.nodelay=false` is kept as given.
    *
    * Limit: the JDK reads the property once per JVM, at the first
    * `HttpServer.create`. If another HttpServer was created earlier in the
    * same JVM, the property set here has no effect and Nagle stays as that
    * first creation found it; nothing outside the JDK's internals can
    * detect this. */
  def httpServer(port: Int): HttpServer = {
    System.getProperties.putIfAbsent(NoDelayProperty, "true")
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  }
}

class GraftServer(spark: SparkSession, root: String, port: Int = 0) {
  private val catalog = new GraftCatalog(spark, root)
  private val server = GraftServer.httpServer(port)
  // A small pool instead of the r13 single thread, gated by [[routeGate]]:
  // driver-local probe routes run concurrently with each other (read lock —
  // they touch only immutable resident indexes, the synchronized rung
  // caches, and atomic-rename-published FS state), while every other route
  // holds the write lock and so keeps exactly the single-threaded execution
  // the catalog's resident-state maps assume. The concurrency this buys is
  // precisely the serve-stale-during-refresh story: probe requests keep
  // answering while one of them (or a flushDelta's eager fold) rebuilds a
  // rung — see [[localIndexFor]].
  private val requestPool = java.util.concurrent.Executors.newFixedThreadPool(16)
  server.setExecutor(requestPool)

  /** Two-lane request gate. Fair, so a burst of probes cannot starve a
    * mutation (and vice versa). */
  private val routeGate = new java.util.concurrent.locks.ReentrantReadWriteLock(true)

  /** The read-lane routes: driver-local probes (plus ping). Everything
    * else — lifecycle, ingest, flush, the DISTRIBUTED searches (whose
    * prepared-plan and resident-state caches assume serialized access) —
    * takes the write lane. */
  private def isReadLane(method: String, parts: List[String]): Boolean =
    (method, parts) match {
      case ("POST", "collections" :: _ :: route :: Nil) =>
        route == "searchLocal" || route == "searchLocalPq" ||
          route == "searchLocalBin" || route == "searchLocalMulti"
      case ("GET", "ping" :: Nil) => true
      case _ => false
    }

  /** Lazily-built driver-local serving rungs, keyed by (collection, rung)
    * — "ivf", "pq" (ADC codes, m bytes/vector), "bin" (sign codes,
    * ceil(dim/8) bytes/vector) and "multi" (routed CFLAT) — serving the
    * FLUSHED snapshot at the PUBLISHED HEAD: every request version-compares
    * the cached entry against the meta it already read and folds a lagging
    * rung forward O(changes) ([[localIndexFor]]), so a flushDelta from
    * another driver on the same root is visible at the next request.
    * Flush/drop still invalidate eagerly (chain-base moves rebuild anyway;
    * drop releases the memory). Resident-state mutations stay invisible
    * until a flush publishes them — by contract. */
  private val localRungs =
    scala.collection.mutable.Map.empty[(String, String), (Int, graft.ann.LocalRung)]

  /** Evict every cached rung of `name`. */
  private def dropLocalRungs(name: String): Unit =
    localRungs.synchronized(localRungs.filterInPlace { case ((n, _), _) => n != name })

  def boundPort: Int = server.getAddress.getPort

  def start(): Unit = { server.createContext("/", handler _); server.start() }
  // the request pool is NON-daemon: without the shutdown a stopped server
  // would keep its host JVM alive (a library caller's main would hang)
  def stop(): Unit = { server.stop(0); requestPool.shutdown() }

  // ---- routing ----

  private def handler(ex: HttpExchange): Unit = {
    val method = ex.getRequestMethod
    val parts = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).toList
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val isRead = isReadLane(method, parts)
    val lock = if (isRead) routeGate.readLock() else routeGate.writeLock()
    lock.lock()
    val (status, json) =
      try route(method, parts, body)
      catch {
        case e @ (_: IllegalArgumentException | _: IllegalStateException |
                  _: MappingException | _: GraftCatalog.ConcurrentFlushException) =>
          400 -> err(e)
        case e: com.fasterxml.jackson.core.JsonProcessingException =>
          400 -> err(e) // malformed request JSON
        // analyzer raise_error surfaces as a SparkRuntimeException (a
        // private[spark] type — matched by name) directly, or as a
        // SparkException wrapping the executor-side failure. Only those
        // validation shapes are client errors; a SparkException whose root
        // cause is anything else (executor loss, storage IO, OOM) is a
        // genuine server-side failure → 500.
        case e: org.apache.spark.SparkException =>
          val rc = rootCause(e)
          if (isClientError(rc)) 400 -> err(rc) else 500 -> err(rc)
        case e: RuntimeException if e.getClass.getName.startsWith("org.apache.spark.Spark") =>
          400 -> err(rootCause(e))
        case e: Throwable => 500 -> err(e)
      }
    // Deferred eager fold (r14): the flushDelta route publishes under the
    // write lock, then DOWNGRADES (acquire read, release write) so the
    // O(changes) fold of the just-published segment excludes only
    // mutations — probe requests proceed and serve the resident previous
    // version through the build-lock tryLock until the fold swaps the
    // fresh rung in, and the flushDelta CLIENT gets its response before
    // the fold runs (the publish is durable; the fold is a cache refresh).
    // Without the downgrade, every probe of every collection queued at the
    // route gate for the fold's duration. refreshLocalEntries never throws
    // (it degrades to drop-and-lazy-rebuild internally).
    val foldName = if (isRead) null else { val n = deferredFold.get(); deferredFold.remove(); n }
    if (foldName != null) { routeGate.readLock().lock(); lock.unlock() }
    else lock.unlock()
    try {
      val bytes = json.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(status, bytes.length)
      try ex.getResponseBody.write(bytes) finally ex.close()
    } finally if (foldName != null) {
      try refreshLocalEntries(foldName)
      finally routeGate.readLock().unlock()
    }
  }

  /** Reader-under-vacuum recovery (vacuum's documented cross-driver
    * contract is immediate deletion + LOUD reader failure): a resident plan
    * anchored on a version another driver's vacuum removed fails with
    * FileNotFoundException at evaluation. To an HTTP client that's a
    * retryable race it cannot even observe — so the serving path re-anchors
    * ONCE on the current published head (the same re-load the flush path's
    * StaleResidentException demands) and re-runs the request. Bounded: one
    * retry, only on the file-gone signature; unflushed resident mutations
    * the re-load discards were already unpublishable (anchor below head),
    * and the snapshot rungs (ivf/pq/binary — no residency required) recover
    * via the cache purge alone, their re-run reading the fresh head's meta.
    * If the recovery itself fails (collection dropped mid-race), the
    * ORIGINAL failure surfaces with the recovery failure suppressed. */
  private def withVacuumRecovery[A](name: String)(body: => A): A =
    try body catch {
      case e: Throwable if isFileGone(e) =>
        try catalog.recoverAfterVacuumRace(name)
        catch { case re: Throwable => e.addSuppressed(re); throw e }
        body
    }

  /** FileNotFoundException anywhere in the cause chain, or Spark's wrapped
    * rendering of one (task failures sometimes carry only the message). */
  private def isFileGone(e: Throwable): Boolean = {
    var c: Throwable = e; var n = 0
    while (c != null && n < 32) {
      if (c.isInstanceOf[java.io.FileNotFoundException]) return true
      val m = c.getMessage
      if (m != null && m.contains("FileNotFoundException")) return true
      val next = c.getCause
      c = if (next eq c) null else next
      n += 1
    }
    false
  }

  /** Validation/analyzer failure shapes: engine `require`/state-machine
    * errors and `raise_error` (SparkRuntimeException, matched by name — a
    * private[spark] type). */
  private def isClientError(rc: Throwable): Boolean = rc match {
    case _: IllegalArgumentException | _: IllegalStateException => true
    case r: RuntimeException => r.getClass.getName.startsWith("org.apache.spark.Spark")
    case _ => false
  }

  private def rootCause(e: Throwable): Throwable = {
    var c = e
    while (c.getCause != null && (c.getCause ne c)) c = c.getCause
    c
  }

  private def err(e: Throwable): String =
    JsonMethods.compact(JObject("error" ->
      JString(Option(e.getMessage).getOrElse(e.getClass.getSimpleName).linesIterator.take(1).mkString)))

  private def route(method: String, parts: List[String], body: String): (Int, String) =
    (method, parts) match {
      case ("GET", "ping" :: Nil) => ok(JObject("ok" -> JBool(true)))
      case ("GET", "collections" :: Nil) =>
        ok(JObject("collections" -> JArray(catalog.listCollections().map(JString(_)).toList)))
      case ("POST", "collections" :: Nil) =>
        val meta = parseMeta(JsonMethods.parse(body))
        catalog.createCollection(meta)
        ok(JObject("created" -> JString(meta.name)))
      case ("GET", "collections" :: name :: Nil) => ok(infoJson(name))
      case ("DELETE", "collections" :: name :: Nil) =>
        requireExists(name); catalog.dropCollection(name); dropLocalRungs(name)
        // the route gate keeps every read-lane builder out while this runs
        localBuildLocks.remove(name)
        ok(JObject("dropped" -> JString(name)))
      case ("POST", "collections" :: name :: "load" :: Nil) =>
        catalog.loadCollection(name); ok(infoJson(name))
      case ("POST", "collections" :: name :: "release" :: Nil) =>
        requireExists(name); catalog.releaseCollection(name)
        ok(JObject("released" -> JString(name)))
      case ("POST", "collections" :: name :: "flush" :: Nil) =>
        val v = catalog.flush(name)
        // a new snapshot version supersedes the cached serving indexes
        dropLocalRungs(name)
        ok(JObject("version" -> JInt(v)))
      // pre-touch the serving layout's pages (README "Cold-probe
      // envelope"): optional {"cells":[...]} warms only those cells —
      // partition-pruned like the probes it is warming for
      case ("POST", "collections" :: name :: "warm" :: Nil) =>
        val cells = (if (body.isEmpty) JObject() else JsonMethods.parse(body)) \ "cells" match {
          case JArray(cs) => cs.map(c => num(c).toLong)
          case _ => Nil
        }
        ok(JObject("warmedRows" -> JInt(catalog.warmCells(name, cells))))
      case ("POST", "collections" :: name :: "flushDelta" :: Nil) =>
        val v = catalog.flushDelta(name)
        // r13: a delta segment is O(changes), so resident local rungs FOLD
        // it (GraftCatalog.refreshLocal) instead of being dropped
        // into a full O(corpus) reload on the next probe — the reference
        // HNSW's online-insert property on the batch-first split. A failed
        // fold degrades to the old behavior (drop, lazy rebuild).
        // r14: the fold runs AFTER this route's write lock DOWNGRADES to a
        // read lock (the handler's deferred-fold seam) — probes arriving
        // during the fold serve the resident previous version via the
        // build-lock tryLock instead of queueing at the route gate.
        deferredFold.set(name)
        ok(JObject("version" -> JInt(v)))
      case ("POST", "collections" :: name :: "export" :: Nil) =>
        val dest = JsonMethods.parse(body) \ "destRoot" match {
          case JString(p) if p.nonEmpty => p
          case _ => throw new IllegalArgumentException(
            "export requires {\"destRoot\": \"<catalog root>\"}")
        }
        catalog.exportCollection(name, dest)
        ok(JObject("exported" -> JString(name), "destRoot" -> JString(dest)))
      // write half of the edge migration: the flushed snapshot as a NATIVE
      // coltt edge bucket (meta.json + vertex blob + roaring64 inverted
      // index) a running reference node loads verbatim
      case ("POST", "collections" :: name :: "exportColtt" :: Nil) =>
        val dest = JsonMethods.parse(body) \ "destDir" match {
          case JString(p) if p.nonEmpty => p
          case _ => throw new IllegalArgumentException(
            "exportColtt requires {\"destDir\": \"<bucket dir>\"}")
        }
        // the export is the LONGEST snapshot read the server runs — the
        // request most likely to race a cross-driver vacuum (the failed
        // attempt cleans its partial output, so the re-anchored retry sees
        // an empty destination again)
        withVacuumRecovery(name) {
          val n = graft.interop.ColttExport.exportEdgeCollection(spark, catalog, name, dest)
          ok(JObject("exported" -> JString(name), "rows" -> JInt(n),
            "destDir" -> JString(dest)))
        }
      case ("POST", "collections" :: name :: "insert" :: Nil) =>
        val rows = JsonMethods.parse(body) \ "rows" match {
          case JArray(rs) => rs.collect { case o: JObject => o }
          case _ => throw new IllegalArgumentException("body must be {\"rows\": [{...}]}")
        }
        require(rows.nonEmpty, "rows must not be empty")
        catalog.insert(name, jsonRowsToDf(catalog.getMeta(name), rows))
        ok(JObject("inserted" -> JInt(rows.length)))
      case ("POST", "collections" :: name :: "delete" :: Nil) =>
        catalog.delete(name, parseFilter(JsonMethods.parse(body) \ "filter"))
        ok(JObject("ok" -> JBool(true)))
      case ("POST", "collections" :: name :: "search" :: Nil) =>
        val req = JsonMethods.parse(body)
        val vector = parseVector(req, "search")
        val topK = intOr(req, "topK", 10)
        val filter = optFilter(req)
        val offset = intOr(req, "offset", 0)
        val minScore = (req \ "minScore").toOption.map(num)
        // plan-once/execute-many: repeated requests of one shape swap the
        // query vector into a compiled physical plan instead of paying
        // ~22-43 ms of Catalyst re-analysis per request (PLANS.md r8 probe);
        // rows come back driver-side, so serialization is also job-free
        withVacuumRecovery(name) {
          val (schema, rows) = catalog.searchPrepared(name, vector, topK, filter, offset, minScore)
          rowsJson(schema, rows)
        }
      // hybrid search (v3 HybridSearch RPC): ANN over-fetch intersected
      // with the metadata-filter candidates
      case ("POST", "collections" :: name :: "searchHybrid" :: Nil) =>
        val req = JsonMethods.parse(body)
        val vector = parseVector(req, "searchHybrid")
        val topK = intOr(req, "topK", 10)
        val overFetch = intOr(req, "overFetch", 3)
        val filter = req \ "filter" match {
          case JNothing => throw new IllegalArgumentException(
            "searchHybrid requires \"filter\" (use search for pure similarity)")
          case f => parseFilter(f)
        }
        // plan-once/execute-many like /search — the hybrid shape (topK +
        // filter tree + overFetch) compiles once, the vector swaps per
        // request (this was the last request route paying plan-per-call)
        withVacuumRecovery(name) {
          val (schema, rows) =
            catalog.searchHybridPrepared(name, vector, topK, filter, overFetch)
          rowsJson(schema, rows)
        }
      // IVF probes over the flushed cell-partitioned snapshot: the
      // distributed directory-pruned scan, and the driver-local in-process
      // index (the point-latency path; see LocalIvfIndex)
      case ("POST", "collections" :: name :: "searchIvf" :: Nil) =>
        val req = JsonMethods.parse(body)
        val (vector, topK, nprobe) = parseProbe(req, "searchIvf")
        val filter = optFilter(req)
        // r12: plan-once/execute-many — the query vector AND the probed
        // cell set swap into the compiled plan (partition pruning
        // re-evaluates per request); falls back to plan-per-call inside
        withVacuumRecovery(name) {
          val (schema, rows) = catalog.searchIvfPrepared(name, vector, topK, nprobe, filter)
          rowsJson(schema, rows)
        }
      // Batch retrieval (the knnJoin primitive over the IVF layout): the k
      // nearest rows for EVERY query of a batch in ONE Spark plan — the
      // retrieval-augmentation shape, amortizing the per-job dispatch floor
      // across the whole batch instead of paying it per query. Bounded like
      // every rows route: ≤ 1024 queries per call (a bigger batch is a bulk
      // job — run knnJoin as a library call), topK-bounded output per query.
      case ("POST", "collections" :: name :: "searchBatch" :: Nil) =>
        val req = JsonMethods.parse(body)
        val queries = req \ "queries" match {
          case JArray(qs) => qs.map { q =>
            val qid = q \ "id" match {
              case JString(s) => s
              case JInt(v) => v.toString
              case JLong(v) => v.toString
              case _ => throw new IllegalArgumentException(
                "each query requires \"id\" (string or integer)")
            }
            val vec = q \ "vector" match {
              case JArray(xs) => xs.map(num(_).toFloat).toArray
              case _ => throw new IllegalArgumentException(
                s"query $qid requires \"vector\": [..]")
            }
            qid -> vec
          }
          case _ => throw new IllegalArgumentException(
            "searchBatch requires \"queries\": [{\"id\":.., \"vector\":[..]}]")
        }
        require(queries.size <= 1024,
          s"searchBatch is capped at 1024 queries per call, got ${queries.size}")
        val topK = intOr(req, "topK", 10)
        val nprobe = intOr(req, "nprobe", 4)
        val batchFilter = optFilter(req)
        withVacuumRecovery(name)(
          rowsJson(catalog.searchBatch(name, queries, topK, nprobe, batchFilter)))
      // Recall audit of the IVF probe (ann_recall as an API): both arms run
      // the SAME knnJoin path (exact = nprobe at all cells), queries are
      // the id-hash 1/sampleMod sample of the collection — the caller
      // sizes sampleMod so the audit (and this response) stays bounded
      case ("POST", "collections" :: name :: "audit" :: Nil) =>
        val req = JsonMethods.parse(body)
        val sampleMod = intOr(req, "sampleMod", 101).toLong
        val k = intOr(req, "k", 10)
        val auditFilter = optFilter(req)
        // "rung" picks the approximate path being certified: the IVF probe
        // (nprobe dial), the PQ ADC+rerank (overFetch dial, optional nprobe
        // for the probed IVF-PQ shape), or the binary Hamming+rerank
        // (overFetch dial) — one audit route for the ladder. A dial the
        // selected rung never reads is REJECTED, not ignored: a caller
        // auditing with a dial that silently never took effect would trust
        // a number that certifies a different path (the requireNoFilter
        // loud-refusal discipline).
        val rung = (req \ "rung").toOption.collect { case JString(s) => s }.getOrElse("ivf")
        def rejectDial(field: String): Unit =
          require((req \ field).toOption.isEmpty,
            s"audit rung '$rung' does not read \"$field\" — remove it " +
              "(it would silently not take effect)")
        withVacuumRecovery(name)(rowsJson(rung match {
          case "ivf" =>
            rejectDial("overFetch")
            catalog.auditRecall(name, sampleMod, intOr(req, "nprobe", 4), k, auditFilter)
          case "pq" =>
            catalog.auditRecallPq(name, sampleMod, k, intOr(req, "overFetch", 4), auditFilter,
              nprobe = (req \ "nprobe").toOption.map(num(_).toInt))
          case "bin" =>
            rejectDial("nprobe")
            catalog.auditRecallBin(name, sampleMod, k, intOr(req, "overFetch", 3), auditFilter)
          case "multi" =>
            // the multi-vector IVF probe: weights give the (field, ratio)
            // scoring under audit (the ratios a serving client would use);
            // no filter — searchMultiIvf defines none (CFLAT parity)
            rejectDial("overFetch")
            rejectDial("filter")
            val weights = parseWeights(req, "audit rung 'multi'")
            catalog.auditRecallMulti(name, sampleMod, intOr(req, "nprobe", 4), weights, k)
          case other => throw new IllegalArgumentException(
            s"unknown audit rung: $other (expected ivf, pq, bin, or multi)")
        }))
      // PQ ADC search over the flushed code layout (optionally reranked
      // exactly over the stored vectors)
      case ("POST", "collections" :: name :: "searchPq" :: Nil) =>
        val req = JsonMethods.parse(body)
        val vector = parseVector(req, "searchPq")
        val topK = intOr(req, "topK", 10)
        val rerank = (req \ "rerank").toOption.collect { case JBool(b) => b }.getOrElse(true)
        val overFetch = intOr(req, "overFetch", 4)
        val nprobe = (req \ "nprobe").toOption.map(num(_).toInt)
        val pqFilter = optFilter(req)
        // r12: residual layouts serve the ADC pass plan-once (query vector
        // + probed cell set swap); raw layouts fall back inside
        withVacuumRecovery(name) {
          val (schema, rows) =
            catalog.searchPqPrepared(name, vector, topK, rerank, overFetch, nprobe, pqFilter)
          rowsJson(schema, rows)
        }
      // two-pass binary search: Hamming prefilter over the packed
      // sign-code column, exact rerank on the stored vectors
      case ("POST", "collections" :: name :: "searchBinary" :: Nil) =>
        val req = JsonMethods.parse(body)
        val vector = parseVector(req, "searchBinary")
        val topK = intOr(req, "topK", 10)
        val overFetch = intOr(req, "overFetch", 3)
        val binFilter = optFilter(req)
        // r12: the corpus-sized Hamming pass is plan-once (query code
        // swaps); the bounded rerank stays plan-per-call for its parquet
        // pushdown — see GraftCatalog.exactRerank
        withVacuumRecovery(name) {
          val (schema, rows) =
            catalog.searchBinaryPrepared(name, vector, topK, overFetch, binFilter)
          rowsJson(schema, rows)
        }
      case ("POST", "collections" :: name :: "searchLocal" :: Nil) =>
        val req = JsonMethods.parse(body)
        // r11: conjunctive-EQ filters serve from the index's typed local
        // store (the reference's inverted-index EQ fast path at local-rung
        // latency); every other filter shape still refuses loudly
        val eq = localEqFilter(req, "searchLocal")
        val (vector, topK, nprobe) = parseProbe(req, "searchLocal")
        // ONE meta read serves both the freshness compare and the query
        // prep (the read this route always paid)
        val cmeta = catalog.getMeta(name)
        val idx = localIndexFor("ivf", name, eq, cmeta.currentVersion)(
          catalog.localIvfIndex(name, _))
        // The SAME query prep as the distributed probes (normalize when
        // cosine, quantize round-trip when quantized) — the local index
        // serves decoded vectors, so an unprepared query would rank
        // differently on quantized collections.
        val qv = GraftCatalog.prepareQueryVector(vector, cmeta)
        200 -> hitsJson(idx.search(qv, topK, nprobe, eq))
      // driver-local ADC probe over the PQ code layout (the memory-scale
      // serving rung: m bytes/vector resident; approximate ranking — exact
      // answers go through searchPq's rerank)
      case ("POST", "collections" :: name :: "searchLocalPq" :: Nil) =>
        val req = JsonMethods.parse(body)
        // r12: conjunctive-EQ filters serve from the code layout's typed
        // local store, parity with searchPq(rerank=false, filter)
        val eq = localEqFilter(req, "searchLocalPq")
        val (vector, topK, nprobe) = parseProbe(req, "searchLocalPq")
        val cmeta = catalog.getMeta(name)
        val idx = localIndexFor("pq", name, eq, cmeta.currentVersion)(
          catalog.localPqIndex(name, _))
        val qv = GraftCatalog.prepareQueryVector(vector, cmeta)
        200 -> hitsJson(idx.search(qv, topK, nprobe, eq))
      // driver-local Hamming probe over the packed sign-code layout (the
      // density-scale serving rung; approximate ranking — exact answers go
      // through searchBinary's rerank)
      case ("POST", "collections" :: name :: "searchLocalBin" :: Nil) =>
        val req = JsonMethods.parse(body)
        val eq = localEqFilter(req, "searchLocalBin")
        val vector = parseVector(req, "searchLocalBin")
        val topK = intOr(req, "topK", 10)
        val cmeta = catalog.getMeta(name)
        val idx = localIndexFor("bin", name, eq, cmeta.currentVersion)(
          catalog.localBinIndex(name, _))
        val qv = GraftCatalog.prepareQueryVector(vector, cmeta)
        200 -> hitsJson(idx.search(qv, topK, eq))
      // experimental CFLAT weighted multi-vector search
      // (ExperimentalMultiVectorRpc/VectorSearch, experimental.proto:19)
      case ("POST", "collections" :: name :: "searchMulti" :: Nil) =>
        val req = JsonMethods.parse(body)
        // the experimental CFLAT engine defines no filtered multi-vector
        // search (no FilterExpression in experimental.proto) — refuse
        // rather than silently return unfiltered hits
        requireNoFilter(req, "searchMulti")
        val fields = parseMultiFields(req, "searchMulti")
        val topK = (req \ "topK").toOption.map(num(_).toInt).getOrElse(10)
        // same plan-once/execute-many model as /search: the (field, ratio,
        // include) shape compiles once, each request swaps the vectors
        withVacuumRecovery(name) {
          val (schema, rows) = catalog.searchMultiPrepared(name, fields, topK)
          rowsJson(schema, rows)
        }
      // Probed multi-vector search over the routing-field IVF layout — the
      // pruned CFLAT path (GraftCatalog.searchMultiIvf): nprobe cells
      // selected by the ROUTING field's query, the weighted multi-field
      // score ranked inside them. r12: plan-once/execute-many — the probed
      // cell set swaps as ONE array literal in the scan's partition filter,
      // so the shape is cacheable now (pruning re-evaluates per request).
      case ("POST", "collections" :: name :: "searchMultiIvf" :: Nil) =>
        val req = JsonMethods.parse(body)
        requireNoFilter(req, "searchMultiIvf")
        val fields = parseMultiFields(req, "searchMultiIvf")
        val topK = intOr(req, "topK", 10)
        val nprobe = intOr(req, "nprobe", 4)
        withVacuumRecovery(name) {
          val (schema, rows) = catalog.searchMultiIvfPrepared(name, fields, topK, nprobe)
          rowsJson(schema, rows)
        }
      // batch retrieval over the multi-vector IVF layout: one plan for the
      // whole batch — weights fix the (field, ratio) scoring; each query
      // carries one vector per weighted field plus the routing field
      case ("POST", "collections" :: name :: "searchBatchMulti" :: Nil) =>
        val req = JsonMethods.parse(body)
        requireNoFilter(req, "searchBatchMulti")
        val weights = parseWeights(req, "searchBatchMulti")
        val queries = req \ "queries" match {
          case JArray(qs) => qs.map { q =>
            val qid = q \ "id" match {
              case JString(s) => s
              case _ => throw new IllegalArgumentException("query requires \"id\"")
            }
            val vecs = q \ "vectors" match {
              case JObject(fs) => fs.map { case (f, v) => f -> (v match {
                case JArray(xs) => xs.map(num(_).toFloat).toArray
                case _ => throw new IllegalArgumentException(
                  s"query $qid: field $f vector must be [..]")
              })}.toMap
              case _ => throw new IllegalArgumentException(
                s"query $qid requires \"vectors\": {field: [..], ..}")
            }
            (qid, vecs)
          }
          case _ => throw new IllegalArgumentException(
            "searchBatchMulti requires \"queries\": [{\"id\":..,\"vectors\":{..}}]")
        }
        require(queries.size <= 1024,
          s"searchBatchMulti is capped at 1024 queries per call, got ${queries.size}")
        val topK = intOr(req, "topK", 10)
        val nprobe = intOr(req, "nprobe", 4)
        withVacuumRecovery(name)(
          rowsJson(catalog.searchBatchMulti(name, weights, queries, topK, nprobe)))
      // driver-local multi-vector probe over the routed IVF layout — the
      // CFLAT point-latency rung (no Spark job; ranking parity with
      // searchMultiIvf at the same nprobe)
      case ("POST", "collections" :: name :: "searchLocalMulti" :: Nil) =>
        val req = JsonMethods.parse(body)
        requireNoFilter(req, "searchLocalMulti")
        val fields = parseMultiFields(req, "searchLocalMulti")
        val topK = intOr(req, "topK", 10)
        val nprobe = intOr(req, "nprobe", 4)
        val cmeta = catalog.getMeta(name)
        // same head-freshness discipline as the single-vector local rungs
        // (no EQ store on the CFLAT rung, so the shape check is vacuous)
        val idx = localIndexFor("multi", name, Nil, cmeta.currentVersion)(
          _ => catalog.localMultiIndex(name))
        // same query prep as the distributed probes (normalize when cosine,
        // quantize round-trip when quantized) — the local index serves
        // decoded vectors
        val fq = fields.map(f => graft.ann.LocalMultiIndex.FieldQ(f.vectorCol,
          GraftCatalog.prepareQueryVector(f.queryVector, cmeta), f.ratio, f.include))
        200 -> scoresJson(idx.search(fq, topK, nprobe))
      // Version CDC: net changes between two snapshot versions. mode=log is
      // the O(changes) ledger fold (delta windows only), mode=diff the
      // exact state diff; auto (default) tries the cheap path and falls
      // back across compaction boundaries / from=0.
      case ("POST", "collections" :: name :: "changes" :: Nil) =>
        val req = JsonMethods.parse(body)
        val cmeta = catalog.getMeta(name)
        val from = num(req \ "from").toInt
        val to = (req \ "to").toOption.map(num(_).toInt).getOrElse(cmeta.currentVersion)
        // every other rows route is topK-bounded; an unbounded diff would
        // collect the collection into one driver-side JSON string
        val limit = (req \ "limit").toOption.map(num(_).toInt).getOrElse(10000)
        require(limit >= 1, "limit must be >= 1")
        val mode = (req \ "mode").toOption.collect { case JString(s) => s }.getOrElse("auto")
        val out = mode match {
          case "log"  => catalog.changeLogBetween(name, from, to)
          case "diff" => catalog.stateDiff(name, from, to)
          case "auto" =>
            // IllegalArgumentException: window not ledger-answerable (from=0
            // / compaction boundary). IllegalStateException: a vacuumed
            // intermediate segment inside the window — the endpoint versions
            // may both still be readable, so the exact state diff (which
            // itself fails loudly if an endpoint is truly gone) still
            // answers.
            try catalog.changeLogBetween(name, from, to)
            catch {
              case _: IllegalArgumentException | _: IllegalStateException =>
                catalog.stateDiff(name, from, to)
            }
          case other => throw new IllegalArgumentException(
            s"unknown mode: $other (log | diff | auto)")
        }
        // a CDC result has a completeness contract a topK search does not:
        // fetch limit+1 and SAY when the window was cut so an applier never
        // mistakes a truncated change set for the whole diff (clamped —
        // limit = Int.MaxValue must not wrap +1 into a negative limit)
        val fetched = out.orderBy("op", cmeta.idColumn)
          .limit(math.min(limit, Int.MaxValue - 1) + 1).toJSON.collect()
        200 -> ("{\"rows\":[" + fetched.take(limit).mkString(",") +
          "],\"truncated\":" + (fetched.length > limit) + "}")
      // standalone two-vector distance+score (CompareDist RPC,
      // core/core.go:841-867)
      case ("POST", "compare" :: Nil) =>
        val req = JsonMethods.parse(body)
        def vec(k: String) = req \ k match {
          case JArray(xs) => xs.map(num(_).toFloat).toArray
          case _ => throw new IllegalArgumentException(s"compare requires \"$k\": [..]")
        }
        val metric = (req \ "metric").toOption.collect { case JString(s) => s }.getOrElse("cosine")
        val (a, b) = (vec("a"), vec("b"))
        require(a.length == b.length, s"vector dimension mismatch: ${a.length} vs ${b.length}")
        import org.apache.spark.sql.functions.{lit, round => sround}
        val out = spark.range(1).select(
          sround(graft.functions.distance(lit(a), lit(b), metric), 6).as("dist"),
          sround(graft.functions.score_from_distance(
            graft.functions.distance(lit(a), lit(b), metric), metric), 4).as("score"))
        rowsJson(out)
      case _ => 404 -> "{\"error\":\"no such route\"}"
    }

  private def rowsJson(df: DataFrame): (Int, String) =
    200 -> ("{\"rows\":[" + df.toJSON.collect().mkString(",") + "]}")

  /** [[rowsJson]] for rows already on the driver (the prepared-search
    * path): same wire shape as `df.toJSON` — schema field order, null
    * fields omitted — without launching a serialization job. */
  private def rowsJson(schema: StructType, rows: Seq[Row]): (Int, String) =
    200 -> JsonMethods.compact(JObject("rows" -> JArray(rows.toList.map { r =>
      JObject(schema.fields.toList.zipWithIndex.collect {
        case (f, i) if !r.isNullAt(i) => f.name -> valueJson(r.get(i))
      })
    })))

  private def valueJson(v: Any): JValue = v match {
    case null                       => JNull
    case s: String                  => JString(s)
    case b: Boolean                 => JBool(b)
    case b: Byte                    => JInt(BigInt(b))
    case s: Short                   => JInt(BigInt(s))
    case i: Int                     => JInt(BigInt(i))
    case l: Long                    => JInt(BigInt(l))
    // shortest-decimal text, matching Jackson's float/double rendering in
    // df.toJSON (JDouble(f.toDouble) would print 0.1f as 0.100000001…).
    // Non-finite values have no BigDecimal (NumberFormatException → a 500
    // where the old toJSON path answered): Jackson quotes them
    // (QUOTE_NON_NUMERIC_NUMBERS default), so "NaN"/"Infinity" strings
    // keep the wire shape — reachable via cosine's zero-norm NaN distance.
    case f: Float                   =>
      if (java.lang.Float.isFinite(f)) JDecimal(BigDecimal(f.toString)) else JString(f.toString)
    case d: Double                  =>
      if (java.lang.Double.isFinite(d)) JDecimal(BigDecimal(d.toString)) else JString(d.toString)
    case d: java.math.BigDecimal    => JDecimal(BigDecimal(d))
    case d: BigDecimal              => JDecimal(d)
    case seq: Seq[_]                => JArray(seq.toList.map(valueJson))
    case m: Map[_, _]               => JObject(m.toList.map { case (k, x) => k.toString -> valueJson(x) })
    // struct fields serialize as nested objects (df.toJSON's wire shape) —
    // the toString fallthrough would silently quote them (r9 advice)
    case r: Row                     =>
      JObject(r.schema.fields.toList.zipWithIndex.map { case (f, i) =>
        f.name -> (if (r.isNullAt(i)) JNull else valueJson(r.get(i))) })
    case other                      => JString(other.toString) // timestamps/dates — not in search schemas
  }

  private def ok(j: JValue): (Int, String) = 200 -> JsonMethods.compact(j)

  private def requireExists(name: String): Unit =
    require(catalog.exists(name), s"collection $name does not exist")

  private def infoJson(name: String): JValue = {
    val i = catalog.info(name)
    JObject("name" -> JString(i.name), "rows" -> JLong(i.rows),
      "sizeBytes" -> JLong(i.sizeBytes), "version" -> JInt(i.version),
      "loaded" -> JBool(i.loaded))
  }

  // ---- JSON ⇄ engine shapes ----

  private def num(j: JValue): Double = j match {
    case JInt(v) => v.toDouble
    case JLong(v) => v.toDouble
    case JDouble(v) => v
    case JDecimal(v) => v.toDouble
    case other => throw new IllegalArgumentException(s"expected a number, got $other")
  }

  /** ONE definition of the query-vector field every search route shares —
    * a change to numeric coercion or validation lands once, not in each of
    * the eight routes that accept a vector. */
  private def parseVector(req: JValue, route: String): Array[Float] =
    req \ "vector" match {
      case JArray(xs) => xs.map(num(_).toFloat).toArray
      case _ => throw new IllegalArgumentException(s"$route requires \"vector\": [..]")
    }

  /** Defaulted optional integer field (topK / nprobe / overFetch / …). */
  private def intOr(req: JValue, field: String, default: Int): Int =
    (req \ field).toOption.map(num(_).toInt).getOrElse(default)

  /** Wire ratios accept fractions — a DOCUMENTED extension of the
    * reference's integer contract (experimental_analyzer.go parses int) —
    * but quantize to 2 dp at the parse boundary: the (field, ratio) list is
    * part of every prepared-plan cache key, so a client sending computed
    * floats (59.999999...) must land on ONE shape, not churn the LRU with
    * per-request keys that differ only in ulps. */
  private def parseRatio(j: JValue): Double =
    math.rint(num(j) * 100.0) / 100.0

  /** The (field, ratio) weight list — ONE parser for the multi audit rung
    * and `/searchBatchMulti`. */
  private def parseWeights(req: JValue, route: String): Seq[(String, Double)] =
    req \ "weights" match {
      case JArray(ws) => ws.map { w =>
        (w \ "field" match {
          case JString(s) => s
          case _ => throw new IllegalArgumentException("weight requires \"field\"")
        }, parseRatio(w \ "ratio"))
      }
      case _ => throw new IllegalArgumentException(
        s"$route requires " + "\"weights\": [{\"field\":..,\"ratio\":..}]")
    }

  /** The multi-vector request's field list — ONE parser for the flat and
    * probed routes (`/searchMulti`, `/searchMultiIvf`). */
  private def parseMultiFields(req: JValue, route: String)
      : Seq[graft.operators.MultiVectorSearch.FieldQuery] =
    req \ "fields" match {
      case JArray(fs) => fs.map { f =>
        graft.operators.MultiVectorSearch.FieldQuery(
          vectorCol = f \ "vectorCol" match {
            case JString(s) => s
            case _ => throw new IllegalArgumentException("field requires \"vectorCol\"")
          },
          queryVector = parseVector(f, "field"),
          ratio = parseRatio(f \ "ratio"),
          include = (f \ "include").toOption.collect { case JBool(b) => b }.getOrElse(true))
      }
      case _ => throw new IllegalArgumentException(s"$route requires \"fields\": [..]")
    }

  /** (vector, topK, nprobe) of a local-probe request body — shared by the
    * searchLocal / searchLocalPq routes. */
  private def parseProbe(req: JValue, route: String): (Array[Float], Int, Int) =
    (parseVector(req, route), intOr(req, "topK", 10), intOr(req, "nprobe", 4))

  /** The serving rows payload — ONE definition of the hit wire format
    * (string-id escaping, round6 dist), so the two local serving rungs
    * cannot diverge on it. */
  private def hitsJson(hits: Seq[(AnyRef, Double)]): String =
    "{\"rows\":[" + hits.map { case (id, d) =>
      val idJson = id match {
        case s: String => JsonMethods.compact(JString(s))
        case other => other.toString
      }
      s"""{"id":$idJson,"dist":${graft.functions.DistKernels.round6(d)}}"""
    }.mkString(",") + "]}"

  /** The multi-vector hit wire format: a SCORE (higher-better display
    * value, already 4-dp), not a distance — same id escaping as
    * [[hitsJson]]. */
  private def scoresJson(hits: Seq[(AnyRef, Double)]): String =
    "{\"rows\":[" + hits.map { case (id, s) =>
      val idJson = id match {
        case str: String => JsonMethods.compact(JString(str))
        case other => other.toString
      }
      s"""{"id":$idJson,"score":$s}"""
    }.mkString(",") + "]}"

  /** Collection meta from the create-request JSON (mirrors proto
    * `Collection`, edge.proto:29-36). */
  private def parseMeta(j: JValue): CollectionMeta = {
    implicit val fmts: Formats = DefaultFormats
    val fields = (j \ "fields") match {
      case JArray(fs) => fs.map { f =>
        IndexField(
          name = (f \ "name").extract[String],
          fieldType = (f \ "fieldType").extract[String],
          enableNull = (f \ "enableNull").extractOrElse(false),
          primaryKey = (f \ "primaryKey").extractOrElse(false),
          dim = (f \ "dim").extractOpt[Int])
      }
      case _ => Nil
    }
    CollectionMeta(
      name = (j \ "name").extract[String],
      dim = (j \ "dim").extract[Int],
      distance = (j \ "distance").extractOrElse("cosine"),
      quantization = (j \ "quantization").extractOrElse("none"),
      fields = fields,
      versioning = (j \ "versioning").extractOrElse(false),
      ivfCells = (j \ "ivfCells").extractOpt[Int],
      schemaless = (j \ "schemaless").extractOpt[Boolean],
      ivfTrainIterations = (j \ "ivfTrainIterations").extractOpt[Int],
      pqSubspaces = (j \ "pqSubspaces").extractOpt[Int],
      pqCodewords = (j \ "pqCodewords").extractOpt[Int],
      pqTrainIterations = (j \ "pqTrainIterations").extractOpt[Int],
      ivfTrainSampleMod = (j \ "ivfTrainSampleMod").extractOpt[Long],
      pqTrainSampleMod = (j \ "pqTrainSampleMod").extractOpt[Long],
      binaryIndex = (j \ "binaryIndex").extractOpt[Boolean],
      routingField = (j \ "routingField").extractOpt[String])
  }

  /** The request's optional `"filter"` field, parsed — one definition for
    * every route that serves filtered results. */
  private def optFilter(req: JValue): Option[FilterExpr] =
    (req \ "filter").toOption.filter(_ != JNothing).map(parseFilter)

  /** Routes that serve UNFILTERED results (the PQ local rung holds only
    * codes; multi-vector search has no reference filter semantics) would
    * SILENTLY ignore a `filter` body field, returning unfiltered hits to a
    * caller who asked for filtered ones. Refuse loudly and point at the
    * rungs that do serve filters. */
  private def requireNoFilter(req: JValue, route: String): Unit =
    require((req \ "filter").toOption.forall(_ == JNothing),
      s"$route serves unfiltered probes and would ignore the filter; filtered " +
        "search is served by search/searchIvf/searchPq/searchBinary/searchBatch")

  /** Every declared scalar field — the columns the IVF/binary local rungs
    * load into their typed EQ store ([[graft.ann.LocalMeta]]; ~9
    * bytes/row/column next to the vector payload, so loading all of them is
    * the sane serving default). Schemaless collections have none (their
    * metadata lives in the string-coerced map). */
  private def localFilterableCols(name: String): Seq[String] = {
    val m = catalog.getMeta(name)
    if (m.isSchemaless) Nil else m.fields.filterNot(_.isVector).map(_.name)
  }

  /** One build lock per collection, shared by every cached rung of it: a
    * local-index (re)build is a multi-GB driver job, so two requests
    * upgrading the SAME collection must not both run it (one build wasted
    * + doubled peak memory), and serializing two DIFFERENT rungs of one
    * collection is the deliberate lesser evil for the same memory reason.
    * A ReentrantLock (not a monitor) so [[localIndexFor]] can `tryLock`:
    * a request that finds the lock HELD serves the resident stale entry
    * instead of blocking behind the build (serve-stale-during-refresh,
    * r13 verdict #1). DELETE removes the collection's lock with its rungs. */
  private val localBuildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()

  private def buildLockFor(name: String): java.util.concurrent.locks.ReentrantLock =
    localBuildLocks.computeIfAbsent(name, _ => new java.util.concurrent.locks.ReentrantLock)

  /** Test seam: runs inside the build-lock critical section, immediately
    * before a local-rung build or fold executes — lets a spec hold a
    * "slow rebuild" in place while concurrent probes prove they serve the
    * resident previous version without blocking. Never set in production. */
  @volatile private[graft] var localBuildHook: () => Unit = () => ()

  /** Set by the flushDelta route: the collection whose just-published delta
    * segment the handler folds into the resident rungs AFTER downgrading
    * the route gate from write to read (see the handler's deferred-fold
    * seam). ThreadLocal because the route result and the deferred action
    * must pair within one exchange. */
  private val deferredFold = new ThreadLocal[String]

  /** Fold the just-published delta segment(s) into every resident local
    * rung of `name` — O(changes) per rung — instead of dropping them into
    * a full O(corpus) reload on the next probe. Refresh errors degrade to
    * the pre-r13 behavior (drop the entry; the next request rebuilds) with
    * a stderr note, never fail the flushDelta that already published. */
  private def refreshLocalEntries(name: String): Unit =
    // under the same per-collection lock as localIndexFor (per rung): a
    // concurrent request must not rebuild/refresh the same collection while
    // this eager fold runs (double peak memory), and a failed fold here
    // must not remove an entry a racing request just replaced.
    // oversizeRebuilds=false: this fold runs INSIDE the flushDelta route,
    // so a window past the collect cap must not stall the publish on an
    // O(corpus) rebuild — RefreshTooLargeException lands in the generic
    // degrade (drop the entry; the next probe rebuilds lazily)
    localRungs.synchronized(localRungs.keys.filter(_._1 == name).toList).foreach { key =>
      val lock = buildLockFor(name)
      lock.lock()
      try localRungs.synchronized(localRungs.get(key)).foreach { case (v, idx) =>
        refreshRung(key, idx, v, oversizeRebuilds = false)
      } finally lock.unlock()
    }

  /** The fold step of both refresh paths, under the build lock: fold rung
    * `key` from its built version `v` to the published head and cache it.
    * A failed fold drops the entry (stderr note) and returns None. */
  private def refreshRung[A <: graft.ann.LocalRung](key: (String, String), idx: A, v: Int,
      oversizeRebuilds: Boolean): Option[A] =
    try {
      localBuildHook()
      val (ni, nv) = catalog.refreshLocal(key._1, idx, v, idx.filterableColumns.toSeq.sorted,
        oversizeRebuilds = oversizeRebuilds)
      localRungs.synchronized { localRungs(key) = (nv, ni) }
      Some(ni)
    } catch {
      case e: Exception =>
        System.err.println(
          s"graft: local-rung refresh of '${key._1}' failed (${e.getMessage}); " +
            "dropping the resident index")
        localRungs.synchronized { localRungs.remove(key) }
        None
    }

  /** Resolve a driver-local serving rung that answers the PUBLISHED HEAD
    * (r13): the route already read the collection meta for query prep, so
    * an exact version compare against the cached entry is free — a cached
    * rung whose version lags `head` (a flushDelta from THIS server that
    * raced the eager fold, or from ANOTHER DRIVER on the same root) folds
    * the missed delta window forward in place, O(changes)
    * ([[refreshRung]]; internal fallback: full rebuild when the chain base
    * moved). Before this, local rungs were the one row of the consistency
    * table that kept answering their built version until this server's own
    * flush routes fired — a cross-driver flushDelta was never seen. A
    * failed fold drops the resident entry and rebuilds fresh.
    *
    * This is also the ONE lazy-metadata / filtered-request-upgrade cache
    * rule of the local serving rungs (searchLocal / searchLocalPq /
    * searchLocalBin — r11 review, factored r12): metadata columns load
    * LAZILY, so an unfiltered client never pays the typed store's per-row
    * resident cost (string columns are ~40-60 bytes/row each — multi-GB at
    * 10M rows); the first FILTERED request upgrades the cached index to the
    * typed store, which serves unfiltered probes identically from then on.
    * A collection with NO filterable columns never upgrades — the filter
    * refuses inside search, so doomed requests don't loop rebuilds. */
  private def localIndexFor[A <: graft.ann.LocalRung](rung: String, name: String,
      eq: Seq[(String, Any)], head: Int)(build: Seq[String] => A): A = {
    val key = (name, rung)
    def cached: Option[(Int, A)] =
      localRungs.synchronized(localRungs.get(key)).map { case (v, i) => (v, i.asInstanceOf[A]) }
    // an entry is the right SHAPE when the request needs no EQ columns, or
    // the index carries its typed filter store, or the collection has no
    // filterable columns to carry
    def usable(i: A): Boolean =
      eq.isEmpty || i.filterableColumns.nonEmpty || localFilterableCols(name).isEmpty
    val resident = cached
    resident match {
      case Some((v, i)) if v == head && usable(i) => return i // fresh, lock-free
      case _ => ()
    }
    val lock = buildLockFor(name)
    // Serve-stale-during-refresh (r13 verdict #1): when ANOTHER request is
    // already folding/rebuilding a rung of this collection (the lock is
    // held), a usable resident entry answers IMMEDIATELY at its built
    // version — the adjacent previous head, exactly what the reader
    // contract already promises under the meta-last publish ("the old head
    // bit-for-bit") — instead of queueing O(fold) or O(corpus-rebuild)
    // behind the builder. The builder swaps the fresh index in atomically
    // (one cache write under the cache monitor) when done, so the next
    // probe serves the new head. Only a request with NOTHING usable
    // resident (cold cache, or a filtered request against an un-upgraded
    // entry) waits for the builder — it has no adjacent version to serve.
    if (!lock.tryLock()) {
      resident match {
        case Some((_, i)) if usable(i) => return i
        case _ => lock.lock()
      }
    }
    try {
      def buildAndCache(): A = {
        // version BEFORE the build: the index serves AT MOST this head, so
        // a flushDelta published mid-build re-folds rather than skips
        val version = catalog.getMeta(name).currentVersion
        localBuildHook()
        val built = build(if (eq.isEmpty) Nil else localFilterableCols(name))
        localRungs.synchronized { localRungs(key) = (version, built) }
        built
      }
      cached match {
        case Some((v, i)) if v == head && usable(i) => i
        case Some((v, i)) if usable(i) =>
          refreshRung(key, i, v, oversizeRebuilds = true).getOrElse(buildAndCache())
        case _ => buildAndCache()
      }
    } finally lock.unlock()
  }

  /** The request filter in the one shape the local rungs can answer from
    * their typed store: conjunctive EQ terms (the reference's
    * inverted-index fast path, pkg/inverted/search.go:32-46). Any other
    * tree refuses loudly, pointing at the distributed rungs — the
    * [[requireNoFilter]] contract narrowed to exactly what the store
    * cannot serve. */
  private def localEqFilter(req: JValue, route: String): Seq[(String, Any)] =
    optFilter(req) match {
      case None => Nil
      case Some(f) => FilterExpr.conjunctiveEq(f).getOrElse(
        throw new IllegalArgumentException(
          s"$route serves only conjunctive EQ filters (ANDs of '=' terms) from " +
            "its typed local store; range/OR/NEQ filters are served by " +
            "searchIvf/searchPq/searchBinary"))
    }

  /** Filter AST from JSON: `{"col","op","value"}` | `{"and":[..]}` |
    * `{"or":[..]}` — the proto FilterExpression tree (edge.proto:139-154). */
  private def parseFilter(j: JValue): FilterExpr = j \ "and" match {
    case JArray(cs) => FilterExpr.And(cs.map(parseFilter))
    case _ => j \ "or" match {
      case JArray(cs) => FilterExpr.Or(cs.map(parseFilter))
      case _ =>
        val colName = j \ "col" match {
          case JString(c) => c
          case _ => throw new IllegalArgumentException(
            "filter must be {col,op,value} or {and:[..]} or {or:[..]}")
        }
        val op = j \ "op" match {
          case JString(o) => o.toLowerCase match {
            case "eq" => FilterExpr.Eq; case "neq" => FilterExpr.Neq
            case "gt" => FilterExpr.Gt; case "gte" => FilterExpr.Gte
            case "lt" => FilterExpr.Lt; case "lte" => FilterExpr.Lte
            case other => throw new IllegalArgumentException(s"unknown op: $other")
          }
          case _ => throw new IllegalArgumentException("filter requires \"op\"")
        }
        val value: Any = j \ "value" match {
          case JString(s) => s
          case JBool(b) => b
          case JInt(v) => v.toLong
          case JLong(v) => v
          case JDouble(v) => v
          case JDecimal(v) => v.toDouble
          case other => throw new IllegalArgumentException(s"unsupported filter value: $other")
        }
        FilterExpr.Single(colName, op, value)
    }
  }

  /** JSON row objects → a typed DataFrame for the ingest analyzer. Numeric
    * metadata arrives as DoubleType so the analyzer's integral-check parity
    * (5.0 accepted as 5, 5.5 rejected — edge_analyzer.go:63-67) applies to
    * HTTP clients exactly as to library callers. */
  private def jsonRowsToDf(meta: CollectionMeta, rows: List[JObject]): DataFrame = {
    val keys: Seq[String] = rows.flatMap(_.obj.map(_._1)).distinct
    def sqlType(k: String): DataType =
      if (meta.isSchemaless) {
        if (k == graft.core.CoreMeta.IdKey) StringType
        else if (k == "vector") ArrayType(FloatType)
        else StringType
      } else meta.fields.find(_.name == k) match {
        case Some(f) if f.isVector => ArrayType(FloatType)
        case Some(f) => f.fieldType match {
          case "string" => StringType
          case "boolean" => BooleanType
          case _ => DoubleType // integer/float: analyzer coerces + checks
        }
        case None if k == "vector" => ArrayType(FloatType)
        case None => StringType // schemaless extras / unknown: analyzer rejects or coerces
      }
    val schema = StructType(keys.map(k => StructField(k, sqlType(k), nullable = true)))
    def coerce(v: JValue, t: DataType): Any = (v, t) match {
      case (JNull | JNothing, _) => null
      case (JArray(xs), ArrayType(FloatType, _)) => xs.map(num(_).toFloat)
      case (jv, DoubleType) => num(jv)
      case (JBool(b), BooleanType) => b
      case (JString(s), _) => s
      case (jv, StringType) => JsonMethods.compact(jv) match {
        case s if s.startsWith("\"") => s.substring(1, s.length - 1)
        case s => s
      }
      case (jv, t2) => throw new IllegalArgumentException(s"cannot coerce $jv to $t2")
    }
    val data: java.util.List[Row] = new java.util.ArrayList[Row]()
    rows.foreach { o =>
      val m = o.obj.toMap
      data.add(Row.fromSeq(keys.map(k => coerce(m.getOrElse(k, JNothing), sqlType(k)))))
    }
    spark.createDataFrame(data, schema)
  }
}
