package graft.collection

import scala.collection.mutable
import scala.reflect.runtime.universe.TypeTag

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Partitions, PreparedPlan}
import org.apache.spark.sql.types.{ArrayType, FloatType, ShortType, StringType, StructField,
  StructType}
import org.apache.spark.storage.StorageLevel

import graft.FilterExpr
import graft.functions.{dequantize, l2_normalize, quantize, QuantKernels}
import graft.operators.{MultiVectorSearch, Mutations, SearchRequest, VectorSearch}

/** Collection DDL + lifecycle (SURVEY.md §2.11): create / drop / get / load /
  * release / flush / insert / delete / search, with the reference's explicit
  * memory-residency state machine (edge/edge_state_manager.go — operations on
  * unloaded collections fail) mapped to Spark catalog bookkeeping +
  * cache()/unpersist().
  *
  * Storage layout per collection (§1.4 MinIO-bucket mapping):
  * `<root>/<name>/meta.json` + `<root>/<name>/v<N>/data.parquet`.
  * `versioning=true` keeps old snapshot dirs (S10 → time travel + vacuum);
  * otherwise flush prunes superseded versions. Meta is written LAST so a
  * partially-created collection is never visible (edge.go:179-185 rollback).
  *
  * Scale: a snapshot is plain partitioned parquet — loads are parallel scans,
  * flushes are distributed writes; nothing round-trips through the driver.
  */
class GraftCatalog(spark: SparkSession, root: String,
                   staleClaimMs: Long = GraftCatalog.DefaultStaleClaimMs) {
  import CollectionMeta.VectorCol

  /** User-facing vector column name on ingest/search results. */
  val UserVectorCol = "vector"

  /** One loaded collection's in-memory state — the reference's one
    * load/release state machine (edge/edge_state_manager.go) as one record.
    * Every operation builds its next record whole and then swaps it in, so
    * one that throws leaves the previous record — frame and ledger — intact.
    *
    * @param frame the RESIDENT state: the anchor plus every mutation since.
    * @param anchorVersion the published version the frame is anchored on,
    *   advanced by every publish. Publishing REQUIRES it to equal
    *   `meta.currentVersion`: a frame anchored below the head never folded
    *   the segments another driver published in between, so a full flush
    *   would compact those acknowledged, durable changes AWAY — silent
    *   cross-driver data loss the claim CAS cannot catch (the slot the
    *   stale writer claims IS free). Stale writers re-load (discarding
    *   unflushed local mutations) and retry.
    * @param anchorParts the scan parallelism of the anchor (the load or
    *   flush re-read): with defaultParallelism, [[commit]]'s partition bound.
    * @param mutations mutations since the load or the last full flush: the
    *   frame's lineage-cut cadence ([[LineageCutEvery]]).
    * @param knownEmpty the frame is the v0 empty relation (a load at v0,
    *   until the first row-adding mutation), so [[insert]] skips the
    *   upsert's anti-join+union against it — a dead plan every downstream
    *   flush/search of a create→load→insert lifecycle would otherwise carry.
    * @param ledger the changes since the last flush; None when none. */
  private case class Residency(frame: DataFrame, anchorVersion: Int, anchorParts: Int,
                               mutations: Int = 0, knownEmpty: Boolean = false,
                               ledger: Option[Ledger] = None) {
    def release(): Unit = { frame.unpersist(); ledger.foreach(_.rows.unpersist(false)) }
  }

  /** The pending-change ledger: every insert/delete/applyChanges batch
    * since the last flush as `(collection columns…, __op, __seq)` — puts
    * carry the validated row, deletes the pk with the rest NULL.
    * [[flushDelta]] writes EXACTLY this as an O(changes) delta segment — the
    * reference's append-a-WAL-segment shape (diskv/db.go bitcask segments)
    * instead of an O(corpus) rewrite per flush. `seq` is the last batch's
    * sequence number, which is also the batch count: the ledger's cadence. */
  private case class Ledger(rows: DataFrame, seq: Long)

  private val residents = mutable.Map.empty[String, Residency]

  /** Prepared (plan-once/execute-many) plans of every distributed search
    * route, keyed by (collection, SHAPE): the route's tag plus everything
    * that changes its plan except the per-request values (query vectors,
    * probed cell set, query code). An entry is valid ONLY for the exact
    * anchor object it was compiled against, so staleness is a reference
    * comparison, not an epoch protocol — a plan over replaced state is
    * unreachable by construction (PreparedSearchSpec pins this). Two
    * anchors exist: the flat, hybrid and multi routes anchor on the
    * RESIDENT DataFrame (every mutation ([[commit]]), load and release
    * swaps it); the IVF, PQ, binary and multi-IVF routes anchor on the
    * memoized [[indexedState]] snapshot (a new version is a new object).
    * `prepared = None` is a NEGATIVE entry: the shape's placeholder folded
    * away during planning, so it can never be parameterized — cached so a
    * request of that shape pays one failed compile per anchor, not one per
    * call. Bounded LRU ([[GraftCatalog.PreparedCacheMax]]): a serving
    * workload has few live shapes; filters with distinct VALUES are
    * distinct shapes and age out. The access-ordered map mutates its links
    * even on get(), so every touch synchronizes on it — the catalog is
    * public API and must not corrupt under a multi-threaded caller. */
  private case class PreparedEntry(anchor: AnyRef, prepared: Option[PreparedPlan.Prepared])
  private val preparedPlans =
    new java.util.LinkedHashMap[(String, Any), PreparedEntry](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Any), PreparedEntry]): Boolean =
        size() > GraftCatalog.PreparedCacheMax
    }

  /** The prepared plan of (`name`, `shape`) over `anchor`: a cached entry
    * compiled against this exact anchor, else `compile` — run OUTSIDE the
    * lock (a duplicate compile under a rare race is benign, holding the
    * lock through Catalyst planning is not). `None` is the negative entry. */
  private[graft] def preparedFor(name: String, shape: Any, anchor: AnyRef)(
      compile: => PreparedPlan.Prepared): Option[PreparedPlan.Prepared] = {
    val key = (name, shape)
    val cached = preparedPlans.synchronized {
      Option(preparedPlans.get(key)).filter(_.anchor eq anchor)
    }
    cached.getOrElse {
      val e =
        try PreparedEntry(anchor, Some(compile))
        catch {
          // ONLY the typed signal is cacheable: an unrelated ISE (stopped
          // session, codegen fault) must surface, never be cached as
          // "unparameterizable" against the anchor (r9 advice)
          case _: PreparedPlan.PlaceholderFoldedException => PreparedEntry(anchor, None)
        }
      preparedPlans.synchronized { preparedPlans.put(key, e) }
      e
    }.prepared
  }

  /** Compile a route's plan builder over one placeholder per value of
    * `like` (same kinds, positionally). */
  private def compilePlan(like: Seq[Any])(plan: Seq[Column] => DataFrame): PreparedPlan.Prepared = {
    val phs = like.map(PreparedPlan.placeholder)
    PreparedPlan.compile(plan(phs.map(_._1)), phs.map(_._2))
  }

  /** One request of a prepared route: `plan` is the route's ONE builder
    * over the per-request values as Columns. A hit swaps `values` into the
    * compiled plan; a negative entry runs the same builder over `lit`
    * values — the plan-per-call form, without re-resolving the route. */
  private[graft] def runPrepared(name: String, shape: Any, anchor: AnyRef, values: Seq[Any])(
      plan: Seq[Column] => DataFrame): (StructType, Seq[Row]) =
    preparedFor(name, shape, anchor)(compilePlan(values)(plan)) match {
      case Some(p) => (p.schema, p.run(values))
      case None    => collected(plan(values.map(v => lit(v))))
    }

  private def collected(df: DataFrame): (StructType, Seq[Row]) =
    (df.schema, df.collect().toIndexedSeq)

  /** Drop every prepared plan of `name` — called where the resident object
    * is swapped, so retired plan trees (and the unpersisted cache relations
    * they reference) don't linger until LRU eviction. A mutation changes
    * no published version, so it keeps the per-version artifacts. */
  private def dropPlans(name: String): Unit =
    preparedPlans.synchronized { preparedPlans.keySet().removeIf(_._1 == name) }

  /** Drop every prepared plan AND every per-version artifact of `name` —
    * flush, load, release, drop and vacuum recovery, where the resident
    * object is retired or a version number may come to mean other files. */
  private def invalidatePrepared(name: String): Unit = {
    dropPlans(name)
    releaseArtifacts(_._1 == name)
  }

  /** Remove and release every [[versionArtifacts]] entry whose key `drop`
    * selects. */
  private def releaseArtifacts(drop: ((String, Int, String)) => Boolean): Unit =
    versionArtifacts.synchronized {
      val it = versionArtifacts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (drop(e.getKey)) { GraftCatalog.releaseArtifact(e.getValue); it.remove() }
      }
    }

  /** Per-(name, version) cache of the IMMUTABLE per-version artifacts the
    * distributed index rungs otherwise re-derive on EVERY request — the
    * snapshot DataFrame (file listing + parquet schema resolved once) and
    * the driver-sized sidecars (centroids, PQ codebook, binary
    * thresholds), each of whose reads is a full collect() job (~tens of ms
    * that dominate a served searchIvf/searchPq/searchBinary request the
    * same way Catalyst re-analysis dominated /search before the prepared
    * path). A published version dir never changes — publish is an atomic
    * rename and vacuum removes whole versions — so a version-keyed entry
    * cannot silently go stale while the name exists; [[invalidatePrepared]]
    * (drop/release/flush/load call sites) purges a name's entries, since a
    * re-created collection legitimately reuses version numbers, and
    * [[publishVersion]] releases the superseded head's fold (`istate`,
    * `iwinners`), which no later head reads. A
    * CROSS-driver drop+recreate is outside this instance's view, same as
    * the resident cache: reads against the deleted files fail LOUDLY (the
    * vacuum reader contract), never silently serve the old bytes. Entries
    * are driver-sized (the snapshot entry is the unevaluated plan, not
    * data); LRU-bounded like [[preparedPlans]]. */
  private val versionArtifacts =
    new java.util.LinkedHashMap[(String, Int, String), AnyRef](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Int, String), AnyRef]): Boolean = {
        val evict = size() > GraftCatalog.VersionArtifactCacheMax
        // persisted entries (the chain-winners DataFrame) must be
        // UNPERSISTED on eviction: Dataset.persist registers the plan in
        // the shared CacheManager, which holds it strongly until an
        // explicit unpersist — dropping only the map reference would leak
        // the cached blocks forever AND let a later sameResult plan (a
        // re-created collection reusing version numbers over the same
        // paths) silently serve the dropped collection's cached rows
        if (evict) GraftCatalog.releaseArtifact(e.getValue)
        evict
      }
    }

  private def versionArtifact[A <: AnyRef](name: String, v: Int, kind: String)(
      build: => A): A = {
    val key = (name, v, kind)
    // read under the lock, BUILD OUTSIDE it (the [[preparedFor]] pattern):
    // a sidecar build is a full collect() Spark job, and holding the global
    // lock through it would serialize every searchIvf/searchPq/searchBinary
    // across all collections (r9 advice). A duplicate build under a rare
    // race is benign — the first PUBLISHED entry wins so callers converge
    // on one object.
    val cached = versionArtifacts.synchronized { versionArtifacts.get(key) }
    if (cached != null) cached.asInstanceOf[A]
    else {
      val a = build
      versionArtifacts.synchronized {
        val raced = versionArtifacts.get(key)
        if (raced != null) raced.asInstanceOf[A]
        else { versionArtifacts.put(key, a); a }
      }
    }
  }

  /** The resolved read schema of version `v`'s directory, memoized like
    * every per-version immutable artifact: a bare `spark.read.parquet(dir)`
    * pays a schema-inference JOB on every call (~20-90 ms of pure dispatch,
    * measured r14 — the single largest removable job class across the
    * catalog lifecycles), so only the FIRST read of a version resolves the
    * schema; every later read passes the memoized schema explicitly. The
    * memo is only ever seeded from the version's ACTUAL on-disk footers
    * (never from an in-memory frame's schema), so explicit-schema reads are
    * bit-identical to inferred ones by construction — and since r15 even
    * the first resolution is a DRIVER-SIDE footer read through Spark's own
    * inference machinery ([[dirSchema]]), so no version ever pays the
    * dispatch job. */
  private def versionSchema(name: String, v: Int): org.apache.spark.sql.types.StructType =
    versionArtifact(name, v, "dirschema")(dirSchema(versionDir(name, v)))

  /** The directory's schema exactly as `spark.read.parquet(dir).schema`
    * would resolve it, but read from the first data file's footer on the
    * driver — no Spark job (r15, guide §1.2; parity pinned by
    * ParquetSchemaParitySpec). Any failure falls back to the inference job
    * itself, so this can only remove the dispatch, never change the
    * schema. */
  private def dirSchema(dir: Path): org.apache.spark.sql.types.StructType =
    try org.apache.spark.sql.execution.datasources.parquet.GraftParquetSchemas
      .fromFooter(spark, dir.toString)
    catch { case scala.util.control.NonFatal(_) =>
      spark.read.parquet(dir.toString).schema }

  /** `spark.read.parquet(dir)` minus its schema-inference job: resolve the
    * schema via [[dirSchema]] and read with it explicitly. */
  private def readDirNoInfer(dir: Path): DataFrame =
    spark.read.schema(dirSchema(dir)).parquet(dir.toString)

  /** Read version `v`'s directory with the memoized schema — inference
    * runs once per (name, v), not once per read. */
  private def readVersionDir(name: String, v: Int): DataFrame =
    spark.read.schema(versionSchema(name, v)).parquet(versionDir(name, v).toString)

  /** The snapshot DataFrame of version `v`, file listing resolved once. */
  private def versionSnapshot(name: String, v: Int): DataFrame =
    versionArtifact(name, v, "snap")(readVersionDir(name, v))

  /** Every k-th mutation truncates lineage with an eager localCheckpoint:
    * without it, N inserts stack N anti-join/union plans and any cache
    * eviction re-executes the whole chain — the round-1 scale-killer. */
  private val LineageCutEvery = 8

  /** The ledger's cadence cut ([[appendPending]]) is LAZY — it bounds
    * LOGICAL plan depth only; physical RDD lineage keeps growing until
    * something materializes the chain. Every k-th mutation the cut is
    * EAGER instead, so the union chain a flushDelta (or the next eager cut)
    * must walk is bounded at this depth rather than the whole mutation
    * history — each put batch still evaluates ~once, just at the boundary
    * instead of at every 8th mutation as the all-eager form did. */
  private val EagerCutEvery = LineageCutEvery * 8

  private def fs: FileSystem = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every on-disk path derives from here, so the single-segment name check
    * guards ALL of them — including `dropCollection`'s recursive delete. A
    * name like `..`, `""`, or `a/b` would otherwise escape the catalog root
    * (reachable over HTTP: collection names arrive in request bodies, and
    * the importers take them from untrusted snapshot blobs). The stricter
    * charset policy applies at CREATE ([[createCollection]]), so legacy
    * odd-but-safe names stay manageable. */
  private def colDir(name: String) = {
    GraftCatalog.validateSegment(name)
    new Path(s"$root/$name")
  }
  private def metaPath(name: String) = new Path(colDir(name), "meta.json")
  private def versionDir(name: String, v: Int) = new Path(colDir(name), s"v$v")
  private def centroidDir(name: String, v: Int) = new Path(colDir(name), s"v${v}_centroids")
  private def pqDir(name: String, v: Int) = new Path(colDir(name), s"v${v}_pq")
  private def binDir(name: String, v: Int) = new Path(colDir(name), s"v${v}_bin")
  /** Everything version `v` publishes: its data dir and its sidecars. */
  private def versionDirs(name: String, v: Int) =
    Seq(versionDir(name, v), centroidDir(name, v), pqDir(name, v), binDir(name, v))
  private def claimPath(name: String, v: Int) = new Path(colDir(name), s"v$v.claim")

  /** A per-ATTEMPT fencing token, also the claim file's content:
    * `owner epochMillis` where owner is pid@host-uuid8. The uuid makes the
    * token unique per attempt (two threads of one JVM, or two sequential
    * attempts in one ms, must not be able to pass each other's
    * [[ownsClaim]] check); the LAST space-separated field stays the
    * timestamp [[claimIsStale]] parses. */
  private def claimToken(): String =
    s"${ProcessHandle.current().pid()}@" +
      s"${java.net.InetAddress.getLocalHost.getHostName}-" +
      s"${java.util.UUID.randomUUID().toString.take(8)} ${System.currentTimeMillis()}"

  /** Atomic exclusive create of a version-claim file holding `token` —
    * dispatched through the per-scheme [[GraftCatalog.ClaimProtocol]]
    * registry (r13): `file:` uses NIO `CREATE_NEW` (real O_EXCL),
    * HDFS-family the namenode-atomic `create(…, false)`, and any scheme
    * WITHOUT a registered real CAS refuses loudly instead of silently
    * racing (S3A's check-then-create would let two flushes both "win"). */
  private def tryCreateClaim(claim: Path, token: String): Boolean =
    GraftCatalog.claimProtocolFor(fs).tryExclusiveCreate(
      fs, claim, token.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** A claim whose embedded timestamp is older than `staleClaimMs` belongs
    * to a writer that crashed between claim and publish (every non-crash
    * path cleans up its claim) — it may be reclaimed. A claim WITHOUT a
    * parseable timestamp (a writer died between create and write on a store
    * where that is possible) falls back to the file's mtime on the same
    * horizon, so a torn claim self-heals instead of wedging every future
    * flush of the slot until a human deletes it. */
  private def claimIsStale(claim: Path): Boolean = readClaim(claim).exists { content =>
    try {
      val ts = content.trim.split(' ').last.toLongOption
        .getOrElse(fs.getFileStatus(claim).getModificationTime)
      System.currentTimeMillis() - ts > staleClaimMs
    } catch { case scala.util.control.NonFatal(_) => false }
  }

  /** Lease fencing: does the claim file still hold OUR attempt's token? A
    * writer paused past `staleClaimMs` (GC death spiral, VM migration,
    * machine sleep) can have its claim reclaimed and the slot re-published
    * by another driver — renaming onto or deleting `v<N>` after that would
    * corrupt the OTHER writer's published data. Checked immediately before
    * every destructive publish step; the residual TOCTOU window is the
    * microseconds between check and act, down from the unbounded pause. */
  private def ownsClaim(name: String, v: Int, token: String): Boolean =
    readClaim(claimPath(name, v)).contains(token)

  /** The claim file's content; None when it cannot be read (absent, torn,
    * or a store fault) — both readers above then answer `false`. */
  private def readClaim(claim: Path): Option[String] =
    try {
      val in = fs.open(claim)
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Delete version `v`: its data dir, its sidecars and its claim. */
  private def deleteVersion(name: String, v: Int): Unit = {
    versionDirs(name, v).foreach(fs.delete(_, true))
    fs.delete(claimPath(name, v), false)
  }

  // ---- DDL ----

  def exists(name: String): Boolean = fs.exists(metaPath(name))

  /** All collections under this catalog root (GetCollections RPC —
    * /root/reference/idl/proto/v3/resource.proto via root_layer). */
  def listCollections(): Seq[String] = {
    val rootPath = new Path(root)
    if (!fs.exists(rootPath)) Seq.empty
    else fs.listStatus(rootPath).toSeq
      .filter(s => s.isDirectory && fs.exists(new Path(s.getPath, "meta.json")))
      .map(_.getPath.getName).sorted
  }

  def createCollection(meta: CollectionMeta): Unit = {
    GraftCatalog.validateCollectionName(meta.name)
    require(!exists(meta.name), s"collection ${meta.name} already exists")
    require(meta.primaryKey.isDefined || meta.isSchemaless,
      s"collection ${meta.name} requires a primary key field")
    fs.mkdirs(colDir(meta.name))
    // meta last; v0 = empty collection. The EXCLUSIVE create is the real
    // guard behind the friendly require above: of two drivers racing
    // createCollection past the check, exactly one wins the O_EXCL create —
    // the overwrite path would let the later meta silently clobber the
    // earlier schema while the loser keeps inserting against it.
    try writeMeta(meta.copy(currentVersion = 0), exclusive = true)
    catch {
      case _: java.nio.file.FileAlreadyExistsException |
           _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        throw new IllegalArgumentException(
          s"collection ${meta.name} already exists (created concurrently)")
    }
  }

  def dropCollection(name: String): Unit = {
    releaseCollection(name)
    fs.delete(colDir(name), true)
  }

  def getMeta(name: String): CollectionMeta = {
    require(exists(name), s"collection $name does not exist")
    val in = fs.open(metaPath(name))
    val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    CollectionMeta.fromJson(s)
  }

  /** Durable meta swap — the publish step of every lifecycle op, so it must
    * never expose a torn state. UPDATE path: write a hidden temp file inside
    * the collection dir, then ATOMIC-RENAME over meta.json. An in-place
    * truncate-and-write would brick the collection on a crash between
    * truncate and close (BOTH version pointers lost — `exists()` true,
    * `getMeta` forever failing), and expose torn bytes to concurrent
    * readers. CREATE path (`exclusive=true`): a real O_EXCL create of
    * meta.json itself, so two racing creators resolve to one winner and one
    * loud [[org.apache.hadoop.fs.FileAlreadyExistsException]] instead of a
    * silent last-writer-wins schema clobber (a crash mid-create leaves a
    * torn meta for a collection that never published — recoverable by
    * dropCollection, unlike a torn update).
    *
    * The update path never creates parent dirs (the temp write fails if the
    * collection dir is gone), so a flush racing a dropCollection aborts
    * loudly instead of resurrecting the dropped collection as an unreadable
    * meta-only shell. On `file:` the bytes go through NIO (no Hadoop-side
    * .crc sibling — a stale checksum from the pre-atomic era is deleted
    * before the swap, and ChecksumFileSystem tolerates a missing one). */
  private def writeMeta(meta: CollectionMeta, exclusive: Boolean = false): Unit = {
    val dst = metaPath(meta.name)
    val bytes = meta.toJson.getBytes("UTF-8")
    if (exclusive) {
      // the createCollection CAS — same per-scheme atomic-create seam as
      // the version claim (r13); a lost race surfaces as the loud
      // already-exists the caller contracts on
      if (!GraftCatalog.claimProtocolFor(fs).tryExclusiveCreate(fs, dst, bytes))
        throw new org.apache.hadoop.fs.FileAlreadyExistsException(
          s"collection ${meta.name} already exists: $dst")
      return
    }
    if (fs.getScheme == "file") {
      val dstNio = java.nio.file.Paths.get(dst.toUri.getPath)
      require(fs.exists(colDir(meta.name)),
        s"collection ${meta.name} was dropped concurrently — aborting the meta update")
      val tmp = dstNio.resolveSibling(
        s".meta-tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      java.nio.file.Files.write(tmp, bytes)
      try {
        java.nio.file.Files.deleteIfExists(dstNio.resolveSibling(".meta.json.crc"))
        java.nio.file.Files.move(tmp, dstNio,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } catch { case e: Throwable =>
        try java.nio.file.Files.deleteIfExists(tmp) catch { case _: java.io.IOException => () }
        throw e
      }
    } else {
      require(fs.exists(colDir(meta.name)),
        s"collection ${meta.name} was dropped concurrently — aborting the meta update")
      val tmp = new Path(colDir(meta.name),
        s".meta-tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      // FileContext.rename(OVERWRITE) is Hadoop's atomic file-replace
      // primitive (FileSystem.rename refuses an existing destination)
      try org.apache.hadoop.fs.FileContext.getFileContext(
          dst.toUri, spark.sparkContext.hadoopConfiguration)
        .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      catch { case e: Throwable =>
        try fs.delete(tmp, false) catch { case _: java.io.IOException => () }
        throw e
      }
    }
  }

  // ---- residency state machine ----

  def isLoaded(name: String): Boolean = residents.contains(name)

  /** Load the latest snapshot into memory (S8 + Load RPC). A delta-chain
    * head ([[flushDelta]]) folds base + segments on the way in. Re-anchoring
    * DISCARDS unflushed resident mutations — and their ledger entries, so a
    * later [[flushDelta]] cannot resurrect changes the re-load threw away. */
  def loadCollection(name: String): DataFrame = {
    val meta = getMeta(name)
    // the fold is the step that fails (a vacuumed or missing chain
    // version), so it runs before anything is released: a failed re-load
    // keeps the previous record whole, its ledger included
    val df =
      if (meta.currentVersion == 0)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], meta.structType)
      else foldChain(name, meta, meta.currentVersion)
    // Release the previous record BEFORE planning and persisting the new
    // anchor: when no mutation happened between loads the two plans are
    // sameResult, so persist-then-unpersist would drop the single shared
    // CacheManager entry and leave the "re-loaded" collection silently
    // non-resident, and planning first would plan the cache scan (no file
    // scan, so scanParallelism reads 0). A fresh record also restarts both
    // lineage-cut cadences.
    releaseCollection(name)
    val parts = Partitions.scanParallelism(df)
    val r = Residency(df.persist(StorageLevel.MEMORY_AND_DISK), meta.currentVersion, parts,
      knownEmpty = meta.currentVersion == 0)
    residents(name) = r
    r.frame
  }

  /** Release from memory (Release RPC → unpersist). Unflushed mutations —
    * resident state AND the pending-change ledger — are discarded, matching
    * the reference's release-without-flush semantics. */
  def releaseCollection(name: String): Unit = {
    residents.remove(name).foreach(_.release())
    invalidatePrepared(name)
  }

  /** Serving-layer recovery hook for a reader that lost a vacuum race:
    * drop every cached derivation for `name` (prepared plans + per-version
    * artifacts) and, if a resident copy is loaded, re-anchor it on the
    * published head — the same re-load [[StaleResidentException]] demands.
    * A re-load that fails keeps the resident record, ledger included. The
    * snapshot rungs (searchIvf/searchPq/searchBinary) don't need
    * residency: their next call re-reads meta and picks the new head, so
    * for them the purge alone is the recovery. */
  def recoverAfterVacuumRace(name: String): Unit = {
    invalidatePrepared(name)
    if (isLoaded(name)) { loadCollection(name); () }
  }

  /** The current RESIDENT state (mutations applied, possibly unflushed) —
    * unlike [[loadCollection]], which re-anchors on the latest snapshot.
    * Fails if the collection is not loaded. */
  def resident(name: String): DataFrame = residency(name).frame

  /** The reference's ErrCollectionNotLoad behavior (edge/constants.go:30,
    * authorization check edge/edge_helper.go:75-83). */
  private def residency(name: String): Residency =
    residents.getOrElse(name,
      throw new IllegalStateException(s"collection $name is not loaded in memory"))

  /** Snapshot layout columns (IVF cell, PQ code) are index artifacts, not
    * data — dropped from the resident/user-facing view. */
  private def dropCellCol(df: DataFrame): DataFrame =
    Seq(GraftCatalog.CellCol, GraftCatalog.PqCodeCol, GraftCatalog.BinCol).foldLeft(df)(
      (d, c) => if (d.columns.contains(c)) d.drop(c) else d)

  // ---- pending-change ledger (delta-flush support) ----

  /** `cur` with one mutation batch appended. Rows are stamped with the
    * batch's sequence number — the fold's LWW order across delta segments is
    * `(segment version, __seq, op)`, so later batches beat earlier ones and
    * an equal-seq put/del pair resolves to the put ("put" > "del" on every
    * engine path). Within one batch, at most one row per pk is the caller's
    * contract (same as [[Mutations.upsert]]). The ledger is persisted with
    * the same lineage-cut cadence as the resident frame ([[commit]]).
    *
    * Pre-base mutations are not tracked: [[flushDelta]] needs a base
    * snapshot, and the full [[flush]] that creates one clears the ledger —
    * so a ledger built before v1 is unreachable by construction, and
    * tracking it would only double-cache the initial bulk load. Index-layout
    * collections track like any other — [[flushDelta]] encodes their put
    * rows against the base snapshot's persisted sidecars at segment-write
    * time (no retrain; see [[decorateSegment]]).
    *
    * Laziness contract (the standard Spark one, same as [[commit]]): put
    * batches are held as plans over the caller's DataFrame and evaluated at
    * flush/checkpoint time — callers must not mutate an input's backing
    * files between the mutation call and the flushDelta that persists it
    * (del markers are materialized eagerly at delete time — see
    * [[delete]]; put batches evaluate when the segment writes). The same
    * rule forbids deriving a put batch from THIS collection's own
    * [[resident]] view (read-modify-write loops): resident lineage is
    * localCheckpointed and REBOUND by the very mutation being appended —
    * the old checkpoint's blocks are released on a later mutation/flush, so
    * a lazy plan over them can become unrecomputable before the segment
    * writes. Materialize such batches first (`.localCheckpoint(true)`, or
    * write/read a scratch table) and pass the materialized frame. */
  private def tracksPending(meta: CollectionMeta): Boolean =
    meta.currentVersion > 0

  private def appendPending(cur: Option[Ledger], rows: DataFrame, op: String): Ledger = {
    val seq = cur.fold(0L)(_.seq) + 1
    val stamped = rows
      .withColumn(GraftCatalog.DeltaOpCol, lit(op))
      .withColumn(GraftCatalog.DeltaSeqCol, lit(seq))
    val merged = cur.fold(stamped)(_.rows.unionByName(stamped, allowMissingColumns = true))
    // LAZY checkpoint on the cadence: cuts LOGICAL lineage like the frame's,
    // but the materialization happens only when something evaluates the
    // ledger (flushDelta) — a workload that full-flushes and never
    // delta-flushes pays nothing for the bookkeeping (an EAGER cut here
    // would re-evaluate every accumulated put batch on each 8th mutation,
    // doubling the mutation path for no consumer). The lazy cut leaves
    // PHYSICAL lineage intact, so every EagerCutEvery-th mutation
    // materializes for real — without it a 10k-mutation stream hands
    // flushDelta a 10k-deep union RDD graph (DAGScheduler recursion /
    // task-serialization blow-up)
    Ledger(
      if (seq % EagerCutEvery == 0) merged.localCheckpoint(true)
      else if (seq % LineageCutEvery == 0) merged.localCheckpoint(false)
      else merged.persist(StorageLevel.MEMORY_AND_DISK),
      seq)
  }

  /** Delete-marker rows for the ledger: the pk, everything else NULL (the
    * fold only reads a del winner's key). */
  private def delMarkers(schema: StructType, keys: DataFrame, pk: String): DataFrame = {
    val cols = col(pk) +: schema.fields.toIndexedSeq.filter(_.name != pk)
      .map(f => lit(null).cast(f.dataType).as(f.name))
    keys.select(cols: _*)
  }

  // ---- ingest / mutation ----

  /** Validated upsert of user rows (single-vector collections: vector in
    * `vector`; multi-vector: one column per declared vector field; metadata
    * columns by declared name). Analyzer semantics from
    * edge/edge_analyzer.go:28-99 + experimental/experimental_analyzer.go
    * (FIXTURES.md §7), enforced as single-pass distributed expressions. */
  def insert(name: String, rows: DataFrame): Unit = {
    val meta = getMeta(name)
    val validated = GraftCatalog.validateAndEncode(rows, meta, UserVectorCol)
    // the v0-empty base contributes nothing to the upsert (anti-join of an
    // empty base = empty, union = the batch) — and validateAndEncode emits
    // columns in meta-field order, the same order the empty relation has,
    // so the resident schema is unchanged by the skip
    val r = residency(name)
    val next = if (r.knownEmpty) validated else Mutations.upsert(r.frame, validated, meta.idColumn)
    commit(name, r, meta, next, knownEmpty = false, Seq(validated -> "put"))
  }

  /** Delete rows matching a conjunctive filter (P5). Schema-less
    * collections route the same AST through the coerced-map semantics.
    * Rows where the predicate is NULL (filtered key absent from the meta
    * map, NULL in a nullable column) SURVIVE — only strictly-true matches
    * are deleted, per the index semantics "absent key = no postings". */
  def delete(name: String, filter: FilterExpr): Unit = {
    val meta = getMeta(name)
    val r = residency(name)
    val pred: Column =
      if (meta.isSchemaless)
        graft.core.CoreMeta.filterColumn(
          col(CollectionMeta.MetaCol), col(meta.idColumn), filter)
      else filter.toColumn
    // ledger first: the keys matching AT DELETE TIME, MATERIALIZED now —
    // the commit unpersists the pre-delete frame in this same call, so a
    // lazy marker plan would re-execute the whole resident lineage (an
    // O(corpus) recompute hiding inside the O(changes) flushDelta); the
    // eager checkpoint scans the still-cached state and pins O(keys)
    val markers =
      if (!tracksPending(meta)) Nil
      else Seq(delMarkers(r.frame.schema,
        r.frame.where(pred <=> lit(true)).select(col(meta.idColumn)), meta.idColumn)
        .localCheckpoint(true) -> "del")
    commit(name, r, meta, r.frame.where(!(pred <=> lit(true))), r.knownEmpty, markers)
  }

  /** WAL replay (S9, the Spark shape of diskv's startup replay —
    * /root/reference/diskv/db.go:71-120): fold a change log
    * `(op ∈ {put, del}, <collection columns…>, <version>)` into the loaded
    * collection in one pass — per-key LWW resolves the winners, puts are
    * validated+upserted, delete winners anti-joined out. Feeding a
    * [[graft.streaming.ChangeFeed]] log directory here replays a stream's
    * history into a collection. */
  def applyChanges(name: String, changes: DataFrame, versionCol: String,
                   opCol: String = "op"): Unit = {
    val meta = getMeta(name)
    val pk = meta.idColumn
    // an op outside {put, del} (or NULL) would win the per-key LWW and then
    // fall through BOTH filters below — silently discarding the key's
    // legitimate lower-version change. Fail loudly at evaluation instead;
    // row-local expression, no extra pass over the batch.
    val checked = changes.withColumn(opCol,
      when(col(opCol).isin("put", "del"), col(opCol))
        .otherwise(raise_error(concat(
          lit(s"collection $name: applyChanges op must be 'put' or 'del', got '"),
          coalesce(col(opCol), lit("NULL")), lit("'")))))
    val latest = Mutations.latestByKey(checked, pk, versionCol)
    val puts = latest.where(col(opCol) === "put").drop(opCol, versionCol)
    val delKeys = latest.where(col(opCol) === "del").select(col(pk))
    val validated = GraftCatalog.validateAndEncode(puts, meta, UserVectorCol)
    // LWW winners are one row per key, so put keys and del keys are
    // DISJOINT: upsert-then-delete collapses to ONE anti-join of the base
    // against ALL winner keys + the put union (the foldChain shape). On a
    // known-empty base (fresh v0 load — the WAL-replay-into-empty path)
    // both joins vanish: anti-join of empty = empty, dels hit nothing,
    // next = the validated puts.
    val r = residency(name)
    val next =
      if (r.knownEmpty) validated
      else Mutations.deleteByKeys(r.frame, latest.select(col(pk)), pk).unionByName(validated)
    commit(name, r, meta, next, knownEmpty = false, // put winners may add rows
      Seq(validated -> "put", delMarkers(r.frame.schema, delKeys, pk) -> "del"))
  }

  /** Commit one mutation as one record update: the ledger with `batches`
    * appended (when the collection tracks them) and `next` bound as the
    * resident frame are both built before the swap, so a mutation that
    * throws — an eager cut evaluating a bad batch — leaves the previous
    * record whole. The new frame is persisted (or checkpointed) FIRST and
    * the replaced one unpersisted after — the round-1 path leaked the old
    * cached copy on every mutation (executor-memory leak) and let lineage
    * grow unboundedly. Plan depth is now ≤ [[LineageCutEvery]]. */
  private def commit(name: String, r: Residency, meta: CollectionMeta, next: DataFrame,
                     knownEmpty: Boolean, batches: Seq[(DataFrame, String)]): Unit = {
    val n = r.mutations + 1
    var ledger = r.ledger
    def dropNewLedger(): Unit = if (ledger ne r.ledger) ledger.foreach(_.rows.unpersist(false))
    val bound =
      try {
        if (tracksPending(meta)) batches.foreach { case (rows, op) =>
          val appended = appendPending(ledger, rows, op)
          dropNewLedger() // an intermediate of this call
          ledger = Some(appended)
        }
        // An upsert unions the batch's partitions onto the resident frame,
        // so without a bound every insert adds tasks to every later search.
        // The coalesce is narrow (no job, no shuffle) and balanced; the
        // bound keeps the anchor's scan parallelism, and its
        // defaultParallelism floor keeps a collection loaded empty and
        // filled by inserts from collapsing to one partition.
        val capped = Partitions.strided(next,
          math.max(r.anchorParts, spark.sparkContext.defaultParallelism))
        if (n % LineageCutEvery == 0) capped.localCheckpoint(true) // eager; truncates lineage
        else capped.persist(StorageLevel.MEMORY_AND_DISK)
      } catch { case e: Throwable => dropNewLedger(); throw e }
    residents(name) = r.copy(frame = bound, mutations = n, knownEmpty = knownEmpty, ledger = ledger)
    dropPlans(name)
    r.release() // a collection that tracks no ledger has none to release
  }

  /** Persist the in-memory state as a new snapshot version (S7 Flush): the
    * snapshot and its index sidecars are staged, then published through
    * [[publishVersion]] — the one claim / fence / rename / validate / meta
    * sequence every version write shares. The snapshot is re-read BEFORE
    * the meta swap, so a broken write can never become the published
    * current version. */
  def flush(name: String): Int = {
    val meta = getMeta(name)
    val r = residency(name)
    val df = r.frame
    requireFreshAnchor(r, meta)
    val (v, reread) = publishVersion(name, meta) { (staging, v) =>
      val stagingData = new Path(staging, "data")
      val pk = meta.idColumn
      val decoded = decodedCol(meta, VectorCol)
      // Binary prefilter layout: trained midrange sign-bit thresholds (one
      // cheap min/max aggregation — no sampling needed, unlike Lloyd) and a
      // packed ceil(dim/8)-byte code column riding the snapshot, so
      // [[searchBinary]]'s first pass scans 1/32 of the float bytes via
      // parquet column pruning. Thresholds go to a dim-row sidecar.
      // trainThresholdsOpt's aggregate doubles as the emptiness probe — an
      // empty corpus returns None with no separate `df.isEmpty` job (r14)
      val binTh: Option[Array[Double]] =
        if (meta.hasBinaryIndex)
          graft.ann.Bin.trainThresholdsOpt(
            df.select(decoded.as(GraftCatalog.SearchVecCol)), GraftCatalog.SearchVecCol)
        else None
      def withBin(d: DataFrame): DataFrame =
        binTh.fold(d)(th => d.withColumn(GraftCatalog.BinCol, binCode(decoded, th)))
      // PQ code layout: per-subspace-Lloyd codebook trained at flush, codes
      // written as an m-byte column, codebook in a tiny sidecar —
      // [[searchPq]]'s ADC pass then scans ONLY the code column (parquet
      // column pruning), never the float vectors. On an IVF collection the
      // codes quantize RESIDUALS (vec − cellCentroid) — true IVF-PQ; without
      // cells they quantize the decoded vectors. The sidecar RECORDS which
      // (`residual`), so readers gate the ADC path on the snapshot's actual
      // layout instead of re-inferring it (a raw-code snapshot scored against
      // residual LUTs returns silently wrong distances). An empty collection
      // skips the layout (no sidecar).
      var pqCb: Option[(graft.ann.PqCodebook, Boolean)] = None
      var cents: Option[Seq[(Long, Array[Float])]] = None
      val pqIters = meta.pqTrainIterations.getOrElse(2)
      meta.ivfCells match {
        case Some(k) =>
          // IVF layout (the scale answer to the reference's HNSW, SURVEY.md
          // §2.1 S4 / §7): assign each row to its nearest centroid and
          // write the snapshot PARTITIONED BY CELL, so probed searches become
          // directory-pruned scans — at 100 TB only nprobe/k of the files are
          // even opened. Centroids are k-means-refined from a deterministic
          // pk-ordered seed (Ann.trainCentroids); they live in a tiny sidecar
          // read once per search. Multi-vector collections route on ONE
          // designated vector field (meta.routingVector) — train, assign and
          // partition on it; the other fields ride along and score only
          // within probed cells ([[searchMultiIvf]]). PQ/binary layouts are
          // single-vector-only (meta requires), so for multi-vector `withBin`
          // is identity and the pqConfig branch below is unreachable.
          val withVec = df.withColumn(GraftCatalog.SearchVecCol,
            decodedCol(meta, meta.routingVector.fold(VectorCol)(_.name)))
          // each Lloyd iteration is one corpus scan — the default 2 is the
          // quality/cost balance; 0 = raw pk-ordered seeds (cheapest
          // flush), more when cluster structure warrants it. With
          // `ivfTrainSampleMod` the iterations run on the deterministic
          // 1/mod subsample instead of the full corpus — the 100 TB flush
          // path (the final full-corpus assignment below stays exact).
          val centroids = graft.ann.Ann.trainCentroids(
            withVec, pk, GraftCatalog.SearchVecCol, k, meta.distance,
            iterations = meta.ivfTrainIterations.getOrElse(2),
            sampleMod = meta.ivfTrainSampleMod)
          // REBALANCE on the cell before partitionBy: without it every write
          // task emits a file into every cell dir — tasks×cells files (an
          // 8k-file snapshot at 1M/k=256; a small-file explosion at 100 TB).
          // The rebalance shuffle co-locates each cell into ~one task (AQE
          // splits oversized/skewed cells), so the layout is ~one well-sized
          // file per cell directory.
          def writeCells(d: DataFrame): Unit =
            d.hint("rebalance", GraftCatalog.CellCol).write.partitionBy(GraftCatalog.CellCol)
              .mode("overwrite").parquet(stagingData.toString)
          if (centroids.isEmpty) {
            // empty collection: partitionBy would write a schemaless dir that
            // fails to re-read — fall back to the unpartitioned layout
            df.write.mode("overwrite").parquet(stagingData.toString)
          } else {
            cents = Some(centroids)
            val assigned = withVec.withColumn(GraftCatalog.CellCol,
              cellCode(meta, col(GraftCatalog.SearchVecCol), centroids))
            meta.pqConfig match {
              case Some((mm, ks)) =>
                // residual IVF-PQ: train + encode on vec − centroid(cell).
                // The residual relation is scanned by the trainer's seed +
                // iterations, the encode, and the write — persist it for
                // the flush's duration instead of re-running the assignment
                // kernel each pass.
                val resid = assigned
                  .withColumn(GraftCatalog.ResidVecCol, pqInput(
                    col(GraftCatalog.SearchVecCol), col(GraftCatalog.CellCol), Some(centroids)))
                  .persist(StorageLevel.MEMORY_AND_DISK)
                try {
                  val cb = graft.ann.Pq.train(resid, pk, GraftCatalog.ResidVecCol,
                    mm, ks, iterations = pqIters, sampleMod = meta.pqTrainSampleMod)
                  pqCb = Some(cb -> true)
                  writeCells(withBin(resid
                    .withColumn(GraftCatalog.PqCodeCol, pqCode(col(GraftCatalog.ResidVecCol), cb))
                    .drop(GraftCatalog.ResidVecCol)
                    .drop(GraftCatalog.SearchVecCol)))
                } finally resid.unpersist(false)
              case None =>
                writeCells(withBin(assigned.drop(GraftCatalog.SearchVecCol)))
            }
          }
        case _ =>
          // trainOpt's dim probe doubles as the emptiness check — no
          // separate `df.isEmpty` job; None = empty corpus, no layout
          pqCb = meta.pqConfig.flatMap { case (mm, ks) =>
            graft.ann.Pq.trainOpt(df.withColumn(GraftCatalog.SearchVecCol, decoded),
              pk, GraftCatalog.SearchVecCol, mm, ks, iterations = pqIters,
              sampleMod = meta.pqTrainSampleMod)
          }.map(_ -> false)
          withBin(pqCb.fold(df) { case (cb, _) =>
            df.withColumn(GraftCatalog.PqCodeCol, pqCode(decoded, cb)) })
            .write.mode("overwrite").parquet(stagingData.toString)
      }
      (stagingData -> versionDir(name, v)) +: Seq(
        cents.map(cs => stageSidecar(staging, "centroids",
          cs.map { case (cid, cv) => GraftCatalog.CentroidRow(cid, cv.toSeq) }) -> centroidDir(name, v)),
        pqCb.map { case (cb, residual) =>
          stageSidecar(staging, "pq", cb.cents.toSeq.zipWithIndex.flatMap { case (cbj, j) =>
            cbj.toSeq.zipWithIndex.map { case (cv, c) => GraftCatalog.PqRow(j, c, cv.toSeq, residual) }
          }) -> pqDir(name, v) },
        binTh.map(th => stageSidecar(staging, "bin",
          th.toSeq.zipWithIndex.map { case (t, d) => GraftCatalog.BinRow(d, t) }) -> binDir(name, v))
      ).flatten
    } { dir =>
      // Validate + re-anchor BEFORE publishing: the read inspects footers, so
      // an unreadable snapshot aborts here with the meta still on the old
      // version. The IVF cell partition column is layout, not data — dropped
      // from the resident view. No "dirschema" seeding here (r15, ADVICE):
      // invalidatePrepared below wipes every (name, *) artifact on a
      // SUCCESSFUL flush — the seed only ever survived abort/fence-loss
      // paths, where a concurrent writer could republish v with a DIFFERENT
      // schema and this instance would then silently read it with the stale
      // one. versionSchema seeds lazily from published versions only, which
      // covers every downstream read. readDirNoInfer keeps the validation
      // (one footer read, driver-side — the same footer the inference job it
      // replaces inspected) without the job (r15).
      dropCellCol(readDirNoInfer(dir))
    }.get
    if (!meta.versioning) {
      // prune EVERY superseded version, not just v-1: a delta chain leaves
      // multiple live dirs behind the new base, all obsolete once this full
      // snapshot (which folds them) is published. ONE directory listing —
      // probing 1..v-1 individually is O(lifetime version count) existence
      // RPCs per compaction, unbounded under a streaming delta cadence
      fs.listStatus(colDir(name)).toSeq.map(_.getPath.getName)
        .collect { case n if n.matches("v\\d+") => n.drop(1).toInt }
        .filter(_ < v)
        .foreach(deleteVersion(name, _))
    }
    // Re-anchor residency on the written snapshot with one new record:
    // lineage collapses to a parquet scan, the pre-flush cached copy is
    // released, and so is the ledger, which the full snapshot subsumes.
    // Prepared plans over the pre-flush object are purged here too — the
    // identity check already keeps them from being SERVED, but a retired
    // plan tree pins the just-unpersisted relation until LRU eviction
    // otherwise.
    val parts = Partitions.scanParallelism(reread)
    residents(name) = Residency(reread.persist(StorageLevel.MEMORY_AND_DISK), v, parts,
      knownEmpty = r.knownEmpty)
    invalidatePrepared(name)
    r.release()
    v
  }

  /** O(changes) delta flush (S7's segment shape): persist ONLY the
    * pending-change ledger as version `v<N>` — a parquet change log marked
    * with [[GraftCatalog.DeltaMarkerFile]] — instead of [[flush]]'s
    * O(corpus) snapshot rewrite. Readers ([[loadCollection]] /
    * [[snapshot]] / [[timeTravel]]) fold the chain `base..current` back into
    * the collection state: one LWW aggregation over the (small) delta log +
    * one pk anti-join against the base — with changes ≪ corpus, AQE
    * broadcasts the winner keys and the base stays a single pushed-down
    * scan. This is the reference's bitcask append (diskv/db.go:71-120 — a
    * put appends a segment record, it never rewrites the store) and the
    * 100 TB ingest answer: a 10k-row upsert batch costs a 10k-row write,
    * not a corpus rewrite. A later full [[flush]] COMPACTS the chain (and,
    * for unversioned collections, prunes the superseded segments).
    *
    * Index layouts (ivfCells / PQ / binaryIndex) COMPOSE with delta
    * segments: the put rows are assigned to the chain base's PERSISTED
    * centroids and encoded with its persisted PQ codebook / binary
    * thresholds at segment-write time ([[decorateSegment]] — the same
    * encode recipes [[flush]] runs, with zero training), so ingest on an
    * indexed collection stays O(batch) and the snapshot rungs
    * ([[searchIvf]]/[[searchPq]]/[[searchBinary]]) fold base + segments at
    * read ([[indexedState]]). Sidecars retrain only at the next full
    * [[flush]] (compaction) — the reference shape: diskv appends feed the
    * live index, writes never rebuild it (core/core.go:398-469). Storage
    * quantization (f16/bf16/f8) is row-local and composes fine. Requires an
    * existing base snapshot (run [[flush]] once first) and a non-empty
    * ledger; an indexed base that was flushed EMPTY has no sidecars to
    * extend and demands a full flush instead.
    *
    * Published through the same [[publishVersion]] as [[flush]]. */
  def flushDelta(name: String): Int = {
    val meta = getMeta(name)
    val r = residency(name) // mutations imply residency; keep the error shape uniform
    requireFreshAnchor(r, meta)
    require(meta.currentVersion > 0,
      s"collection $name has no base snapshot — run a full flush before delta flushes")
    val log0 = r.ledger.getOrElse(throw new IllegalStateException(
      s"collection $name has no pending changes to delta-flush")).rows
    val log = decorateSegment(name, meta, log0)
    val published = publishVersion(name, meta) { (staging, v) =>
      val stagingData = new Path(staging, "data")
      log.write.mode("overwrite").parquet(stagingData.toString)
      // the marker rides INSIDE the data dir so the claim rename publishes
      // dir + marker atomically; parquet readers ignore `_`-prefixed files
      fs.create(new Path(stagingData, GraftCatalog.DeltaMarkerFile), true).close()
      // r15 (r14 VERDICT #7): an all-empty ledger — every tracked mutation
      // carried zero rows, e.g. an empty streaming micro-batch applied
      // without a pre-probe — must NOT publish an empty segment (a version
      // bump with no changes). The staged footers this call just wrote carry
      // exact row counts, so the emptiness check is driver-side metadata:
      // zero Spark jobs, and the per-batch `batch.isEmpty` probe job the
      // streaming path used to pay for this guarantee is gone
      // (ChangeFeed.runIntoCollection).
      if (parquetDirRowCount(stagingData) == 0L) Nil
      else Seq(stagingData -> versionDir(name, v))
    } {
      // readability check WITHOUT a Spark job (r14, guide §1.2): the segment
      // is O(changes) small, so the footer reads — the same thing
      // spark.read.parquet's schema inference does — run driver-side; the
      // inference path dispatched one full job per flushDelta just to
      // validate a directory this call wrote moments ago.
      validateParquetDir
    }
    // the chain behind a delta head stays live even when versioning=false —
    // the base + sibling segments ARE the current state; only a full flush
    // (compaction) may prune them. An empty ledger published nothing: drop
    // its empty frames all the same. The record keeps its frame and its
    // mutation count (the frame's cadence runs on across delta flushes).
    residents.updateWith(name)(_.map(_.copy(ledger = None)))
    log0.unpersist(false)
    published.fold(meta.currentVersion)(_._1)
  }

  /** The ONE publish step of every version write ([[flush]],
    * [[flushDelta]]). `stage(staging, v)` writes version `v`'s dirs under a
    * fresh hidden staging dir and returns each (staged, published) dir pair
    * — none when there is nothing to publish. Then: the O_EXCL version claim
    * ([[claimVersionOrAbort]]), a fence, each staged dir's checked rename
    * ([[renameOrAbort]]), `validate` on the published data dir, the last
    * fence, and the meta write LAST — the version becomes visible
    * atomically — and the resident anchor advances. A failure at any step
    * releases what this attempt holds: its staging dir, and once claimed
    * its `v<N>` dirs and claim ([[abortPublish]]). Returns the published
    * version and `validate`'s result; None when stage had nothing. */
  private def publishVersion[T](name: String, meta: CollectionMeta)(
      stage: (Path, Int) => Seq[(Path, Path)])(validate: Path => T): Option[(Int, T)] = {
    val v = meta.currentVersion + 1
    val staging = new Path(colDir(name),
      s".staging-v$v-${java.util.UUID.randomUUID().toString.take(8)}")
    // a failed staging write must not orphan the hidden staging dir
    val staged =
      try stage(staging, v)
      catch { case e: Throwable => fs.delete(staging, true); throw e }
    if (staged.isEmpty) { fs.delete(staging, true); return None }
    val token = claimVersionOrAbort(name, v, staging)
    interleaveAfterClaim(name, v)
    fenceOrAbort(name, v, token, staging)
    staged.foreach { case (src, dst) => renameOrAbort(name, v, token, staging, src, dst) }
    fs.delete(staging, true)
    val checked =
      try validate(versionDir(name, v))
      catch { case e: Throwable => abortPublish(name, v, token, staging); throw e }
    fenceOrAbort(name, v, token, staging) // last fence before the publish
    writeMeta(meta.copy(currentVersion = v)) // meta last: the version is visible atomically
    residents.updateWith(name)(_.map(_.copy(anchorVersion = v)))
    // the superseded head's chain fold serves no later head (each head
    // folds its own segments); the base's sidecars stay cached
    releaseArtifacts { case (n, hv, kind) =>
      n == name && hv == meta.currentVersion && (kind == "istate" || kind == "iwinners") }
    Some(v -> checked)
  }

  /** Validate that `name` can take delta flushes NOW — a flushed base
    * snapshot, with readable index sidecars where the meta declares
    * layouts (an indexed base flushed empty refuses; flagless-with-IVF PQ
    * sidecars refuse). The upfront check streaming per-batch durability
    * runs at START, so a violation surfaces at the call site instead of
    * as an async StreamingQueryException after batch 1 already mutated
    * resident state. Implemented by dry-running [[decorateSegment]] on an
    * empty frame — the ONE copy of the sidecar requirements. */
  def requireDeltaReady(name: String): Unit = {
    val meta = getMeta(name)
    require(meta.currentVersion > 0,
      s"collection $name: delta flushes require a flushed base snapshot — " +
        "run a full flush first")
    decorateSegment(name, meta, resident(name).limit(0))
    ()
  }

  /** Encode a pending-change ledger against the chain base's PERSISTED
    * index sidecars — the O(batch) half of the indexed-delta contract: put
    * rows get the SAME layout columns a full [[flush]] would compute (cell
    * assignment against the persisted centroids, PQ codes from the
    * persisted codebook — residual codes when the base records a residual
    * layout — packed sign codes from the persisted thresholds) with ZERO
    * training jobs; delete markers (NULL vector) keep NULL layout columns
    * (the fold only reads their keys). Non-indexed collections pass
    * through untouched.
    *
    * The segment stays UNPARTITIONED with `__cell` as a data column
    * (cast to int — the type the base's partition directories read back
    * as, so [[indexedState]]'s union needs no coercion): a segment is
    * O(changes) rows, and partitionBy would shatter each one into up-to-k
    * tiny files (the small-file explosion flush's rebalance hint exists to
    * avoid) for a pruning win that's negligible on a batch-sized side
    * input — parquet row-group stats still skip non-probed cells inside
    * the segment, and the O(corpus) base keeps true directory pruning. */
  private def decorateSegment(name: String, meta: CollectionMeta,
                              log: DataFrame): DataFrame = {
    if (meta.ivfCells.isEmpty && meta.pqConfig.isEmpty && !meta.hasBinaryIndex) return log
    val l = layoutOf(name, meta).getOrElse(throw new IllegalStateException(
      s"collection $name: index sidecar missing at chain base " +
        s"v${chainBase(name, meta.currentVersion)} (the base was flushed empty) — " +
        "run a full flush instead of a delta"))
    val decoded = decodedCol(meta, VectorCol)
    def ifVec(c: Column): Column = when(col(VectorCol).isNotNull, c)
    // cell assignment first: a residual PQ encode reads the assigned cell.
    // Multi-vector segments assign by the ROUTING field — the same column
    // flush trained the base's centroids on (delete markers carry NULL in
    // every data column, routing included, so the vec-present gate holds).
    val routed = meta.routingVector.fold(VectorCol)(_.name)
    val withCell =
      if (!l.hasCells) log
      else log.withColumn(GraftCatalog.CellCol, when(col(routed).isNotNull,
        cellCode(meta, decodedCol(meta, routed), l.centroids)).cast("int"))
    val withPq =
      if (meta.pqConfig.isEmpty) withCell
      else {
        val (cb, residual) = l.pq
        withCell.withColumn(GraftCatalog.PqCodeCol, ifVec(pqCode(
          pqInput(decoded, col(GraftCatalog.CellCol), Option.when(residual)(l.centroids)), cb)))
      }
    if (meta.hasBinaryIndex)
      withPq.withColumn(GraftCatalog.BinCol, ifVec(binCode(decoded, l.thresholds)))
    else withPq
  }

  // ---- layout encode: ONE recipe per layout column, shared by [[flush]]
  // (after training) and [[decorateSegment]] (against the base's sidecars);
  // each writer applies them in its own order ----

  /** `__cell`: the nearest centroid to `routed`, the routing field's
    * decoded vector. */
  private def cellCode(meta: CollectionMeta, routed: Column,
                       centroids: Seq[(Long, Array[Float])]): Column =
    graft.functions.arg_min_distance(routed, centroids, meta.distance)

  /** What `__pq_code` quantizes: the decoded vector (raw layout), or its
    * residual against its cell's centroid (IVF-PQ) — the layout the PQ
    * sidecar's `residual` flag records. */
  private def pqInput(decoded: Column, cell: Column,
                      residualOver: Option[Seq[(Long, Array[Float])]]): Column =
    residualOver.fold(decoded)(graft.ann.Pq.residual(decoded, cell, _))

  /** `__pq_code`: the m-byte code of [[pqInput]] under codebook `cb`. */
  private def pqCode(input: Column, cb: graft.ann.PqCodebook): Column =
    graft.functions.pq_encode(input, cb.cents)

  /** `__bin_code`: the packed sign code of the decoded vector. */
  private def binCode(decoded: Column, th: Array[Double]): Column =
    graft.ann.Bin.encode(decoded, th)

  /** Atomic claim of the version slot, [[publishVersion]]'s claim step
    * (the subtlest concurrency logic here — one copy):
    * exclusive create of `v<N>.claim` (a true O_EXCL CAS — see
    * tryCreateClaim; `rename` is NOT a CAS: onto an existing dir it
    * moves-into). Re-check the meta version after claiming so a flush that
    * raced an already-committed one still backs out. A writer that
    * hard-crashes between claim and publish leaves its claim behind; the
    * embedded owner/timestamp lets a later flush detect and reclaim it
    * after `staleClaimMs`. Reclaim itself must be a CAS too: it RENAMES the
    * stale claim file to a unique tombstone first — rename of a file is
    * atomic, so of N concurrent reclaimers exactly ONE wins the rename and
    * may retry the exclusive create; the rest abort. (The previous
    * delete-then-recreate let a second reclaimer's delete remove the first
    * reclaimer's FRESH claim, after which both proceeded as owners — and
    * with the orphan-dir sweep below, the second owner would delete the
    * first owner's just-renamed version data.) On abort the staging dir is
    * deleted and [[GraftCatalog.ConcurrentFlushException]] thrown. */
  private def claimVersionOrAbort(name: String, v: Int, staging: Path): String = {
    val claim = claimPath(name, v)
    val token = claimToken()
    var claimed = false
    try {
      claimed = tryCreateClaim(claim, token)
      if (!claimed && claimIsStale(claim)) {
        val tomb = new Path(claim.getParent,
          s"${claim.getName}.reclaimed-${java.util.UUID.randomUUID().toString.take(8)}")
        val wonReclaim =
          try fs.rename(claim, tomb)
          catch { case _: java.io.FileNotFoundException => false } // lost: source gone
        if (wonReclaim) {
          fs.delete(tomb, false)
          claimed = tryCreateClaim(claim, token)
        }
      }
      if (!claimed || getMeta(name).currentVersion >= v)
        throw new GraftCatalog.ConcurrentFlushException(
          s"collection $name: version $v was claimed by a concurrent flush")
      // We own the claim and v is UNPUBLISHED (meta-last invariant, re-checked
      // above) — so any pre-existing v<N> dirs are a dead writer's orphans: a
      // previous owner hard-crashed AFTER its staging rename but BEFORE
      // writeMeta. They must be deleted NOW, not renamed onto: Hadoop rename
      // onto an existing dir moves-INTO (nesting the new data as v<N>/data),
      // after which the schema-verify read succeeds on the DEAD writer's
      // files, writeMeta publishes them, and the live ledger is dropped as
      // if it were published — durable data loss. No concurrent writer can
      // recreate these dirs while we hold the claim.
      for (d <- versionDirs(name, v)) if (fs.exists(d)) fs.delete(d, true)
    } catch { case e: Throwable =>
      // EVERY abort after entry — a lost race, the meta re-check (which can
      // itself throw on a transient meta read fault), a torn claim write or
      // a failed orphan sweep — must release what this attempt holds: a
      // leaked fresh claim wedges the slot for staleClaimMs, a leaked
      // staging dir holds corpus-sized bytes until a vacuum sweep.
      if (claimed) fs.delete(claim, false)
      fs.delete(staging, true)
      throw e
    }
    token
  }

  /** Deterministic-interleaving seam for the concurrency specs: called
    * between the claim CAS and the first destructive publish step of
    * flush/flushDelta. Production no-op. */
  protected def interleaveAfterClaim(name: String, v: Int): Unit = ()

  /** Exact row count of the parquet files under `dir` — recursing into
    * `__cell=<k>` partition dirs, skipping hidden entries by Spark's rule —
    * summed from the footers DRIVER-SIDE: zero Spark jobs, same discipline
    * as [[validateParquetDir]]. Lets [[flushDelta]] detect an all-empty
    * staged ledger from the write it just performed (r15), bounds a refresh
    * window ([[windowRowBound]]) and tells an empty flush from a missing
    * sidecar ([[layoutOf]]). */
  private def parquetDirRowCount(dir: Path): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    fs.listStatus(dir).iterator.map { st =>
      val n = st.getPath.getName
      if (n.startsWith(".") || (n.startsWith("_") && !n.contains("="))) 0L
      else if (st.isDirectory) parquetDirRowCount(st.getPath)
      else {
        val in = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        try in.getRecordCount finally in.close()
      }
    }.sum
  }

  /** Driver-side readability validation of a just-written parquet segment
    * dir: read every data file's footer directly — the check
    * `spark.read.parquet(...).schema` performs, minus the Spark job it
    * dispatches to do it. Only for O(changes)-sized delta segments (a
    * handful of files written moments ago by this same call); a corrupt or
    * truncated file fails here exactly as inference would. */
  private[graft] def validateParquetDir(dir: Path): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = fs.listStatus(dir).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    require(files.nonEmpty, s"no data files under $dir — the segment write produced nothing readable")
    files.foreach { st =>
      val in = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try in.getFooter finally in.close()
    }
  }

  /** Abort the publish after claiming: delete this attempt's `v<N>`
    * artifacts and claim — but ONLY while the claim still holds our token.
    * If the claim was reclaimed mid-flush (writer paused past staleClaimMs),
    * those dirs may be ANOTHER writer's freshly published data; a fenced-out
    * writer deletes nothing but its own staging. */
  private def abortPublish(name: String, v: Int, token: String, staging: Path): Unit = {
    if (ownsClaim(name, v, token)) deleteVersion(name, v)
    fs.delete(staging, true)
  }

  /** Abort unless the claim still holds this attempt's token (see
    * [[ownsClaim]] — the lease-fencing check before destructive steps). */
  private def fenceOrAbort(name: String, v: Int, token: String, staging: Path): Unit =
    if (!ownsClaim(name, v, token)) {
      fs.delete(staging, true)
      throw new GraftCatalog.ConcurrentFlushException(
        s"collection $name: lost the v$v claim mid-flush (this writer stalled past " +
          s"staleClaimMs and the slot was reclaimed) — aborted without touching v$v")
    }

  /** Publish-step rename with its Boolean result CHECKED: Hadoop reports
    * many failures via `false`, not exceptions (vanished source,
    * object-store rename quirks). Publishing past a failed SIDECAR rename
    * is a silent-wrong-answer bug — searchIvf/searchPq read a missing
    * sidecar as "flushed empty" and return empty results on a populated
    * collection — so any failed rename aborts the whole publish. */
  private def renameOrAbort(name: String, v: Int, token: String, staging: Path,
                            src: Path, dst: Path): Unit = {
    try {
      if (!fs.rename(src, dst)) throw new java.io.IOException(
        s"collection $name: rename $src -> $dst failed while publishing v$v")
    } catch { case e: Throwable => abortPublish(name, v, token, staging); throw e }
  }

  /** The optimistic-concurrency gate on publishing — see
    * [[Residency]]'s `anchorVersion`. */
  private def requireFreshAnchor(r: Residency, meta: CollectionMeta): Unit =
    if (r.anchorVersion != meta.currentVersion)
      throw new GraftCatalog.StaleResidentException(
        s"collection ${meta.name}: resident state is anchored on v${r.anchorVersion} but the " +
          s"published head is v${meta.currentVersion} (a concurrent writer flushed) — " +
          "re-load the collection before flushing; compacting the stale resident state " +
          "would silently drop the other writer's published changes")

  // ---- delta-chain fold ----

  /** Whether `v<N>` is a delta segment (recorded at write time by
    * [[flushDelta]]'s marker file — never inferred from the data schema). */
  private def isDeltaVersion(name: String, v: Int): Boolean =
    fs.exists(new Path(versionDir(name, v), GraftCatalog.DeltaMarkerFile))

  /** Walk down from `upTo` to the nearest full snapshot; None when the
    * base was vacuumed/never existed. */
  private def chainBaseOpt(name: String, upTo: Int): Option[Int] = {
    var v = upTo
    while (v >= 1 && isDeltaVersion(name, v)) v -= 1
    if (v >= 1 && fs.exists(versionDir(name, v))) Some(v) else None
  }

  /** [[chainBaseOpt]], loud — a delta segment alone is not a collection
    * state. */
  private def chainBase(name: String, upTo: Int): Int =
    chainBaseOpt(name, upTo).getOrElse(throw new IllegalStateException(
      s"collection $name: no base snapshot at or below v$upTo — the chain's " +
        "base was vacuumed or never written; delta segments cannot be read alone"))

  /** The net per-key winners of a delta-segment window: union the segment
    * ledgers (stamped with their version), LWW-resolve per pk by
    * (segment version, batch seq, op). The ONE copy of the fold recipe —
    * shared by [[foldChain]] and [[changeLogBetween]] so the state read and
    * the CDC read cannot drift apart. Keeps `__op`/`__seq`/`__delta_v`. */
  private def ledgerWinners(name: String, pk: String, window: Range): DataFrame = {
    val log = window.map { w =>
      readVersionDir(name, w)
        .withColumn(GraftCatalog.DeltaVerCol, lit(w))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    Mutations.latestByKey(log, pk, GraftCatalog.DeltaVerCol,
      Seq(GraftCatalog.DeltaSeqCol, GraftCatalog.DeltaOpCol))
  }

  /** Fold the delta chain ending at `upTo` into the collection state:
    * read the base snapshot, LWW-resolve the delta log per pk, strike every
    * winner key from the base, union the put winners back in. One
    * aggregation over the delta log + one anti-join; the base is never
    * shuffled. */
  private def foldChain(name: String, meta: CollectionMeta, upTo: Int): DataFrame = {
    val base = chainBase(name, upTo)
    val df = dropCellCol(readVersionDir(name, base))
    if (base == upTo) return df
    val pk = meta.idColumn
    val winners = ledgerWinners(name, pk, base + 1 to upTo)
    // indexed segments carry layout columns (cell / PQ / bin codes) — index
    // artifacts, not data, stripped from the user-facing fold like the
    // base's (dropCellCol above)
    val puts = dropCellCol(winners.where(col(GraftCatalog.DeltaOpCol) === "put")
      .drop(GraftCatalog.DeltaOpCol, GraftCatalog.DeltaSeqCol, GraftCatalog.DeltaVerCol))
    Mutations.deleteByKeys(df, winners.select(col(pk)), pk).unionByName(puts)
  }

  /** The current on-disk state of an INDEXED collection WITH its layout
    * columns (`__cell` / `__pq_code` / `__bin_code`) — [[versionSnapshot]]
    * for a full head; for a delta head, the base snapshot folded with the
    * decorated segments: every winner key struck from the base (one
    * broadcast anti-join on O(changes) keys — a put that MOVED a row to
    * another cell strikes its stale base row even when that cell isn't
    * probed), put winners unioned back WITH the layout columns
    * [[decorateSegment]] encoded at segment-write time. Filter pushdown
    * SURVIVES the fold: a probed-cell or pk `isin` predicate on the
    * result pushes through the union into both sides and through the
    * anti-join into the base child, so the base scan keeps its
    * partition-directory pruning (pinned by CatalogDeltaIndexedSpec) and
    * the segments are O(changes) side reads. Cached per head version like
    * every per-version artifact; read through [[IndexedLayout.state]]. */
  private def indexedState(name: String, meta: CollectionMeta, base: Int): DataFrame = {
    val head = meta.currentVersion
    if (base == head) versionSnapshot(name, head)
    else versionArtifact(name, head, "istate") {
      val df = versionSnapshot(name, base)
      val pk = meta.idColumn
      // PERSIST the ledger winners: they are O(changes) rows, and every
      // probe over the chain otherwise re-reads the segments and re-runs
      // the LWW window per request (measured 0.44 s vs 0.05 s per
      // searchIvf at 1M+10k — the fold agg, not the data, was the cost).
      // With the winners cached a chain probe pays base pruned scan +
      // broadcast anti-join + union of cached rows. Lifecycle: the cache
      // entry holds the only reference; when invalidatePrepared (flush /
      // load / release / drop), the next publish or LRU eviction drops it,
      // the ContextCleaner releases the blocks once the plan is unreachable.
      // its OWN artifact entry so the release hooks (releaseArtifacts /
      // LRU eviction) can reach and unpersist it — nested inside the
      // istate plan it would outlive every map reference
      val winners = versionArtifact(name, head, "iwinners")(
        ledgerWinners(name, pk, base + 1 to head)
          .persist(StorageLevel.MEMORY_AND_DISK))
      val puts = winners.where(col(GraftCatalog.DeltaOpCol) === "put")
        .drop(GraftCatalog.DeltaOpCol, GraftCatalog.DeltaSeqCol, GraftCatalog.DeltaVerCol)
      Mutations.deleteByKeys(df, winners.select(col(pk)), pk)
        .unionByName(puts.select(df.columns.toIndexedSeq.map(col): _*))
    }
  }

  /** Stage one index sidecar as `<staging>/<kind>`: its rows
    * ([[GraftCatalog.CentroidRow]], [[GraftCatalog.PqRow]],
    * [[GraftCatalog.BinRow]] — each sidecar's one column definition) in a
    * single parquet file, read back by [[IndexedLayout]] below. */
  private def stageSidecar[R <: Product : TypeTag](staging: Path, kind: String, rows: Seq[R]): Path = {
    val dir = new Path(staging, kind)
    spark.createDataFrame(rows).coalesce(1).write.mode("overwrite").parquet(dir.toString)
    dir
  }

  /** The read side's ONE view of an indexed head — what the IVF, PQ,
    * binary and multi-IVF routes, their audits and batch routes, the
    * driver-local loaders and the refresh read: the chain `base` whose
    * sidecars govern the head (sidecars only ride full snapshots, so a
    * delta head reads its base's), the head's memoized [[indexedState]]
    * (the prepared anchor) and the sidecars the layout declares. Every
    * member is lazy and each sidecar is read once per version
    * ([[versionArtifact]] — each read is a collect() job), so a route pays
    * only for what it uses. Built only by [[layoutOf]], which has already
    * checked that every declared sidecar exists. */
  private final class IndexedLayout(val name: String, val meta: CollectionMeta, val base: Int) {
    import spark.implicits._
    lazy val state: DataFrame = indexedState(name, meta, base)
    def hasCells: Boolean = meta.ivfCells.isDefined
    lazy val centroids: Seq[(Long, Array[Float])] =
      versionArtifact(name, base, "centroids")(readDirNoInfer(centroidDir(name, base))
        .as[GraftCatalog.CentroidRow].collect().map(r => (r.cid, r.cvec.toArray)).toSeq)
    lazy val thresholds: Array[Double] = versionArtifact(name, base, "binth")(
      readDirNoInfer(binDir(name, base)).as[GraftCatalog.BinRow].orderBy("d").collect().map(_.t))
    /** The codebook and whether its codes quantize RESIDUALS (vec −
      * cellCentroid, IVF-PQ) or decoded vectors — the sidecar's recorded
      * flag, resolved by ONE rule for every PQ reader and writer: flagless
      * WITHOUT an IVF layout is unambiguously raw (the only layout that
      * cohort could hold); flagless WITH one is genuinely ambiguous — raw
      * and residual pre-flag cohorts both exist and a wrong guess silently
      * mis-scores the other — so it demands a re-flush; a residual flag
      * without cells is a layout mismatch. */
    lazy val pq: (graft.ann.PqCodebook, Boolean) = {
      val (cb, flag) = versionArtifact(name, base, "pqcb") {
        val sidecar = readDirNoInfer(pqDir(name, base))
        val flagged = sidecar.columns.contains("residual")
        val rows = (if (flagged) sidecar else sidecar.withColumn("residual", lit(false)))
          .as[GraftCatalog.PqRow].collect()
        val byJ = rows.groupBy(_.j)
        (graft.ann.PqCodebook((0 until meta.pqSubspaces.get).map { j =>
          byJ(j).sortBy(_.c).map(_.cvec.toArray)
        }.toArray),
          Option.when(flagged && rows.nonEmpty)(rows(0).residual))
      }
      val residual = flag.getOrElse {
        require(!hasCells,
          s"collection $name: pre-flag PQ sidecar over an IVF layout — whether " +
            "the codes are raw or residual is unrecorded and cannot be " +
            "inferred; re-flush the collection to write a flagged sidecar")
        false
      }
      require(!residual || hasCells,
        s"collection $name: sidecar records a residual layout but the collection has no IVF layout")
      (cb, residual)
    }
  }

  /** The indexed head's [[IndexedLayout]], or None when its chain base was
    * flushed EMPTY (flush writes no sidecar for an empty corpus, and an
    * empty indexed base takes no delta segments). A declared sidecar
    * missing on a base that HOLDS rows — a snapshot predating the layout,
    * a lost rename, a hand-deleted dir — refuses loudly: read as "flushed
    * empty" it would answer a populated collection with no rows. The row
    * count is summed from the base's parquet footers on the driver (no
    * Spark job), and only on the missing branch. Each caller keeps its own
    * empty answer (or refusal) for None. */
  private def layoutOf(name: String, meta: CollectionMeta): Option[IndexedLayout] = {
    val base = chainBase(name, meta.currentVersion)
    val missing = Seq(
      meta.ivfCells.map(_ => "centroid" -> centroidDir(name, base)),
      meta.pqConfig.map(_ => "PQ codebook" -> pqDir(name, base)),
      Option.when(meta.hasBinaryIndex)("binary threshold" -> binDir(name, base))
    ).flatten.collect { case (kind, dir) if !fs.exists(dir) => kind }
    if (missing.isEmpty) return Some(new IndexedLayout(name, meta, base))
    val rows = parquetDirRowCount(versionDir(name, base))
    if (rows == 0L) None
    else throw new IllegalStateException(
      s"collection $name: ${missing.mkString(" and ")} sidecar missing for version $base, " +
        s"whose snapshot holds $rows rows — the snapshot predates the layout or lost " +
        "its sidecar; re-flush to rebuild it")
  }

  /** Collection count/byte-size info (A2 — edge/edge.go:283-284, snapshot
    * sizes core/vectorindex/hnsw.go:476-490): rows of the resident state (or
    * latest snapshot when unloaded) + on-disk bytes of the current version. */
  def info(name: String): GraftCatalog.CollectionInfo = {
    val meta = getMeta(name)
    val rows = residents.get(name).map(_.frame.count()).getOrElse(
      if (meta.currentVersion == 0) 0L else snapshot(name).count())
    val bytes =
      if (meta.currentVersion == 0) 0L
      else {
        // a delta head's on-disk state is the whole chain, not one dir
        val base = chainBase(name, meta.currentVersion)
        (base to meta.currentVersion)
          .filter(v => fs.exists(versionDir(name, v)))
          .map(v => fs.getContentSummary(versionDir(name, v)).getLength).sum
      }
    GraftCatalog.CollectionInfo(name, rows, bytes, meta.currentVersion, isLoaded(name))
  }

  /** S10 old-version cleanup (the reference's lifecycle job:
    * edge/edge_helper.go:97-105, pkg/minio/bucket_handler.go:98-106):
    * delete snapshot versions older than the newest `keepLast`. Returns the
    * versions removed. Unversioned collections self-vacuum on flush.
    *
    * Reader contract (deliberate, documented trade): deletion is IMMEDIATE —
    * there are no cross-driver reader leases, so a reader on another driver
    * holding a lazy plan over a version this sweep removes fails LOUDLY
    * (FileNotFoundException at evaluation), never silently and never
    * corrupted. Deployments with long-lived cross-driver readers size
    * `keepLast` above the longest reader horizon (the Delta-Lake-style
    * retention answer); the same applies to the unversioned flush prune.
    * The HTTP serving layer softens this for search requests only: one
    * bounded re-anchor on the published head before surfacing the failure
    * (GraftServer.withVacuumRecovery). */
  def vacuum(name: String, keepLast: Int = 1): Seq[Int] = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val meta = getMeta(name)
    // crashed-writer hygiene: staging dirs are invisible to readers (dot
    // prefix) but hold real bytes — a flush that died mid-write can orphan
    // a corpus-sized staging copy. Staleness uses the NEWEST mtime found
    // anywhere in the staging tree: a live parquet write's activity lives
    // DEEP — the committer tree is data/_temporary/0/_temporary/attempt_*/
    // part-* (depth 4-5 under the staging dir) and only those leaves get
    // fresh mtimes while the job runs; every dir above them is frozen at
    // job start, so any bounded shallow walk would reap a live flush whose
    // write job outlasts the horizon. The walk recurses the full tree
    // (committer layout, boundedly shallow) over the FileStatus entries
    // listStatus already returned (no per-path re-stat RPC), and a subtree
    // that vanishes mid-walk means a writer is COMMITTING right now — the
    // liveliest possible signal, reported as "fresh". Residual assumption:
    // a writer silent for the whole staleClaimMs (single part file, no FS
    // mtime updates until close) can still be reaped — size staleClaimMs
    // above the longest expected flush.
    def newestMtime(s: org.apache.hadoop.fs.FileStatus): Long =
      if (!s.isDirectory) s.getModificationTime
      else {
        val children =
          try fs.listStatus(s.getPath)
          catch { case _: java.io.FileNotFoundException =>
            return System.currentTimeMillis() }
        (s.getModificationTime +: children.toSeq.map(newestMtime)).max
      }
    val entries = fs.listStatus(colDir(name))
    entries
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".staging-") &&
        System.currentTimeMillis() - newestMtime(s) > staleClaimMs)
      .foreach(s => fs.delete(s.getPath, true))
    // a reclaimer that crashed between its atomic claim-rename and the
    // tombstone delete leaves a `v<N>.claim.reclaimed-<id>` file behind —
    // inert (no reader or writer ever resolves that name) but worth
    // sweeping on the same staleness horizon
    entries
      .filter(s => !s.isDirectory && s.getPath.getName.contains(".claim.reclaimed-") &&
        System.currentTimeMillis() - s.getModificationTime > staleClaimMs)
      .foreach(s => fs.delete(s.getPath, false))
    // never cut into a RETAINED chain: every kept version (the newest
    // `keepLast`, by number) must stay readable, and a kept delta version
    // reads through its base + earlier sibling segments — so the floor is
    // the lowest chain base any retained version depends on (already-broken
    // historical chains protect nothing extra)
    val chainFloor =
      if (meta.currentVersion == 0) 0
      else (meta.currentVersion - keepLast + 1 to meta.currentVersion)
        .filter(v => v >= 1 && fs.exists(versionDir(name, v)))
        .flatMap(v => chainBaseOpt(name, v))
        .map(_ - 1).reduceOption(_ min _)
        .getOrElse(meta.currentVersion - keepLast)
    (1 to math.min(meta.currentVersion - keepLast, chainFloor))
      .filter(v => fs.exists(versionDir(name, v)))
      .map { v => deleteVersion(name, v); v }
  }

  /** Read an older snapshot (S10 versioning / time travel). A full-snapshot
    * version reads as stored (layout columns included — existing behavior);
    * a delta version reads as the FOLDED collection state at that point in
    * the chain (user-facing columns only). */
  def timeTravel(name: String, version: Int): DataFrame = {
    val meta = getMeta(name)
    require(meta.versioning, s"collection $name has versioning disabled")
    // bound by the PUBLISHED head, like changeLogBetween/stateDiff: a v<N>
    // dir above currentVersion is a concurrent writer's in-flight (or a
    // crashed writer's unvalidated) state — meta-last says no reader may
    // see it, and it can vanish under the reader via the orphan sweep
    require(version >= 1 && version <= meta.currentVersion,
      s"collection $name: v$version is not a published version " +
        s"(head is v${meta.currentVersion})")
    if (isDeltaVersion(name, version)) foldChain(name, meta, version)
    else readVersionDir(name, version)
  }

  /** Copy a collection's persisted state — meta sidecar, every retained
    * version dir (full snapshots AND delta segments, markers included), and
    * the index sidecars (centroids / PQ codebooks / binary thresholds) —
    * into another catalog root: backup, restore, or environment promotion
    * (the reference's MinIO bucket-copy story, S7/S10 lifecycle). Claims
    * and staging dirs never travel; unflushed resident state never travels
    * (flush first — the snapshot IS the durable state). The destination
    * catalog must not already hold the collection.
    *
    * IO shape: a driver-side recursive copy via Hadoop FileUtil — fine for
    * driver-reachable roots; at 100 TB the layout is plain parquet dirs +
    * tiny sidecars, so any bulk copier (distcp, object-store replication)
    * produces a byte-identical, immediately-loadable collection: nothing
    * in the layout is host- or catalog-relative. */
  def exportCollection(name: String, destRoot: String): Unit = {
    // capture the meta BYTES at entry: the loop bound and the published
    // destination head must come from the same instant (a concurrent flush
    // between the version loop and the final write would otherwise publish
    // a head the loop never copied), and copying bytes — not a re-serialized
    // parse — preserves sidecar-JSON fields this binary's CollectionMeta
    // does not know about (the Option-typed forward-compat contract)
    val metaBytes = {
      val in = fs.open(metaPath(name))
      try {
        val bos = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 8192, false)
        bos.toByteArray
      } finally in.close()
    }
    val meta = CollectionMeta.fromJson(new String(metaBytes, "UTF-8"))
    val destDir = new Path(s"$destRoot/$name")
    val destFs = destDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // refuse a NON-EMPTY destination, not just a published one: a retry
    // after a half-failed export would otherwise pass the meta check and
    // FileUtil.copy would nest v1 into the leftover v1 — a destination that
    // then publishes (meta last) as a valid-looking, unreadable collection
    require(!destFs.exists(destDir) || destFs.listStatus(destDir).isEmpty,
      s"destination $destDir is not empty — clean up the partial copy first")
    destFs.mkdirs(destDir)
    val conf = spark.sparkContext.hadoopConfiguration
    (1 to meta.currentVersion).foreach { v =>
      versionDirs(name, v).filter(fs.exists)
        .foreach { src =>
          org.apache.hadoop.fs.FileUtil.copy(
            fs, src, destFs, new Path(destDir, src.getName), false, conf)
        }
    }
    // meta LAST, same discipline as create/flush — the entry-time BYTES,
    // whose currentVersion is by construction <= every version the loop
    // copied
    val out = destFs.create(new Path(destDir, "meta.json"), true)
    try out.write(metaBytes) finally out.close()
  }

  /** Number of delta segments in the live chain (0 when the head is a full
    * snapshot or the collection was never flushed). */
  def segmentCount(name: String): Int = {
    val meta = getMeta(name)
    if (meta.currentVersion == 0) 0
    else meta.currentVersion - chainBase(name, meta.currentVersion)
  }

  /** Compaction policy: when the live chain carries at least `maxSegments`
    * delta segments, run one full [[flush]] — the fold collapses into a new
    * base (and unversioned collections prune the superseded segments).
    * Returns the new version when compaction ran. This is the knob for the
    * streaming-ingest loop: `deltaFlushEachBatch` appends one segment per
    * micro-batch, and calling this after each batch bounds the reader's
    * fold width at `maxSegments` while keeping steady-state ingest
    * O(batch) — the classic LSM trade, amortized O(corpus/maxSegments)
    * write cost per compaction. */
  def compactIfNeeded(name: String, maxSegments: Int = 16): Option[Int] = {
    require(maxSegments >= 1, "maxSegments must be >= 1")
    if (segmentCount(name) >= maxSegments) Some(flush(name)) else None
  }

  /** Change log between two versions — CDC at rest, O(changes): when every
    * version in `(fromV, toV]` is a delta segment, the net change set IS the
    * LWW fold of those segments' ledgers — no corpus read at all (the
    * 100 TB shape for incremental downstream consumption: "give me what
    * changed since v12" costs the changed rows, not the table). Returns
    * `(op ∈ put/del, <collection columns>)`: put rows carry the new row
    * content (insert or update), del rows the deleted pk with the rest
    * NULL.
    *
    * Contract: net-per-key over the WINDOW (a key mutated twice emits its
    * final op), and ops are relative to the ledger, not to `fromV`'s state —
    * an idempotent delete or a content-identical re-put still emits
    * (downstream appliers are LWW folds, so replaying them is harmless).
    * For an exact state-to-state diff — or across a full-flush/compaction
    * boundary, where no ledger exists — use [[stateDiff]]. */
  def changeLogBetween(name: String, fromV: Int, toV: Int): DataFrame = {
    val meta = getMeta(name)
    require(1 <= fromV && fromV <= toV && toV <= meta.currentVersion,
      s"collection $name: need 1 <= fromV <= toV <= ${meta.currentVersion}, got ($fromV, $toV)")
    if (fromV == toV) { // "changes since head": a legal, empty window
      val shape = foldChain(name, meta, toV).limit(0)
      GraftCatalog.requireNoOpColumn(name, shape.columns)
      return shape.select(lit("put").as("op") +: shape.columns.map(col): _*)
    }
    val window = fromV + 1 to toV
    window.filterNot(w => fs.exists(versionDir(name, w))).foreach(w =>
      throw new IllegalStateException(
        s"collection $name: version v$w in (${fromV}, $toV] was vacuumed or never " +
          "written — the change window is gone; re-baseline downstream from stateDiff(0, head)"))
    require(window.forall(isDeltaVersion(name, _)),
      s"collection $name: versions (${fromV}, $toV] contain a full snapshot — " +
        "there is no change ledger across a compaction boundary; use stateDiff")
    // dropCellCol: indexed segments carry layout columns — index
    // artifacts, never CDC payload
    val winners0 = dropCellCol(ledgerWinners(name, meta.idColumn, window))
    GraftCatalog.requireNoOpColumn(name, winners0.columns)
    val winners = winners0
      .withColumnRenamed(GraftCatalog.DeltaOpCol, "op")
      .drop(GraftCatalog.DeltaSeqCol, GraftCatalog.DeltaVerCol)
    // op FIRST, matching stateDiff and the documented (op, row) shape —
    // withColumnRenamed leaves __op where the ledger stored it (last)
    winners.select(col("op") +: winners.columns.filterNot(_ == "op").map(col): _*)
  }

  /** Exact state-to-state diff between two versions: put rows present (or
    * changed) in `toV` relative to `fromV`, del rows present in `fromV` but
    * gone in `toV` — same output shape as [[changeLogBetween]], valid for
    * ANY version pair (either side may be a full snapshot, a delta head, or
    * `fromV = 0` for "diff against empty": every row emits as a put).
    * Cost: both states fold and full-outer join on the pk — one shuffle of
    * each state; the O(changes) path is [[changeLogBetween]]. */
  def stateDiff(name: String, fromV: Int, toV: Int): DataFrame = {
    val meta = getMeta(name)
    require(0 <= fromV && fromV <= toV && toV <= meta.currentVersion,
      s"collection $name: need 0 <= fromV <= toV <= ${meta.currentVersion}, got ($fromV, $toV)")
    val pk = meta.idColumn
    val to = foldChain(name, meta, toV)
    GraftCatalog.requireNoOpColumn(name, to.columns)
    val restAll = to.schema.fields.toIndexedSeq.filterNot(_.name == pk)
    if (fromV == toV) // legal empty window: identical states diff to nothing —
      // answer at plan-build cost, not with a corpus self-join
      return to.limit(0).select(lit("put").as("op") +: col(pk) +:
        restAll.map(f => col(f.name)): _*)
    val from =
      if (fromV == 0)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], to.schema)
      else foldChain(name, meta, fromV)
    val rest = restAll
    // MapType is not comparable in Spark — canonicalize map columns to
    // sorted entry arrays for the equality check (schemaless collections'
    // metadata column), while the EMITTED content stays the original shape
    def cmp(f: org.apache.spark.sql.types.StructField): Column = f.dataType match {
      case _: org.apache.spark.sql.types.MapType => array_sort(map_entries(col(f.name)))
      case _ => col(f.name)
    }
    def packed(df: DataFrame, v: String, c: String): DataFrame =
      df.select(col(pk), struct(rest.map(f => col(f.name)): _*).as(v),
        struct(rest.map(cmp): _*).as(c))
    packed(from, "__fv", "__fc").join(packed(to, "__tv", "__tc"), Seq(pk), "full_outer")
      .where(col("__tc").isNull || !(col("__fc") <=> col("__tc")))
      .select(
        when(col("__tc").isNull, lit("del")).otherwise(lit("put")).as("op") +:
          col(pk) +:
          rest.map(f => when(col("__tc").isNull, lit(null))
            .otherwise(col(s"__tv.${f.name}")).as(f.name)): _*)
  }

  /** Read the latest on-disk snapshot directly (no residency). A delta-chain
    * head folds to the current collection state. */
  def snapshot(name: String): DataFrame = {
    val meta = getMeta(name)
    require(meta.currentVersion > 0, s"collection $name has never been flushed")
    if (isDeltaVersion(name, meta.currentVersion)) foldChain(name, meta, meta.currentVersion)
    else readVersionDir(name, meta.currentVersion)
  }

  // ---- query ----

  /** Top-K search over the loaded collection. Query vector goes through the
    * same prep as stored vectors (normalize when cosine, quantize round-trip
    * when quantized — edge/f16_quantization.go Similarity semantics). */
  def search(
      name: String,
      queryVector: Array[Float],
      topK: Int,
      filter: Option[FilterExpr] = None,
      offset: Int = 0,
      minScore: Option[Double] = None): DataFrame = {
    val (df, meta, qv) = resolveFlat(name, queryVector)
    flatPlan(df, meta, topK, filter, offset, minScore)(lit(qv))
  }

  /** [[search]] through a prepared (plan-once/execute-many) physical plan —
    * the serving-path fix for the r8 finding that EVERY per-request
    * DataFrame rebuild pays ~22-43 ms of Catalyst re-analysis at 1M rows
    * (PLANS.md "1M dispatch floor"). First call per (collection, resident
    * state, query shape) compiles the plan once with the query vector as a
    * swappable placeholder literal; subsequent calls swap the literal in
    * the compiled PHYSICAL tree and execute — no Catalyst phase re-runs,
    * same results as [[search]] bit-for-bit (PreparedSearchSpec proves
    * equality on randomized vectors/filters and that mutations/re-loads are
    * never served stale). A shape that can't be parameterized runs the
    * same plan over a literal vector ([[runPrepared]]). Returns driver-side
    * rows — the serving layer's shape; result size is bounded by topK like
    * every search. */
  def searchPrepared(name: String, queryVector: Array[Float], topK: Int,
                     filter: Option[FilterExpr] = None, offset: Int = 0,
                     minScore: Option[Double] = None): (StructType, Seq[Row]) = {
    val (df, meta, qv) = resolveFlat(name, queryVector)
    runPrepared(name, ("flat", topK, filter, offset, minScore), df, Seq(qv))(q =>
      flatPlan(df, meta, topK, filter, offset, minScore)(q.head))
  }

  /** The flat and hybrid routes' shared resolve: guards, the resident
    * frame (the prepared anchor) and the prepared query vector. */
  private def resolveFlat(name: String, queryVector: Array[Float])
      : (DataFrame, CollectionMeta, Array[Float]) = {
    val meta = getMeta(name)
    require(!meta.isMultiVector, s"collection $name is multi-vector; use searchMulti")
    val df = resident(name)
    require(queryVector.length == meta.dim,
      s"vector dimension mismatch: expected ${meta.dim}, got ${queryVector.length}")
    (df, meta, GraftCatalog.prepareQueryVector(queryVector, meta))
  }

  /** Raw distance of stored vector column `vec` to query `q`. Quantized
    * collections score through the FUSED kernel: decode happens inside the
    * distance loop, no per-row intermediate array (`distance_quant` ≡
    * `distance(dequantize(...))` bit-for-bit — QuantizationSpec). */
  private def queryDistance(meta: CollectionMeta, vec: String, q: Column): Column =
    meta.quantization match {
      case "none" => graft.functions.distance(col(vec), q, meta.distance)
      case quant  => graft.functions.distance_quant(col(vec), q, quant, meta.distance)
    }

  /** Stored vector column `c` as floats: itself when unquantized. */
  private def decodedCol(meta: CollectionMeta, c: String): Column = meta.quantization match {
    case "none" => col(c)
    case q      => dequantize(col(c), q)
  }

  /** `df` with the float vector column the batch kernels read, and its
    * name: the stored column unquantized, else a decoded copy. */
  private def withDecoded(df: DataFrame, meta: CollectionMeta): (DataFrame, String) =
    if (meta.quantization == "none") (df, VectorCol)
    else (df.withColumn(GraftCatalog.SearchVecCol, decodedCol(meta, VectorCol)),
      GraftCatalog.SearchVecCol)

  /** A route's empty answer: no rows, columns `cols` typed by `T`. */
  private def noRows[T <: Product : TypeTag](
      cols: String*): DataFrame =
    spark.createDataFrame(Seq.empty[T]).toDF(cols: _*)

  /** The [[search]] plan over query Column `q`. Schema-less collections
    * evaluate the SAME filter AST through the string-coerced map (CoreMeta
    * parse-compare semantics, [[applyFilter]]) — applied before scoring,
    * like the typed path's pushed predicate. */
  private def flatPlan(df: DataFrame, meta: CollectionMeta, topK: Int,
                       filter: Option[FilterExpr], offset: Int,
                       minScore: Option[Double])(q: Column): DataFrame = {
    val (base, pushFilter) =
      if (meta.isSchemaless) (applyFilter(df, meta, filter), None)
      else (df, filter)
    VectorSearch.search(base,
      SearchRequest(Array.emptyFloatArray, topK, metric = meta.distance,
        filter = pushFilter, offset = offset, minScore = minScore,
        idCol = meta.idColumn, vectorCol = VectorCol,
        customDistance = Some(queryDistance(meta, VectorCol, q))))
  }

  /** Hybrid search (v3 HybridSearch RPC, core/core.go:760-839): over-fetch
    * the pure-similarity top `topK·overFetch`, semi-join the ids surviving
    * the metadata filter, final top-K — the documented INTENT (the
    * reference's final loop drops the intersection, a recorded bug we
    * don't copy; oracle-pinned incl. the drain case). Schemaless
    * collections route the same filter AST through the string-coerced map
    * semantics. */
  def searchHybrid(name: String, queryVector: Array[Float], topK: Int,
                   filter: FilterExpr, overFetch: Int = 3): DataFrame = {
    val (df, meta, qv) = resolveFlat(name, queryVector)
    hybridPlan(df, meta, topK, filter, overFetch)(lit(qv))
  }

  /** [[searchHybrid]] through a prepared plan (the [[searchPrepared]]
    * model; shape = topK + filter tree + overFetch, only the query vector
    * swaps per request). Since the r11 one-scan hybrid shape
    * (VectorSearch.hybridSearchWith: predicate carried in-scan, no join)
    * the compiled plan is ONE bounded TakeOrderedAndProject job plus a
    * result-sized dedup, with no broadcast exchange left to worry about
    * (PreparedSearchSpec pins prepared == plan-per-call on fresh vectors
    * back to back). */
  def searchHybridPrepared(name: String, queryVector: Array[Float], topK: Int,
                           filter: FilterExpr, overFetch: Int = 3): (StructType, Seq[Row]) = {
    val (df, meta, qv) = resolveFlat(name, queryVector)
    runPrepared(name, ("hybrid", topK, filter, overFetch), df, Seq(qv))(q =>
      hybridPlan(df, meta, topK, filter, overFetch)(q.head))
  }

  private def hybridPlan(df: DataFrame, meta: CollectionMeta, topK: Int,
                         filter: FilterExpr, overFetch: Int)(q: Column): DataFrame =
    VectorSearch.hybridSearchWith(df,
      SearchRequest(Array.emptyFloatArray, topK, metric = meta.distance,
        idCol = meta.idColumn, vectorCol = VectorCol,
        customDistance = Some(queryDistance(meta, VectorCol, q))),
      metaFilterColumn(meta, filter), overFetch)

  def count(name: String): Long = resident(name).count()

  /** The filter AST as a predicate over this collection's rows — typed
    * collections compare the declared columns directly (the predicate
    * pushes into parquet); schemaless collections route the SAME tree
    * through the string-coerced map semantics ([[graft.core.CoreMeta]]),
    * exactly as [[search]] does. One definition so the flat and indexed
    * paths cannot drift. */
  private def metaFilterColumn(meta: CollectionMeta, filter: FilterExpr): Column =
    if (meta.isSchemaless)
      graft.core.CoreMeta.filterColumn(col(CollectionMeta.MetaCol), col(meta.idColumn), filter)
    else filter.toColumn

  /** `df` restricted to `filter` survivors (no-op when absent) — the one
    * seam every search path applies its pre-filter through. */
  private def applyFilter(df: DataFrame, meta: CollectionMeta,
                          filter: Option[FilterExpr]): DataFrame =
    filter.map(f => df.where(metaFilterColumn(meta, f))).getOrElse(df)

  /** IVF (cell-probed) search over the PARTITIONED ON-DISK snapshot of an
    * `ivfCells` collection: the `nprobe` centroids nearest the query select
    * cells, and the `__cell` predicate prunes whole partition directories
    * before any file is opened — the batch-scale stand-in for the
    * reference's HNSW index scan (S4), trading bounded recall for a scan
    * that touches nprobe/k of the data. Exact search over the loaded
    * collection ([[search]]) remains the recall-1.0 path.
    *
    * `filter` is the reference's candidate-list semantics (S3, rpc.go
    * Search: the metadata predicate builds the candidate set the scan
    * ranks — filter BEFORE scoring) carried onto the indexed path: the
    * predicate conjoins with the probed-cell restriction on the SAME
    * snapshot scan, so partition-directory pruning stays intact and the
    * metadata comparison pushes into the parquet row groups
    * (IvfCatalogSpec pins both in the physical plan). Without it a
    * filtered query on an indexed collection would be forced off the
    * index onto the resident flat scan — exactly wrong at 100 TB. Note
    * the recall trade is the standard pre-filter one: matches living
    * outside the probed cells are not recovered; raise `nprobe` for
    * selective filters. */
  def searchIvf(name: String, queryVector: Array[Float], topK: Int, nprobe: Int,
                filter: Option[FilterExpr] = None): DataFrame =
    resolveIvf(name, queryVector, nprobe).fold(identity,
      r => ivfPlan(r, topK, filter)(lit(r.qv), lit(r.probed)))

  /** [[searchIvf]] through a prepared (plan-once/execute-many) physical
    * plan — the r12 answer to the point route's ~50 ms dispatch floor. The
    * probed cell set is ONE swappable array inside the scan's partition
    * filter (`array_contains(cells, cell)`): the compiled physical tree is
    * reused and each request's swap produces a fresh scan node whose
    * partition pruning re-evaluates under the new cell set — the pruning
    * guarantee is unchanged (IvfCatalogSpec pins records-read shrinking
    * with nprobe on THIS path). nprobe is NOT part of the shape: any probe
    * width serves from one compiled plan. Same results as [[searchIvf]]
    * bit-for-bit (PreparedSearchSpec: randomized queries × nprobe ×
    * quantization × filter × delta chains). */
  def searchIvfPrepared(name: String, queryVector: Array[Float], topK: Int, nprobe: Int,
                        filter: Option[FilterExpr] = None): (StructType, Seq[Row]) =
    resolveIvf(name, queryVector, nprobe) match {
      case Left(empty) => collected(empty)
      case Right(r) =>
        runPrepared(name, ("ivf", topK, filter), r.snap, Seq(r.qv, r.probed))(v =>
          ivfPlan(r, topK, filter)(v(0), v(1)))
    }

  /** [[ivfProbedFiles]] for the PREPARED probe: the files the swapped
    * plan's scan selects for this query — pins that partition pruning
    * re-evaluates per request on the compiled path (IvfCatalogSpec).
    * Empty when the shape is not parameterizable or the collection was
    * flushed empty. */
  def ivfPreparedProbedFiles(name: String, queryVector: Array[Float], topK: Int,
                             nprobe: Int): Array[String] =
    resolveIvf(name, queryVector, nprobe) match {
      case Left(_) => Array.empty
      case Right(r) =>
        val values = Seq(r.qv, r.probed)
        preparedFor(name, ("ivf", topK, None), r.snap)(
          compilePlan(values)(v => ivfPlan(r, topK, None)(v(0), v(1))))
          .map(_.swappedSelectedFiles(values)).getOrElse(Array.empty)
    }

  /** A resolved IVF request: `snap` is the memoized [[indexedState]] (the
    * prepared anchor), `probed` the `nprobe` cells nearest the query. */
  private case class IvfRoute(meta: CollectionMeta, snap: DataFrame, qv: Array[Float],
                              probed: Array[Long])

  /** The IVF routes' shared resolve: guards, query prep and the centroid
    * probe — or the empty answer of a collection flushed empty. */
  private def resolveIvf(name: String, queryVector: Array[Float],
                         nprobe: Int): Either[DataFrame, IvfRoute] = {
    val meta = getMeta(name)
    require(!meta.isMultiVector, s"collection $name is multi-vector; use searchMultiIvf")
    require(meta.ivfCells.isDefined, s"collection $name has no IVF layout")
    require(meta.currentVersion > 0, s"collection $name has never been flushed")
    require(queryVector.length == meta.dim,
      s"vector dimension mismatch: expected ${meta.dim}, got ${queryVector.length}")
    layoutOf(name, meta).toRight(noRows[(String, Long, Double)](meta.idColumn, "cell", "dist"))
      .map { l =>
        val qv = GraftCatalog.prepareQueryVector(queryVector, meta)
        val probed = graft.ann.Ann.probeCells(l.centroids, qv, nprobe, meta.distance)
        IvfRoute(meta, l.state, qv, probed.toArray)
      }
  }

  /** The IVF plan over query Column `q` and probed-cell array Column
    * `cells`: the cell predicate prunes partition directories, the filter
    * conjoins on the same scan, the fused kernel scores. */
  private def ivfPlan(r: IvfRoute, topK: Int, filter: Option[FilterExpr])(
      q: Column, cells: Column): DataFrame = {
    val pk = r.meta.idColumn
    applyFilter(r.snap.withColumnRenamed(GraftCatalog.CellCol, "cell"), r.meta, filter)
      .where(array_contains(cells, col("cell").cast("long")))
      .select(col(pk), col("cell"), round(queryDistance(r.meta, VectorCol, q), 6).as("dist"))
      .orderBy(col("dist").asc, col(pk).asc)
      .limit(topK)
  }

  /** Batch retrieval over the IVF layout: the k nearest rows for EVERY
    * query of a batch, in one plan — [[searchIvf]] is this with a
    * single-row query side. The retrieval-augmentation primitive
    * ([[graft.ann.Ann.knnJoin]]): probe-cell selection is row-local, ONE
    * cell equi-join pairs queries with candidates (partition-pruned on the
    * cell-partitioned snapshot — never query×corpus), and Catalyst's
    * partial WindowGroupLimit bounds each query to k below the exchange.
    * Queries are prepared exactly like single probes (normalize/quantize
    * round-trip per the collection). Collections WITHOUT an IVF layout fall
    * back to the exact flat batch ([[graft.ann.Ann.bruteForceTopK]]): the
    * query set broadcasts over ONE resident-corpus scan, per-qid bounded
    * window — recall 1 by construction, `nprobe` ignored. Output:
    * (qid, idColumn, dist, rn).
    *
    * `filter` restricts the corpus side for EVERY query of the batch (the
    * [[searchIvf]] pre-filter semantics, S3): one predicate conjoined with
    * the cell equi-join's scan — partition pruning and parquet pushdown
    * intact, never a per-query re-scan. */
  def searchBatch(name: String, queries: Seq[(String, Array[Float])],
                  topK: Int, nprobe: Int,
                  filter: Option[FilterExpr] = None): DataFrame = {
    val meta = getMeta(name)
    require(!meta.isMultiVector, s"collection $name is multi-vector; use searchMulti")
    require(queries.nonEmpty, "searchBatch requires at least one query")
    // duplicate qids would silently merge into ONE window partition in
    // knnJoin (row_number bounds the combined candidate set) — reject at
    // the primitive, which the HTTP layer serves through
    require(queries.map(_._1).distinct.size == queries.size,
      "searchBatch query ids must be unique")
    require(meta.idColumn != "qid",
      "searchBatch reserves the output column name 'qid'; the collection pk shadows it")
    queries.foreach { case (qid, v) =>
      require(v.length == meta.dim,
        s"query $qid dimension mismatch: expected ${meta.dim}, got ${v.length}")
    }
    import spark.implicits._
    // internal query-column names that cannot collide with a declared pk
    val qdf = queries.map { case (qid, v) =>
      (qid, GraftCatalog.prepareQueryVector(v, meta).toSeq)
    }.toDF("__audit_qid", "__audit_qvec")
    if (meta.ivfCells.isEmpty) {
      // flat fallback over the loaded collection (same residency contract
      // as single-query search — no flush required)
      val (corpus, vc) = withDecoded(applyFilter(resident(name), meta, filter), meta)
      return graft.ann.Ann.bruteForceTopK(corpus, qdf, topK,
        meta.idColumn, vc, "__audit_qid", "__audit_qvec", meta.distance)
        .select(col("__audit_qid").as("qid"), col(meta.idColumn), col("dist"), col("rn"))
    }
    require(meta.currentVersion > 0, s"collection $name has never been flushed")
    // flushed empty → no cells, no neighbors (same contract as knnJoin: a
    // query with no candidates produces no rows)
    layoutOf(name, meta) match {
      case None    => noRows[(String, String, Double, Int)]("qid", meta.idColumn, "dist", "rn")
      case Some(l) => ivfKnn(l, ivfCorpus(l, filter), qdf, topK, nprobe)
    }
  }

  /** The IVF batch corpus: the indexed state with its `cell` column,
    * pre-filtered ([[searchIvf]]'s S3 semantics), decoded for the kernel —
    * (frame, vector column). */
  private def ivfCorpus(l: IndexedLayout, filter: Option[FilterExpr]): (DataFrame, String) =
    withDecoded(applyFilter(l.state.withColumnRenamed(GraftCatalog.CellCol, "cell"),
      l.meta, filter), l.meta)

  /** The IVF batch plan over query frame `qdf` (`__audit_qid`,
    * `__audit_qvec`): the k nearest rows of `corpus` for EVERY query in one
    * [[graft.ann.Ann.knnJoin]] — row-local probe-cell selection, ONE cell
    * equi-join (partition-pruned on the cell-partitioned snapshot, never
    * query × corpus), the per-qid partial WindowGroupLimit below the
    * exchange. [[searchBatch]] and both arms of [[auditRecall]] are this
    * plan. Output: (qid, pk, dist, rn). */
  private def ivfKnn(l: IndexedLayout, corpus: (DataFrame, String), qdf: DataFrame, k: Int,
                     nprobe: Int): DataFrame =
    graft.ann.Ann.knnJoin(corpus._1, qdf, k, l.meta.idColumn, corpus._2,
      "__audit_qid", "__audit_qvec", l.centroids, nprobe, l.meta.distance)
      .select(col("__audit_qid").as("qid"), col(l.meta.idColumn), col("dist"), col("rn"))

  /** The recall audits' ONE skeleton — per sampled query row, |exact top-k
    * ∩ probed top-k| / k (the `ann_recall` discipline made an API: the
    * reference's e2e recall eyeballing, e2e/edge/2025-03-07, made
    * programmatic for index rollouts). It owns the guards every audit
    * shares, the query set — the content-deterministic id-hash sample
    * `xxhash64(pk) % sampleMod == 0` of the collection itself (at 100 TB a
    * recall audit SAMPLES; sampleMod sizes the cost) —, the empty answer
    * of an empty flush and the recall join. A rung supplies only its two
    * arms, (exact, probed), each over (qid, pk): `arms` gets the layout and
    * `sample(frame, query columns)`, which returns `__audit_qid` (the
    * sampled pk as a string) plus those columns. Every stage is
    * sample-bounded, never corpus × corpus. Recall divides by the EXACT
    * arm's actual row count, not the constant k: a collection (or probed
    * state) with fewer than k rows would otherwise report a perfect probe
    * as recall < 1. Output: (qid, hits, recall) per sampled query. */
  private def auditOf(name: String, meta: CollectionMeta, method: String, sampleMod: Long,
      k: Int)(arms: (IndexedLayout, (DataFrame, Seq[Column]) => DataFrame) =>
        (DataFrame, DataFrame)): DataFrame = {
    require(meta.currentVersion > 0, s"collection $name has never been flushed")
    require(sampleMod >= 1, "sampleMod must be >= 1")
    require(k >= 1, "k must be >= 1")
    require(meta.idColumn != "qid",
      s"$method reserves the output column name 'qid'; the collection pk shadows it")
    val pk = meta.idColumn
    def sample(df: DataFrame, q: Seq[Column]): DataFrame =
      df.where(pmod(xxhash64(col(pk)), lit(sampleMod)) === 0)
        .select(col(pk).cast("string").as("__audit_qid") +: q: _*)
    layoutOf(name, meta).fold(noRows[(String, Long, Double)]("qid", "hits", "recall")) { l =>
      val (exact, probed) = arms(l, sample)
      // the member method `count(name)` shadows functions.count here
      val hitCount = org.apache.spark.sql.functions.count(col("__hit"))
      val exactCount = org.apache.spark.sql.functions.count(lit(1))
      exact.select(col("qid"), col(pk))
        .join(probed.select(col("qid"), col(pk), lit(1).as("__hit")), Seq("qid", pk), "left")
        .groupBy("qid")
        .agg(hitCount.as("hits"), (hitCount / exactCount).as("recall"))
        .orderBy("qid")
    }
  }

  /** Recall audit of the IVF probe ([[auditOf]]): BOTH arms run the
    * [[searchBatch]] plan ([[ivfKnn]]) — the exact arm is nprobe = |cells|,
    * the spec-pinned degeneration to brute force — so the audit cannot
    * drift from the serving plan it certifies. Works over delta chains
    * like every snapshot rung ([[indexedState]]). */
  def auditRecall(name: String, sampleMod: Long, nprobe: Int, k: Int = 10,
                  filter: Option[FilterExpr] = None): DataFrame = {
    val meta = getMeta(name)
    require(!meta.isMultiVector, s"collection $name is multi-vector; use auditRecallMulti")
    require(meta.ivfCells.isDefined,
      s"collection $name has no IVF layout — auditRecall certifies the IVF probe")
    require(nprobe >= 1, "nprobe must be >= 1")
    auditOf(name, meta, "auditRecall", sampleMod, k) { (l, sample) =>
      // `filter` audits the FILTERED probe ([[searchIvf]]'s pre-filter):
      // both arms see the same filtered corpus, so the number measures what
      // a selective predicate does to IVF recall (survivors of a selective
      // filter scatter across cells — exactly the rollout question). Queries
      // are sampled from the filtered set too: they are the queries that
      // serving path answers.
      val corpus @ (frame, vc) = ivfCorpus(l, filter)
      val qdf = sample(frame, Seq(col(vc).as("__audit_qvec")))
      (ivfKnn(l, corpus, qdf, k, l.centroids.size), ivfKnn(l, corpus, qdf, k, nprobe))
    }
  }

  /** The approximate rungs' two audit arms: cap `scored` (__audit_qid, pk,
    * __s — the pass-1 ordering value) to `candCount` rows per query
    * (partial WindowGroupLimit below the exchange, the knnJoin
    * discipline), re-score the candidates EXACTLY on the stored vectors and
    * keep top-k; the exact arm is the bounded brute force
    * ([[graft.ann.Ann.bruteForceTopK]]: queries broadcast over ONE corpus
    * scan). `corpus` is the (filtered) decoded state and its vector
    * column; `qdf` carries `__audit_qvec`. */
  private def twoPassArms(meta: CollectionMeta, corpus: (DataFrame, String), qdf: DataFrame,
      scored: DataFrame, candCount: Int, k: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val (decoded, vecCol) = corpus
    val pk = meta.idColumn
    val wh = Window.partitionBy(col("__audit_qid")).orderBy(col("__s").asc, col(pk).asc)
    val cand = scored.withColumn("__rn", row_number().over(wh))
      .where(col("__rn") <= candCount).select(col("__audit_qid"), col(pk))
    val rer = cand.join(decoded.select(col(pk), col(vecCol)), Seq(pk))
      .join(broadcast(qdf.select(col("__audit_qid"), col("__audit_qvec"))), Seq("__audit_qid"))
      .select(col("__audit_qid"), col(pk), round(graft.functions.distance(
        col(vecCol), col("__audit_qvec"), meta.distance), 6).as("__d"))
    val wr = Window.partitionBy(col("__audit_qid")).orderBy(col("__d").asc, col(pk).asc)
    val approx = rer.withColumn("__rn", row_number().over(wr)).where(col("__rn") <= k)
      .select(col("__audit_qid").as("qid"), col(pk))
    val exact = graft.ann.Ann.bruteForceTopK(decoded,
        qdf.select(col("__audit_qid"), col("__audit_qvec")), k, pk, vecCol,
        "__audit_qid", "__audit_qvec", meta.distance)
      .select(col("__audit_qid").as("qid"), col(pk))
    (exact, approx)
  }

  /** Recall audit of the BINARY rung ([[searchBinary]]'s two-pass shape,
    * multi-query; [[auditOf]]): per sampled query, |exact top-k ∩ (Hamming
    * top k·overFetch → exact rerank top-k)| / k. The overFetch dial is
    * exactly what this audit certifies before a rollout trusts the
    * sign-sketch trade. The queries' pass-1 codes are the sampled rows' own
    * stored codes — what [[searchBinary]] would compute for those vectors.
    * Pass 1 is one broadcast cross join over the codes-only projection with
    * a per-query bounded window; every stage is bounded by sample ×
    * candCount. */
  def auditRecallBin(name: String, sampleMod: Long, k: Int = 10, overFetch: Int = 3,
                     filter: Option[FilterExpr] = None): DataFrame = {
    val meta = getMeta(name)
    require(meta.hasBinaryIndex, s"collection $name has no binary index layout")
    require(overFetch >= 1, "overFetch must be >= 1")
    auditOf(name, meta, "auditRecallBin", sampleMod, k) { (l, sample) =>
      val corpus @ (frame, vc) = withDecoded(applyFilter(l.state, meta, filter), meta)
      val qdf = sample(frame, Seq(col(vc).as("__audit_qvec"),
        col(GraftCatalog.BinCol).as("__audit_qcode")))
      val scored = frame.select(col(meta.idColumn), col(GraftCatalog.BinCol))
        .crossJoin(broadcast(qdf.select(col("__audit_qid"), col("__audit_qcode"))))
        .select(col("__audit_qid"), col(meta.idColumn),
          graft.ann.Bin.hammingCols(col(GraftCatalog.BinCol), col("__audit_qcode")).as("__s"))
      twoPassArms(meta, corpus, qdf, scored, k * overFetch, k)
    }
  }

  /** Recall audit of the PQ rung ([[searchPq]]'s reranked shape,
    * multi-query; [[auditOf]]): per sampled query, |exact top-k ∩ (ADC top
    * k·overFetch → exact rerank top-k)| / k. Pass-1 ordering is
    * euclidean(query, reconstruction) — arithmetically THE ADC distance
    * (√Σ_j ‖q_j − c_j‖²), computed per (row, query) pair via one
    * [[graft.functions.pq_decode]] column so the multi-query form needs no
    * per-query LUT plan constants; residual (IVF-PQ) layouts add the row's
    * cell centroid back ([[graft.ann.Pq.addCentroid]]) before the distance.
    * Sidecar-flag handling (raw vs residual, flagless cohorts) is
    * [[searchPq]]'s ([[IndexedLayout.pq]]). `nprobe` applies the same
    * probed-cell restriction as [[searchPq]]'s nprobe (per query, against
    * its own nearest cells), so the audit certifies the probed serving
    * shape rather than the unprobed full ADC scan. */
  def auditRecallPq(name: String, sampleMod: Long, k: Int = 10, overFetch: Int = 4,
                    filter: Option[FilterExpr] = None,
                    nprobe: Option[Int] = None): DataFrame = {
    val meta = getMeta(name)
    require(meta.pqConfig.isDefined, s"collection $name has no PQ layout")
    require(overFetch >= 1, "overFetch must be >= 1")
    nprobe.foreach { np =>
      require(np >= 1, "nprobe must be >= 1")
      require(meta.ivfCells.isDefined,
        s"collection $name has no IVF layout — auditing a probed PQ path " +
          "(nprobe) needs ivfCells + pqSubspaces")
    }
    auditOf(name, meta, "auditRecallPq", sampleMod, k) { (l, sample) =>
      val (cb, residual) = l.pq
      val corpus @ (frame, vc) = withDecoded(applyFilter(l.state, meta, filter), meta)
      val pk = meta.idColumn
      val recon0 = graft.ann.Pq.decode(col(GraftCatalog.PqCodeCol), cb)
      val recon =
        if (residual)
          graft.ann.Pq.addCentroid(recon0, col(GraftCatalog.CellCol).cast("long"), l.centroids)
        else recon0
      val qdf = sample(frame, Seq(col(vc).as("__audit_qvec")))
      // `nprobe` audits the PROBED serving path ([[searchPq]] with nprobe):
      // pass 1 restricts each query's candidates to its own nprobe nearest
      // cells — per query, via the same top-cells selection the serving
      // probe makes — so the recall number certifies exactly the path a
      // probed rollout serves instead of overstating it with the unprobed
      // full ADC scan. The exact arm stays unrestricted brute force (it is
      // the truth the probe is measured against).
      val qprobe = nprobe.fold(qdf)(np => qdf.withColumn("__audit_qcells",
        graft.functions.top_cells(col("__audit_qvec"), l.centroids, meta.distance, np)))
      val pass1 = frame.select(
        (Seq(col(pk), recon.as("__recon")) ++
          (if (nprobe.isDefined) Seq(col(GraftCatalog.CellCol).cast("long").as("__cell"))
           else Nil)): _*)
        .crossJoin(broadcast(qprobe))
      val scored0 =
        if (nprobe.isDefined) pass1.where(array_contains(col("__audit_qcells"), col("__cell")))
        else pass1
      val scored = scored0.select(col("__audit_qid"), col(pk),
        graft.functions.euclidean_distance(col("__recon"), col("__audit_qvec")).as("__s"))
      twoPassArms(meta, corpus, qdf, scored, k * overFetch, k)
    }
  }

  /** ADC (product-quantization) search over the PQ code layout of the
    * on-disk snapshot: the scan touches ONLY the m-byte `__pq_code` column
    * (parquet column pruning) plus the pk — at 100 TB that is a 32-64×
    * smaller read than any float-vector scan, and the per-row work is m
    * table lookups. With `rerank` (default) the top `topK·overFetch` ADC
    * candidates are re-scored exactly on their stored vectors (an
    * id-pruned second read of O(topK·overFetch) rows) — the standard PQ
    * recall repair; `rerank = false` returns raw ADC distances
    * (euclidean over the decoded/normalized stored vectors — for cosine
    * collections normalized storage makes that ordering cosine-consistent;
    * dot/manhattan collections are rejected at create time).
    *
    * Composes with the IVF layout: a collection with both `ivfCells` and
    * `pqSubspaces` stores cell-partitioned code columns, so a
    * cell-restricted ADC scan is exactly IVF-PQ.
    *
    * `filter` pre-filters the pass-1 code scan ([[searchIvf]]'s S3
    * semantics — filter before scoring): one more conjunct on the same
    * pruned read, candidates are survivors by construction, the rerank
    * pass is unchanged. */
  def searchPq(name: String, queryVector: Array[Float], topK: Int,
               rerank: Boolean = true, overFetch: Int = 4,
               nprobe: Option[Int] = None,
               filter: Option[FilterExpr] = None): DataFrame =
    resolvePq(name, queryVector, overFetch, nprobe).fold(identity,
      pqPerCall(_, topK, rerank, overFetch, filter))

  private def pqPerCall(r: PqRoute, topK: Int, rerank: Boolean, overFetch: Int,
                        filter: Option[FilterExpr]): DataFrame = {
    val pass1 = pqPass1(r, topK, rerank, overFetch, filter)(lit(r.qv), r.probed.map(c => lit(c)))
    if (rerank) exactRerank(r.meta, r.full, r.hasCells, r.qv, pass1.collect().toIndexedSeq, topK)
    else pass1
  }

  /** [[searchPq]] with PASS 1 through a prepared plan (r12): on a RESIDUAL
    * IVF-PQ layout the broadcast-LUT kernel makes the ADC scan's only
    * per-request constants the query vector and (with `nprobe`) the probed
    * cell set — both swappable, so the (topK, rerank, overFetch, probed?,
    * filter) shape compiles once and re-prunes per request like
    * [[searchIvfPrepared]]. Raw-code layouts stay plan-per-call: their
    * single query LUT is a codegen constant by design (32 KB — nothing to
    * save). Pass 2 rides [[exactRerank]] unchanged. */
  def searchPqPrepared(name: String, queryVector: Array[Float], topK: Int,
                       rerank: Boolean = true, overFetch: Int = 4,
                       nprobe: Option[Int] = None,
                       filter: Option[FilterExpr] = None): (StructType, Seq[Row]) =
    resolvePq(name, queryVector, overFetch, nprobe) match {
      case Left(empty) => collected(empty)
      case Right(r) if r.bc.isEmpty => collected(pqPerCall(r, topK, rerank, overFetch, filter))
      case Right(r) =>
        val (schema, rows) = runPrepared(name,
            ("pq", topK, rerank, overFetch, nprobe.isDefined, filter), r.full,
            r.qv +: r.probed.toSeq)(v =>
          pqPass1(r, topK, rerank, overFetch, filter)(v.head, v.lift(1)))
        if (rerank) collected(exactRerank(r.meta, r.full, r.hasCells, r.qv, rows, topK))
        else (schema, rows)
    }

  /** A resolved PQ request. `full` is the memoized [[indexedState]] (the
    * prepared anchor); `bc` is the executor-side sidecar of a RESIDUAL
    * layout (None on raw-code layouts); `probed` the cells of `nprobe`. */
  private case class PqRoute(meta: CollectionMeta, full: DataFrame, qv: Array[Float],
                             cb: graft.ann.PqCodebook, hasCells: Boolean,
                             bc: Option[org.apache.spark.broadcast.Broadcast[
                               org.apache.spark.sql.graft.PqBcSidecar]],
                             probed: Option[Array[Long]])

  /** The PQ routes' shared resolve: guards, sidecar reads, layout and the
    * probe — or the empty answer of a collection flushed empty (no code
    * layout, nothing to rank).
    *
    * IVF collections store RESIDUAL codes (vec − cellCentroid — see flush),
    * so the ADC pass scores each row against its cell's own lookup table
    * (query residual vs sub-codewords); with nprobe the scan is also
    * restricted to the nearest cells — partition-directory pruning cuts
    * the I/O to nprobe/k of the (already code-only) read. Which layout the
    * snapshot actually stores is read from the sidecar's recorded flag
    * ([[IndexedLayout.pq]]). */
  private def resolvePq(name: String, queryVector: Array[Float], overFetch: Int,
                        nprobe: Option[Int]): Either[DataFrame, PqRoute] = {
    val meta = getMeta(name)
    require(meta.pqConfig.isDefined, s"collection $name has no PQ layout")
    require(meta.currentVersion > 0, s"collection $name has never been flushed")
    require(queryVector.length == meta.dim,
      s"vector dimension mismatch: expected ${meta.dim}, got ${queryVector.length}")
    require(overFetch >= 1, "overFetch must be >= 1")
    require(nprobe.isEmpty || meta.ivfCells.isDefined,
      s"collection $name has no IVF layout — nprobe needs ivfCells + pqSubspaces")
    layoutOf(name, meta).toRight(noRows[(String, Double)](meta.idColumn, "dist")).map { l =>
      val (cb, residual) = l.pq
      val qv = GraftCatalog.prepareQueryVector(queryVector, meta)
      // r12: the per-cell tables are EXECUTOR-BUILT from the per-version
      // broadcast sidecar — the request ships dim floats, not cells·m·ksub
      // doubles (8 MB/request at the 256/16/256 serving config, 128 MB at
      // 4096 cells — measured as ~60% of serve_pq_1m). Bit-identical tables
      // (PqSpec pins the kernel; the pq oracle rows gate it end-to-end).
      val bc = if (residual) Some(pqBroadcast(name, l.base, cb, l.centroids)) else None
      val probed = nprobe.map(np =>
        graft.ann.Ann.probeCells(l.centroids, qv, np, meta.distance).toArray)
      PqRoute(meta, l.state, qv, cb, l.hasCells, bc, probed)
    }
  }

  /** PASS 1 of the PQ routes over query Column `q` and probed-cell array
    * Column `cells`: the ADC scan, pre-filtered ([[searchIvf]]'s S3
    * semantics — one conjunct on the same pruned read, so every candidate
    * is a filter survivor and the rerank needs no re-check). Without
    * rerank it is the answer; with it, the top `topK·overFetch` candidates'
    * pk (and cell, when the layout has one — it restricts the rerank scan
    * to the CANDIDATES' OWN partition directories; without it the id-isin
    * pushdown still opens every cell dir's footers, measured as the bulk of
    * serve_pq_1m's 0.43 s). A raw-code layout scores one plan-constant
    * query LUT and ignores `q`. */
  private def pqPass1(r: PqRoute, topK: Int, rerank: Boolean, overFetch: Int,
                      filter: Option[FilterExpr])(q: Column, cells: Option[Column]): DataFrame = {
    val pk = col(r.meta.idColumn)
    val code = col(GraftCatalog.PqCodeCol)
    val adc = r.bc match {
      case Some(bc) => graft.functions.pq_adc_distance_cells_bc(
        code, col(GraftCatalog.CellCol).cast("long"), q, bc)
      case None => graft.ann.Pq.adcDist(code, r.cb, r.qv)
    }
    val restricted = cells.fold(r.full)(c =>
      r.full.where(array_contains(c, col(GraftCatalog.CellCol).cast("long"))))
    val scan = applyFilter(restricted, r.meta, filter)
    if (!rerank)
      scan.select(pk, round(adc, 6).as("dist")).orderBy(col("dist").asc, pk.asc).limit(topK)
    else {
      val keep = if (r.hasCells) Seq(pk, col(GraftCatalog.CellCol)) else Seq(pk)
      scan.select(keep :+ adc.as("__adc"): _*)
        .orderBy(col("__adc").asc, pk.asc).limit(topK * overFetch).select(keep: _*)
    }
  }

  /** Two-pass binary search over the packed sign-code layout: the first
    * pass scans ONLY (pk, `__bin_code`) — ceil(dim/8) bytes/row via parquet
    * column pruning, a 1/32-of-f32 read with an integer-only XOR+popcount
    * hot loop — and keeps the Hamming top `topK·overFetch`; the second pass
    * re-scores exactly those candidates on their stored vectors (an
    * id-pruned read of O(topK·overFetch) rows, the [[searchPq]] rerank
    * shape). At 100 TB the first pass is the cheapest possible full scan
    * and the second never grows with the corpus. Recall is the standard
    * sign-sketch trade, tunable via `overFetch`.
    *
    * `filter` pre-filters the pass-1 Hamming scan ([[searchIvf]]'s S3
    * semantics): every candidate entering the exact rerank is a filter
    * survivor; the rerank pass is unchanged. */
  def searchBinary(name: String, queryVector: Array[Float], topK: Int,
                   overFetch: Int = 3,
                   filter: Option[FilterExpr] = None): DataFrame =
    resolveBin(name, queryVector, topK, overFetch).fold(identity, r =>
      exactRerank(r.meta, r.full, r.withCell, r.qv,
        binPass1(r, topK, overFetch, filter)(lit(r.qc)).collect().toIndexedSeq, topK))

  /** [[searchBinary]] with PASS 1 through a prepared plan (r12): the
    * corpus-sized Hamming scan compiles once per (topK, overFetch, filter)
    * shape; each request swaps the QUERY CODE — one binary literal, scored
    * by the two-operand kernel on both forms. Pass 2 rides
    * [[exactRerank]] unchanged (see its note on why it stays
    * plan-per-call). */
  def searchBinaryPrepared(name: String, queryVector: Array[Float], topK: Int,
                           overFetch: Int = 3,
                           filter: Option[FilterExpr] = None): (StructType, Seq[Row]) =
    resolveBin(name, queryVector, topK, overFetch) match {
      case Left(empty) => collected(empty)
      case Right(r) =>
        val (_, cand) = runPrepared(name, ("bin", topK, overFetch, filter), r.full, Seq(r.qc))(v =>
          binPass1(r, topK, overFetch, filter)(v.head))
        collected(exactRerank(r.meta, r.full, r.withCell, r.qv, cand, topK))
    }

  /** A resolved binary request: `full` is the memoized [[indexedState]]
    * (the prepared anchor), `qc` the packed query code; `withCell` when
    * the layout composes with ivfCells. */
  private case class BinRoute(meta: CollectionMeta, full: DataFrame, qv: Array[Float],
                              qc: Array[Byte], withCell: Boolean)

  /** The binary routes' shared resolve: guards, threshold sidecar and the
    * query code — or the empty answer of an empty flush. */
  private def resolveBin(name: String, queryVector: Array[Float], topK: Int,
                         overFetch: Int): Either[DataFrame, BinRoute] = {
    val meta = getMeta(name)
    require(meta.hasBinaryIndex, s"collection $name has no binary index layout")
    require(meta.currentVersion > 0, s"collection $name has never been flushed")
    require(queryVector.length == meta.dim,
      s"vector dimension mismatch: expected ${meta.dim}, got ${queryVector.length}")
    require(topK >= 1, "topK must be >= 1")
    require(overFetch >= 1, "overFetch must be >= 1")
    layoutOf(name, meta).toRight(noRows[(String, Double)](meta.idColumn, "dist")).map { l =>
      val th = l.thresholds
      require(th.length == meta.dim,
        s"binary sidecar dimension mismatch: ${th.length} vs ${meta.dim}")
      val qv = GraftCatalog.prepareQueryVector(queryVector, meta)
      BinRoute(meta, l.state, qv, graft.ann.Bin.encodeOne(qv, th), l.hasCells)
    }
  }

  /** PASS 1 of the binary routes over query-code Column `code`: scans ONLY
    * (pk, `__bin_code`) (+ the cell on a cell-partitioned layout — the
    * candidates' own cells restrict the rerank to THEIR partition
    * directories, the searchPq discipline), pre-filtered (S3 semantics, as
    * in searchIvf: the candidates the rerank re-scores are filter
    * survivors by construction), and keeps the Hamming top
    * `topK·overFetch` — O(topK·overFetch) rows, driver-sized. */
  private def binPass1(r: BinRoute, topK: Int, overFetch: Int,
                       filter: Option[FilterExpr])(code: Column): DataFrame = {
    val pk = col(r.meta.idColumn)
    val keep = if (r.withCell) Seq(pk, col(GraftCatalog.CellCol)) else Seq(pk)
    applyFilter(r.full, r.meta, filter)
      .select(keep :+ graft.ann.Bin.hammingCols(col(GraftCatalog.BinCol), code).as("__h"): _*)
      .orderBy(col("__h").asc, pk.asc)
      .limit(topK * overFetch).select(keep: _*)
  }

  /** PASS 2 of the PQ and binary routes — the exact rerank over the
    * pass-1 candidates (pk, plus the cell when `withCell`), ONE
    * implementation so the routes cannot drift. Stays plan-per-call ON
    * PURPOSE: the candidate ids/cells are per-request literals whose
    * parquet row-group pushdown (`In` on the pk) and partition pruning
    * matter more at scale than the analysis a prepared pass-2 would save —
    * an array-literal filter does not push into parquet. */
  private def exactRerank(meta: CollectionMeta, full: DataFrame, withCell: Boolean,
                          qv: Array[Float], cand: Seq[Row], topK: Int): DataFrame = {
    val candIds = cand.map(_.get(0))
    val vec = decodedCol(meta, VectorCol)
    val pk = meta.idColumn
    val pruned =
      if (withCell) {
        val candCells = cand.map(_.get(1)).distinct
        full.where(col(GraftCatalog.CellCol).isin(candCells: _*) && col(pk).isin(candIds: _*))
      } else full.where(col(pk).isin(candIds: _*))
    pruned
      .select(col(pk), round(graft.functions.distance(vec, lit(qv), meta.distance), 6).as("dist"))
      .orderBy(col("dist").asc, col(pk).asc).limit(topK)
  }

  /** The per-version EXECUTOR-side PQ serving sidecar (sorted cell ids +
    * centroids + codebook) as a real Spark broadcast — fetched once per
    * executor via the block manager, NOT serialized into every query's
    * task binary like a plan constant. Cached per (name, version) like the
    * other sidecars; [[GraftCatalog.releaseArtifact]] destroys it on
    * invalidation/eviction. */
  private def pqBroadcast(name: String, v: Int, cb: graft.ann.PqCodebook,
      centroids: Seq[(Long, Array[Float])])
      : org.apache.spark.broadcast.Broadcast[org.apache.spark.sql.graft.PqBcSidecar] =
    versionArtifact(name, v, "pqbc") {
      val sorted = centroids.sortBy(_._1)
      spark.sparkContext.broadcast(org.apache.spark.sql.graft.PqBcSidecar(
        sorted.map(_._1).toArray, sorted.map(_._2).toArray, cb.cents, cb.ksub))
    }

  /** Load the flushed binary sign-code layout into a driver-local Hamming
    * serving index ([[graft.ann.LocalBinIndex]]): ceil(dim/8) bytes per
    * vector — the densest serving rung (2× beyond [[localPqIndex]] at
    * dim=128/m=16) with a pure-integer scan; candidates feed
    * [[searchBinary]]-style exact reranks. */
  def localBinIndex(name: String,
                    filterColumns: Seq[String] = Nil): graft.ann.LocalBinIndex = {
    val meta = getMeta(name)
    require(meta.hasBinaryIndex, s"collection $name has no binary index layout")
    val l = servedLayout(name, meta)
    graft.ann.LocalBinIndex.fromCodes(l.state, meta.idColumn, GraftCatalog.BinCol,
      meta.dim, l.thresholds, metaCols = localFilterSpecs(meta, filterColumns))
  }

  /** The layout a driver-local rung loads: the four loaders' shared
    * guards, refusing an empty flush. */
  private def servedLayout(name: String, meta: CollectionMeta): IndexedLayout = {
    require(meta.currentVersion > 0, s"collection $name has never been flushed")
    layoutOf(name, meta).getOrElse(throw new IllegalArgumentException(
      s"collection $name was flushed empty — nothing to serve"))
  }

  /** Resolve `filterColumns` against the collection's DECLARED scalar
    * fields as (name, fieldType) pairs for the local rungs' typed EQ store
    * ([[graft.ann.LocalMeta]]) — the one seam [[localIvfIndex]] and
    * [[localBinIndex]] share so their loaded-column rules cannot drift.
    * Undeclared / vector columns refuse loudly; schemaless collections have
    * no typed columns to ship (their map-coerced filters stay on the
    * distributed paths). */
  private def localFilterSpecs(meta: CollectionMeta,
                               filterColumns: Seq[String]): Seq[(String, String)] = {
    if (filterColumns.isEmpty) return Nil
    require(!meta.isSchemaless,
      s"collection ${meta.name} is schemaless — its metadata lives in the " +
        "string-coerced map, which the typed local-EQ store cannot hold; " +
        "filtered searches go through search/searchIvf")
    require(filterColumns.distinct.size == filterColumns.size,
      s"duplicate filter columns: ${filterColumns.mkString(", ")}")
    filterColumns.map { c =>
      val f = meta.fields.find(_.name == c).getOrElse(throw new IllegalArgumentException(
        s"collection ${meta.name} declares no field '$c' — declared scalars: " +
          meta.fields.filterNot(_.isVector).map(_.name).mkString(", ")))
      require(!f.isVector, s"field '$c' is a vector — EQ filters apply to scalar metadata")
      (f.name, f.fieldType)
    }
  }

  /** Load the flushed IVF snapshot into a driver-local serving index
    * (sub-millisecond point probes, no Spark job — the serving-side
    * counterpart of the batch-built layout; see
    * [[graft.ann.LocalIvfIndex]]). */
  def localIvfIndex(name: String,
                    filterColumns: Seq[String] = Nil): graft.ann.LocalIvfIndex = {
    val meta = getMeta(name)
    require(!meta.isMultiVector,
      s"collection $name is multi-vector — the driver-local rungs serve single-vector layouts")
    require(meta.ivfCells.isDefined, s"collection $name has no IVF layout")
    val l = servedLayout(name, meta)
    // vectors load in their STORED form (floats / f16|bf16 shorts / f8
    // bytes) — the serving node holds what disk holds (½ memory on f16,
    // ¼ on f8); probes decode per scan, bit-identically
    graft.ann.LocalIvfIndex.fromAssigned(
      l.state.withColumnRenamed(GraftCatalog.CellCol, "cell"), meta.idColumn,
      VectorCol, l.centroids, meta.distance,
      metaCols = localFilterSpecs(meta, filterColumns),
      quant = meta.quantization)
  }

  /** Load a multi-vector collection's routed IVF snapshot into the
    * driver-local serving index ([[graft.ann.LocalMultiIndex]]) — the CFLAT
    * point-latency rung: probes select cells by the ROUTING field
    * in-process, the weighted multi-field score runs only inside them, no
    * Spark job. Ranking parity with [[searchMultiIvf]] over the same
    * layout at the same nprobe (LocalMultiIndexSpec pins it); delta chains
    * fold at load like every local-rung loader. Memory: the STORED form
    * per row — Σ_f 4·dim_f bytes unquantized, half on f16/bf16, a quarter
    * on f8 (quantized rows decode per probe, bit-identically) — size
    * serving nodes accordingly or stay on the distributed probe. */
  def localMultiIndex(name: String): graft.ann.LocalMultiIndex = {
    val meta = getMeta(name)
    require(meta.isMultiVector,
      s"collection $name is single-vector; use localIvfIndex")
    require(meta.ivfCells.isDefined, s"collection $name has no IVF layout")
    val l = servedLayout(name, meta)
    // vectors load in their STORED form (floats / f16 shorts / f8 bytes) —
    // the serving node holds what disk holds; probes decode per scan
    graft.ann.LocalMultiIndex.fromAssigned(
      l.state.withColumnRenamed(GraftCatalog.CellCol, "cell"), meta.idColumn,
      meta.vectorFields.map(f => f.name -> meta.dimOf(f)),
      l.centroids, meta.distance, meta.routingVector.get.name,
      quant = meta.quantization)
  }

  /** Load the flushed PQ code layout into a driver-local ADC serving index
    * ([[graft.ann.LocalPqIndex]]): m bytes per vector instead of 4·dim —
    * 32-64× more collection per serving node than [[localIvfIndex]]'s
    * float arrays, probes still in-process with no Spark job. On an IVF-PQ
    * snapshot the index probes cells against per-cell residual tables;
    * exact top-k needs the rerank repair ([[searchPq]]). `filterColumns`
    * ships the named declared scalars as the typed local-EQ store
    * ([[localFilterSpecs]] — the same seam as [[localIvfIndex]] /
    * [[localBinIndex]]). */
  def localPqIndex(name: String,
                   filterColumns: Seq[String] = Nil): graft.ann.LocalPqIndex = {
    val meta = getMeta(name)
    require(meta.pqConfig.isDefined, s"collection $name has no PQ layout")
    val l = servedLayout(name, meta)
    val (cb, residual) = l.pq
    graft.ann.LocalPqIndex.fromCodes(l.state, meta.idColumn, GraftCatalog.PqCodeCol, cb,
      if (l.hasCells) l.centroids else Nil, meta.distance,
      if (l.hasCells) Some(GraftCatalog.CellCol) else None,
      residual = residual, metaCols = localFilterSpecs(meta, filterColumns))
  }

  // ---- O(changes) refresh of the driver-local serving rungs (r13, r12
  // VERDICT #2). The reference HNSW takes single inserts online
  // (core/vectorindex/hnsw.go:104-167); our batch-first split rebuilds
  // indexes from flushed snapshots — which made every flushDelta
  // invalidate a resident local rung into a full O(corpus) reload
  // (multi_local_load_1m: 15-32 s; minutes at 10M). Delta segments are
  // already O(changes) AND carry their layout columns (decorateSegment
  // encodes cell / PQ / bin codes against the chain base's sidecars at
  // segment-write time), so a resident index built at version P folds the
  // (P, head] window's LWW winners in place of a reload: strike every
  // winner pk, append put winners in stored form. Parity with the
  // rebuilt index is pinned per rung and storage mode (LocalRefreshSpec).

  /** The delta window an index built at `prevHead` can FOLD to reach
    * `head`: defined only when both share one chain base (sidecars —
    * centroids / codebook / thresholds — are the base's; a new base means
    * new artifacts, so a fold would mis-encode) and `prevHead` is itself a
    * state of that chain. None ⇒ the caller must rebuild. */
  private def refreshWindow(name: String, prevHead: Int, head: Int): Option[Range] =
    if (prevHead >= head) None
    else chainBaseOpt(name, head) match {
      case Some(base) if prevHead >= base &&
          (prevHead == base || isDeltaVersion(name, prevHead)) =>
        Some(prevHead + 1 to head)
      case _ => None
    }

  /** One window's LWW winners for a local-rung fold: (struck pk set —
    * EVERY winner, del and put, so a moved row's stale copy strikes
    * wherever it lives —, put winner rows with `cols` starting at index 2).
    *
    * BOUNDED collect: winners materialize on the driver as Spark Rows with
    * vector payloads, so a window bigger than `maxChanges` returns None —
    * the caller rebuilds via the streaming loader instead (toLocalIterator,
    * one partition resident at a time). Fetching `maxChanges + 1` through
    * `limit` answers "over the cap?" and delivers the complete winner set
    * when not, in ONE job — a result of ≤ maxChanges rows means the limit
    * never truncated. */
  private def refreshWinners(name: String, meta: CollectionMeta, window: Range,
                             cols: Seq[Column], maxChanges: Int)
      : Option[(java.util.HashSet[AnyRef], Seq[org.apache.spark.sql.Row])] = {
    require(maxChanges >= 1, s"maxChanges must be >= 1, got $maxChanges")
    // Footer pre-screen (r13 advice): the window's raw ledger row count —
    // summed from parquet footers, no Spark job — upper-bounds its LWW
    // winner count. When even the bound exceeds the cap, skip the probe:
    // the bounded fetch would execute the FULL winner aggregation (union +
    // latestByKey) only to return None, and the rebuild fallback then pays
    // the same fold again inside foldChain. Conservative by construction —
    // a window whose raw rows exceed the cap only through per-key
    // duplicates rebuilds instead of folding, trading a rare missed fold
    // for never paying the oversize aggregation twice.
    if (maxChanges != Int.MaxValue && windowRowBound(name, window) > maxChanges)
      return None
    val pk = meta.idColumn
    val fetch = if (maxChanges == Int.MaxValue) maxChanges else maxChanges + 1
    val rows = ledgerWinners(name, pk, window)
      .select(col(pk) +: col(GraftCatalog.DeltaOpCol) +: cols: _*)
      .limit(fetch).collect()
    if (rows.length > maxChanges) None
    else {
      val struck = new java.util.HashSet[AnyRef](math.max(16, rows.length * 2))
      rows.foreach(r => struck.add(r.get(0).asInstanceOf[AnyRef]))
      Some((struck, rows.iterator.filter(_.getString(1) == "put").toSeq))
    }
  }

  /** Sum of parquet row counts across a delta window's segment files —
    * read from file footers on the driver (tail-of-file metadata, no job,
    * no row data). An upper bound on the window's LWW winner count: every
    * winner is at least one ledger row. */
  private def windowRowBound(name: String, window: Range): Long =
    window.iterator.map(w => parquetDirRowCount(versionDir(name, w))).sum

  /** A put winner's stored-form payload at column `i`, read by the
    * column's type — float[] / short[] vectors, byte[] f8 vectors and codes. */
  private def storedOf(r: org.apache.spark.sql.Row, i: Int): AnyRef = {
    require(!r.isNullAt(i),
      s"put winner ${r.get(0)} carries a null payload — segment corrupt")
    r.schema(i).dataType match {
      case ArrayType(FloatType, _) => r.getSeq[Float](i).toArray
      case ArrayType(ShortType, _) => r.getSeq[Short](i).toArray
      case _                       => r.getAs[Array[Byte]](i)
    }
  }

  private def segCellOf(r: org.apache.spark.sql.Row, i: Int): Long = {
    require(!r.isNullAt(i),
      s"put winner ${r.get(0)} carries a null cell — segment corrupt")
    r.getLong(i)
  }

  private def oversizeRefusal(name: String, w: Range, maxChanges: Int) =
    new GraftCatalog.RefreshTooLargeException(
      s"local-rung refresh of '$name' over window v${w.start}..v${w.end} exceeds " +
        s"maxChanges=$maxChanges LWW winners — drop the resident index and rebuild " +
        "lazily, or call with oversizeRebuilds=true to rebuild now")

  /** The OTHER inline-rebuild trigger `oversizeRebuilds=false` must cover
    * (r13 advice): the chain base moved (a full flush / compaction —
    * possibly by ANOTHER driver on the same root) between the caller's
    * cache read and this refresh, so no foldable window exists and the only
    * way forward is an O(corpus) rebuild. An eager write-path caller (the
    * flushDelta-route fold) must degrade to drop-and-lazy-rebuild here
    * exactly as on an oversize window — otherwise the cross-driver race
    * stalls a publish on the rebuild the flag was added to prevent. */
  private def rebaseRefusal(name: String, prevVersion: Int, head: Int) =
    new GraftCatalog.RefreshTooLargeException(
      s"local-rung refresh of '$name' from v$prevVersion to v$head has no " +
        "foldable delta window (the chain base moved — flush/compaction) — " +
        "an inline O(corpus) rebuild is required; drop the resident index " +
        "and rebuild lazily, or call with oversizeRebuilds=true to rebuild now")

  /** Sorted specs for a refresh, REQUIRED to match what the index was
    * built with — a drifted filter-column set would mis-align put meta
    * values, so it refuses loudly (rebuild with the new columns instead). */
  private def refreshSpecs(meta: CollectionMeta, filterColumns: Seq[String],
                           built: Set[String]): Seq[(String, String)] = {
    val specs = localFilterSpecs(meta, filterColumns).sortBy(_._1)
    require(specs.map(_._1).toSet == built,
      s"refresh filterColumns [${specs.map(_._1).mkString(", ")}] do not match the " +
        s"built index's [${built.toSeq.sorted.mkString(", ")}] — rebuild instead")
    specs
  }

  /** Fold the delta window since `prevVersion` into a resident local rung
    * — O(changes) collect + touched-cell rebuild through the rung's shared
    * [[graft.ann.CellStore]] fold — or fall back to a full reload of the
    * same rung when the chain base moved (flush / compaction). Returns
    * (rung, version it now serves); `prev` itself when nothing changed. A
    * window holding more than `maxChanges` LWW winners also rebuilds
    * (bounded driver collect — see
    * [[GraftCatalog.DefaultLocalRefreshMaxChanges]]) — unless
    * `oversizeRebuilds` is false, in which case it throws
    * [[GraftCatalog.RefreshTooLargeException]] so an EAGER caller on the
    * write path (the flushDelta fold) can degrade to drop-and-lazy-rebuild
    * instead of stalling the publish on an O(corpus) rebuild. The put
    * winners carry each rung's stored form: the segment-assigned cell (the
    * ROUTING field's on multi-vector), then the vector(s) or the
    * segment-encoded PQ / sign code (encoded against the chain base's
    * sidecars — the ones the rung holds), then the filter columns. */
  def refreshLocal[R <: graft.ann.LocalRung](name: String, prev: R, prevVersion: Int,
      filterColumns: Seq[String] = Nil,
      maxChanges: Int = GraftCatalog.DefaultLocalRefreshMaxChanges,
      oversizeRebuilds: Boolean = true): (R, Int) = {
    val meta = getMeta(name)
    val head = meta.currentVersion
    if (head == prevVersion) return (prev, head)
    val cell = col(GraftCatalog.CellCol).cast("long")
    val noCell = lit(-1L)
    // (full reload of this rung, its cell + payload columns in a segment —
    // resolved only when a window exists, after the chain-base check)
    val (reload, layout) = prev match {
      case _: graft.ann.LocalIvfIndex => (() => localIvfIndex(name, filterColumns),
        () => Seq(cell, graft.ann.LocalRung.storedCol(VectorCol, meta.quantization)))
      case _: graft.ann.LocalPqIndex => (() => localPqIndex(name, filterColumns),
        () => Seq(if (layoutOf(name, meta).exists(_.hasCells)) cell else noCell,
          col(GraftCatalog.PqCodeCol)))
      case _: graft.ann.LocalBinIndex => (() => localBinIndex(name, filterColumns),
        () => Seq(noCell, col(GraftCatalog.BinCol)))
      case _: graft.ann.LocalMultiIndex => (() => localMultiIndex(name),
        () => cell +: meta.vectorFields.map(f =>
          graft.ann.LocalRung.storedCol(f.name, meta.quantization)))
    }
    def rebuild(): (R, Int) = (reload().asInstanceOf[R], head)
    refreshWindow(name, prevVersion, head) match {
      case None if !oversizeRebuilds => throw rebaseRefusal(name, prevVersion, head)
      case None => rebuild()
      case Some(w) =>
        val specs = refreshSpecs(meta, filterColumns, prev.filterableColumns)
        val payload = layout()
        refreshWinners(name, meta, w, payload ++ specs.map { case (n, _) => col(n) },
            maxChanges) match {
          case None if !oversizeRebuilds => throw oversizeRefusal(name, w, maxChanges)
          case None => rebuild()
          case Some((struck, putRows)) =>
            val nf = payload.length - 1
            val puts = putRows.map { r =>
              graft.ann.LocalRung.Put(r.get(0).asInstanceOf[AnyRef], segCellOf(r, 2),
                (3 until 3 + nf).map(storedOf(r, _)), specs.indices.map(j => r.get(3 + nf + j)))
            }
            (prev.applyChanges(struck, puts).asInstanceOf[R], head)
        }
    }
  }

  /** [[refreshLocal]] typed for the IVF rung. */
  def refreshLocalIvfIndex(name: String, prev: graft.ann.LocalIvfIndex,
                           prevVersion: Int, filterColumns: Seq[String] = Nil,
                           maxChanges: Int = GraftCatalog.DefaultLocalRefreshMaxChanges,
                           oversizeRebuilds: Boolean = true)
      : (graft.ann.LocalIvfIndex, Int) =
    refreshLocal(name, prev, prevVersion, filterColumns, maxChanges, oversizeRebuilds)

  /** Files the probed cells actually read, from the PHYSICAL scan's
    * selected partitions — `inputFiles` would list the whole relation; only
    * the planned `FileSourceScanExec` reflects partition-directory pruning.
    * The spec asserts this shrinks with nprobe. */
  def ivfProbedFiles(name: String, queryVector: Array[Float], nprobe: Int): Array[String] = {
    val meta = getMeta(name)
    // the BASE snapshot's files — the O(corpus) side whose directory
    // pruning the spec audits; delta segments are O(changes) side reads
    layoutOf(name, meta).fold(Array.empty[String]) { l =>
      val qv = GraftCatalog.prepareQueryVector(queryVector, meta)
      val probed = graft.ann.Ann.probeCells(l.centroids, qv, nprobe, meta.distance)
      readVersionDir(name, l.base).where(col(GraftCatalog.CellCol).isin(probed: _*))
        .queryExecution.sparkPlan
        .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
        .flatMap(_.selectedPartitions.toPartitionArray.map(_.urlEncodedPath))
        .toArray
    }
  }

  /** Pre-touch the serving layout for `cells` (every cell when empty):
    * reads the vector/code BYTES of the selected cell partitions through
    * one aggregate-only job, pulling their pages into the OS cache so the
    * first probe against them pays page-warm I/O instead of the cold
    * envelope (README "Cold-probe envelope": ~nprobe/cells × layout bytes
    * ÷ disk throughput on first touch — the r13 decomposition's physics;
    * the serve_*_full_100m min-of-2 rows show 80.8 s cold vs 5.4 s warm
    * on identical bytes_read). Partition-pruned exactly like the probes:
    * warming 8 of 256 cells reads 1/32 of the layout. A bare `count()`
    * would satisfy itself from parquet footers without touching data
    * pages, so the job sums the serving columns' array/byte lengths.
    * Returns the number of rows touched. */
  def warmCells(name: String, cells: Seq[Long] = Nil): Long = {
    val meta = getMeta(name)
    require(meta.currentVersion > 0, s"collection $name has never been flushed")
    layoutOf(name, meta).fold(0L) { l =>
      val sel =
        if (cells.isEmpty || !l.hasCells) l.state
        else l.state.where(col(GraftCatalog.CellCol).isin(cells: _*))
      val touch = sel.schema.fields.toSeq.collect {
        case f if f.dataType.isInstanceOf[ArrayType] => sum(size(col(f.name)))
        case f if f.dataType == org.apache.spark.sql.types.BinaryType => sum(length(col(f.name)))
      }
      val aggs = org.apache.spark.sql.functions.count(lit(1)) +: touch
      sel.agg(aggs.head, aggs.tail: _*).collect().head.getLong(0)
    }
  }

  /** Weighted multi-vector search over a CFLAT-style collection
    * (experimental/multi_vector_vertex.go:85-137): each queried field names a
    * declared vector column; included ratios must sum to 100 (validated in
    * MultiVectorSearch, experimental_analyzer.go:143-154). Query vectors get
    * the same prep as stored ones; quantized columns are decoded into the
    * scoring expression. */
  def searchMulti(
      name: String,
      fields: Seq[MultiVectorSearch.FieldQuery],
      topK: Int): DataFrame = {
    val (df, meta, routed) = resolveMulti(name, fields)
    multiPlan(df, meta, routed, topK)(routed.filter(_.include).map(f => lit(f.queryVector)))
  }

  /** Probed (IVF) multi-vector search — the PRUNED layout for the CFLAT
    * shape (the reference's experimental engine scans every vertex,
    * multi_vector_vertex.go:111-124; at 100 TB that full scan is the
    * bottleneck). A multi-vector collection flushed with `ivfCells` is
    * cell-partitioned on its ROUTING field ([[CollectionMeta.routingVector]]
    * — declared `routingField`, default the first vector field): the
    * `nprobe` centroids nearest the routing QUERY select cells, the
    * probed-cell predicate prunes whole partition directories, and the
    * weighted multi-field score runs only inside probed cells. Recall
    * follows the routing field's IVF recall (the standard single-probe
    * trade — fields weighted heavily but uncorrelated with the routing
    * field lower it; [[auditRecallMulti]] measures exactly that before a
    * rollout trusts the probe). `nprobe = cells` degenerates to the exact
    * [[searchMulti]] ranking over the flushed state. Delta chains compose:
    * segment puts were assigned to the base's centroids by the ROUTING
    * field at write time ([[decorateSegment]]). Requires a query for the
    * routing field (probing needs it); output (pk, cell, score). */
  def searchMultiIvf(name: String, fields: Seq[MultiVectorSearch.FieldQuery],
                     topK: Int, nprobe: Int): DataFrame =
    resolveMultiIvf(name, fields, nprobe).fold(identity, r =>
      multiIvfPlan(r, topK)(r.routed.filter(_.include).map(f => lit(f.queryVector)) :+ lit(r.probed)))

  /** [[searchMultiIvf]] through a prepared (plan-once/execute-many) plan —
    * r12, closing the "unprepared BY DESIGN" note of PLANS.md r11: the
    * probed cell set is ONE swappable array inside the scan's partition
    * filter, so the (field, ratio, include)+topK shape compiles once and
    * each request swaps every included field's query vector plus the cell
    * set — partition pruning re-evaluates per swapped copy, exactly like
    * [[searchIvfPrepared]]. Results equal [[searchMultiIvf]] bit-for-bit
    * (MultiIvfSpec pins it). */
  def searchMultiIvfPrepared(name: String, fields: Seq[MultiVectorSearch.FieldQuery],
                             topK: Int, nprobe: Int): (StructType, Seq[Row]) =
    resolveMultiIvf(name, fields, nprobe) match {
      case Left(empty) => collected(empty)
      case Right(r) =>
        runPrepared(name, ("multiIvf", multiShape(r.routed), topK), r.anchor,
          r.routed.filter(_.include).map(_.queryVector) :+ r.probed)(multiIvfPlan(r, topK))
    }

  /** A resolved probed multi-vector request: `anchor` is the memoized
    * [[indexedState]] (the prepared anchor), `probed` the routing query's
    * `nprobe` cells. */
  private case class MultiIvfRoute(meta: CollectionMeta, anchor: DataFrame,
                                   routed: Seq[MultiVectorSearch.FieldQuery],
                                   probed: Array[Long])

  /** The probed multi-vector routes' shared resolve — or the empty answer
    * of a collection flushed empty. */
  private def resolveMultiIvf(name: String, fields: Seq[MultiVectorSearch.FieldQuery],
                              nprobe: Int): Either[DataFrame, MultiIvfRoute] = {
    val meta = getMeta(name)
    require(meta.isMultiVector, s"collection $name is single-vector; use searchIvf")
    require(meta.ivfCells.isDefined, s"collection $name has no IVF layout")
    require(meta.currentVersion > 0, s"collection $name has never been flushed")
    require(nprobe >= 1, "nprobe must be >= 1")
    layoutOf(name, meta).toRight(noRows[(String, Int, Double)](meta.idColumn, "cell", "score"))
      .map { l =>
        val routed = prepareMultiFields(meta, fields)
        val routing = meta.routingVector.get
        val rq = routed.find(_.vectorCol == routing.name).getOrElse(
          throw new IllegalArgumentException(
            s"probed multi-vector search needs a query for the routing field ${routing.name}"))
        val probed = graft.ann.Ann.probeCells(l.centroids, rq.queryVector, nprobe, meta.distance)
        MultiIvfRoute(meta, l.state, routed, probed.toArray)
      }
  }

  /** The probed multi-vector plan over the included fields' query Columns
    * followed by the probed-cell array Column. */
  private def multiIvfPlan(r: MultiIvfRoute, topK: Int)(v: Seq[Column]): DataFrame =
    multiPlan(r.anchor.withColumnRenamed(GraftCatalog.CellCol, "cell")
        .where(array_contains(v.last, col("cell").cast("long"))),
      r.meta, r.routed, topK, keepCols = Seq("cell"))(v.init)

  /** Recall audit of the multi-vector IVF probe ([[auditRecall]]'s
    * discipline on the [[searchMultiIvf]] rung; [[auditOf]]): per sampled
    * query row, |exact weighted top-k ∩ nprobe-probed weighted top-k| / k,
    * where the query vectors are the sampled rows' OWN field vectors and
    * `fields` gives the (field, ratio) weighting under audit. This is the
    * number that tells a rollout how much the single-field routing probe
    * costs the MULTI-field ranking — the failure mode specific to this rung
    * (a heavily-weighted field uncorrelated with the routing field pulls
    * true winners into unprobed cells). Both arms run the
    * [[searchBatchMulti]] plan ([[multiProbedTopK]]), the exact arm at
    * nprobe = |cells| (the spec-pinned degeneration to brute force), so
    * the audit cannot drift from the serving plan. */
  def auditRecallMulti(name: String, sampleMod: Long, nprobe: Int,
                       fields: Seq[(String, Double)], k: Int = 10): DataFrame = {
    val meta = getMeta(name)
    require(meta.isMultiVector, s"collection $name is single-vector; use auditRecall")
    require(meta.ivfCells.isDefined, s"collection $name has no IVF layout")
    require(nprobe >= 1, "nprobe must be >= 1")
    require(fields.nonEmpty, "at least one (field, ratio) to audit")
    val declared = meta.vectorFields.map(_.name).toSet
    fields.foreach { case (f, _) =>
      require(declared(f), s"$f is not a declared vector field of $name") }
    require(fields.map(_._1).distinct.size == fields.size, "duplicate field in audit weights")
    val ratioSum = fields.map(_._2).sum
    require(math.abs(ratioSum - 100.0) < 1e-9,
      s"ratios must sum to 100, got $ratioSum")
    auditOf(name, meta, "auditRecallMulti", sampleMod, k) { (l, sample) =>
      val snap = l.state.withColumnRenamed(GraftCatalog.CellCol, "cell")
      // query side: the sampled rows' own vectors, decoded once — the stored
      // routing vector probes, the stored field vectors score (what
      // searchMultiIvf would compute for those query vectors, post-prep)
      val qdf = sample(snap, decodedCol(meta, meta.routingVector.get.name).as("__audit_qr") +:
        fields.map { case (f, _) => decodedCol(meta, f).as(s"__audit_q_$f") })
      (multiProbedTopK(meta, snap, qdf, fields, l.centroids, l.centroids.size, k),
        multiProbedTopK(meta, snap, qdf, fields, l.centroids, nprobe, k))
    }
  }

  /** Shared probe arm of the multi-vector batch shapes ([[auditRecallMulti]]
    * / [[searchBatchMulti]]): `qdf` carries one row per query —
    * `__audit_qid`, `__audit_qr` (the PREPARED routing query vector) and
    * `__audit_q_<field>` per weighted field — probe-cell selection is one
    * row-local top_cells kernel call, ONE equi-join on `cell` pairs queries
    * with candidates (partition-pruned on the cell-partitioned snapshot),
    * the weighted score runs only inside probed cells (fused decode-in-loop
    * kernel on quantized storage, same as searchMulti), and a per-qid
    * bounded window keeps k (higher-score-first, id tiebreak — the
    * MultiVectorSearch polarity; row_number + filter keeps the partial
    * WindowGroupLimit below the exchange, the knnJoin discipline).
    * Output: (qid, pk, score, rn). */
  private def multiProbedTopK(meta: CollectionMeta, snap: DataFrame, qdf: DataFrame,
                              fields: Seq[(String, Double)],
                              centroids: Seq[(Long, Array[Float])],
                              nprobe: Int, k: Int): DataFrame = {
    val pk = meta.idColumn
    val weighted: Column = fields.map { case (f, r) =>
      val d = meta.quantization match {
        case "none" => graft.functions.distance(col(f), col(s"__audit_q_$f"), meta.distance)
        case q      => graft.functions.distance_quant(col(f), col(s"__audit_q_$f"), q, meta.distance)
      }
      graft.functions.score_from_distance(d,
        if (meta.distance == "cosine") "cosine" else "euclidean") * lit(r / 100.0)
    }.reduce(_ + _)
    val probed = qdf.select(
      col("__audit_qid") +: fields.map { case (f, _) => col(s"__audit_q_$f") } :+
        explode(graft.functions.top_cells(
          col("__audit_qr"), centroids, meta.distance, nprobe)).as("cell"): _*)
    val scored = probed
      .join(snap.select(col(pk) +: col("cell") +: fields.map { case (f, _) => col(f) }: _*),
        Seq("cell"))
      .select(col("__audit_qid"), col(pk),
        round(weighted, 4).as("score"), round(weighted, 8).as("__s"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__audit_qid")).orderBy(col("__s").desc, col(pk).asc)
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select(col("__audit_qid").as("qid"), col(pk), col("score"), col("rn"))
  }

  /** Batch retrieval over the multi-vector IVF layout: the weighted top-k
    * for EVERY query of a batch in ONE plan — [[searchMultiIvf]] is this
    * with a single-row query side, and the multi-vector completion of
    * [[searchBatch]] (which refuses CFLAT collections). `weights` fixes the
    * (field, ratio) scoring for the whole batch (ratios sum to 100);
    * each query supplies one vector per weighted field PLUS the routing
    * field (probing needs it — it may itself be unweighted). Query vectors
    * get the collection's standard prep. Output: (qid, pk, score, rn),
    * best-score-first per query; a query whose probed cells hold no rows
    * produces no rows (the searchBatch contract). */
  def searchBatchMulti(name: String, weights: Seq[(String, Double)],
                       queries: Seq[(String, Map[String, Array[Float]])],
                       topK: Int, nprobe: Int): DataFrame = {
    val meta = getMeta(name)
    require(meta.isMultiVector, s"collection $name is single-vector; use searchBatch")
    require(meta.ivfCells.isDefined, s"collection $name has no IVF layout")
    require(meta.currentVersion > 0, s"collection $name has never been flushed")
    require(nprobe >= 1, "nprobe must be >= 1")
    require(topK >= 1, "topK must be >= 1")
    require(queries.nonEmpty, "searchBatchMulti requires at least one query")
    require(queries.map(_._1).distinct.size == queries.size,
      "searchBatchMulti query ids must be unique")
    require(meta.idColumn != "qid",
      "searchBatchMulti reserves the output column name 'qid'; the collection pk shadows it")
    require(weights.nonEmpty, "at least one (field, ratio) weight")
    require(weights.map(_._1).distinct.size == weights.size, "duplicate field in weights")
    val declared = meta.vectorFields.map(f => f.name -> meta.dimOf(f)).toMap
    weights.foreach { case (f, _) =>
      require(declared.contains(f), s"$f is not a declared vector field of $name") }
    val ratioSum = weights.map(_._2).sum
    require(math.abs(ratioSum - 100.0) < 1e-9, s"ratios must sum to 100, got $ratioSum")
    val routing = meta.routingVector.get
    val needed = (weights.map(_._1) :+ routing.name).distinct
    queries.foreach { case (qid, m) =>
      needed.foreach { f =>
        val v = m.getOrElse(f, throw new IllegalArgumentException(
          s"query $qid is missing a vector for field $f" +
            (if (f == routing.name) " (the routing field — probing needs it)" else "")))
        require(v.length == declared(f),
          s"query $qid dimension mismatch on $f: expected ${declared(f)}, got ${v.length}")
      }
    }
    layoutOf(name, meta).fold(noRows[(String, String, Double, Int)](
        "qid", meta.idColumn, "score", "rn")) { l =>
      def prep(v: Array[Float]) = GraftCatalog.prepareQueryVector(v, meta).toSeq
      val vec = ArrayType(FloatType, containsNull = false)
      val schema = StructType(StructField("__audit_qid", StringType, nullable = false) +:
        StructField("__audit_qr", vec, nullable = false) +:
        weights.map { case (f, _) => StructField(s"__audit_q_$f", vec, nullable = false) })
      val rows = queries.map { case (qid, m) =>
        Row.fromSeq(qid +: prep(m(routing.name)) +: weights.map { case (f, _) => prep(m(f)) })
      }
      val qdf = spark.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
      multiProbedTopK(meta, l.state.withColumnRenamed(GraftCatalog.CellCol, "cell"), qdf,
        weights, l.centroids, nprobe, topK)
        .orderBy(col("qid"), col("rn"))
    }
  }

  /** Validate the queried fields against the declared schema and prepare
    * each query vector — shared by every multi-vector route. */
  private def prepareMultiFields(meta: CollectionMeta, fields: Seq[MultiVectorSearch.FieldQuery])
      : Seq[MultiVectorSearch.FieldQuery] = {
    val declared = meta.vectorFields.map(f => f.name -> f).toMap
    fields.map { fq =>
      val vf = declared.getOrElse(fq.vectorCol,
        throw new IllegalArgumentException(
          s"${fq.vectorCol} is not a declared vector field of ${meta.name}"))
      require(fq.queryVector.length == meta.dimOf(vf),
        s"vector dimension mismatch on ${vf.name}: expected ${meta.dimOf(vf)}, got ${fq.queryVector.length}")
      fq.copy(queryVector = GraftCatalog.prepareQueryVector(fq.queryVector, meta))
    }
  }

  /** The resident multi-vector routes' shared resolve: guards, the
    * resident frame (the prepared anchor) and the prepared fields. */
  private def resolveMulti(name: String, fields: Seq[MultiVectorSearch.FieldQuery])
      : (DataFrame, CollectionMeta, Seq[MultiVectorSearch.FieldQuery]) = {
    val meta = getMeta(name)
    require(meta.isMultiVector, s"collection $name is single-vector; use search")
    val df = resident(name)
    (df, meta, prepareMultiFields(meta, fields))
  }

  /** The weighted multi-vector plan over one query Column per INCLUDED
    * field. Quantized storage scores each field through the FUSED kernel
    * ([[queryDistance]]) instead of materializing a dequantized array
    * column per field per row. */
  private def multiPlan(df: DataFrame, meta: CollectionMeta,
                        routed: Seq[MultiVectorSearch.FieldQuery], topK: Int,
                        keepCols: Seq[String] = Nil)(qs: Seq[Column]): DataFrame =
    MultiVectorSearch.searchWith(df, routed, qs, topK, meta.distance, meta.idColumn,
      Some((fq, q) => queryDistance(meta, fq.vectorCol, q)), keepCols)

  /** The multi routes' shape: everything about the fields except the
    * query vectors. */
  private def multiShape(routed: Seq[MultiVectorSearch.FieldQuery]): Seq[(String, Double, Boolean)] =
    routed.map(f => (f.vectorCol, f.ratio, f.include))

  /** [[searchMulti]] through the prepared (plan-once/execute-many) path:
    * the shape — (field, ratio, include) list + topK — compiles once with
    * one placeholder literal per INCLUDED field, and each request swaps
    * the query vectors into the compiled physical plan ([[searchPrepared]]
    * semantics; same staleness-by-resident-identity contract). */
  def searchMultiPrepared(name: String, fields: Seq[MultiVectorSearch.FieldQuery],
                          topK: Int): (StructType, Seq[Row]) = {
    val (df, meta, routed) = resolveMulti(name, fields)
    runPrepared(name, ("multi", multiShape(routed), topK), df,
      routed.filter(_.include).map(_.queryVector))(multiPlan(df, meta, routed, topK))
  }
}

object GraftCatalog {
  /** Info RPC payload (A2): row count + snapshot bytes + residency. */
  case class CollectionInfo(name: String, rows: Long, sizeBytes: Long,
                            version: Int, loaded: Boolean)

  /** Thrown by the flush that loses an atomic version-claim race; the
    * loser's staging data is already cleaned up when this escapes. */
  class ConcurrentFlushException(msg: String) extends RuntimeException(msg)

  /** The resident state's anchor version is behind the published head — a
    * concurrent writer flushed in between; re-load before publishing.
    * Extends IllegalStateException so the HTTP layer maps it to a client
    * error like every other lifecycle-state violation. */
  class StaleResidentException(msg: String) extends IllegalStateException(msg)

  /** How old an uncommitted version claim must be before a later flush may
    * reclaim it as a crashed writer's leftover (30 min — far above any
    * sane flush duration, far below a human-debugging turnaround). */
  val DefaultStaleClaimMs: Long = 30L * 60 * 1000

  /** A local-rung refresh needs an inline O(corpus) rebuild — the window
    * exceeded its `maxChanges` cap, OR no foldable window exists because
    * the chain base moved (flush/compaction, possibly by another driver) —
    * and the caller asked NOT to rebuild inline (`oversizeRebuilds =
    * false`): thrown so eager write-path folds can degrade to
    * drop-and-lazy-rebuild instead of stalling a publish on the rebuild. */
  class RefreshTooLargeException(msg: String) extends RuntimeException(msg)

  /** Largest delta window (LWW winner count) a local-rung refresh will
    * COLLECT to the driver before falling back to a full rebuild. The fold
    * materializes the window's winners as Spark Rows (vector payloads with
    * Row boxing — several KB each at dim=128), so an unbounded window (a
    * serving node stale across a huge chain) could transiently hold a
    * multiple of the index's own footprint; the rebuild path streams
    * partition-at-a-time instead, and past this scale the fold's
    * touched-cell copying approaches rebuild cost anyway. 200k winners
    * ≈ low hundreds of MB collected at dim=128 — small next to the
    * resident index a driver holding this rung already carries. */
  val DefaultLocalRefreshMaxChanges: Int = 200000

  // ---- atomic exclusive-create seam (r13, r12 VERDICT #4) ----
  //
  // Every multi-writer CAS in the catalog — the flush version claim and
  // createCollection's meta publish — reduces to ONE primitive: create a
  // file iff absent, atomically. Whether a store HAS that primitive is a
  // per-scheme fact, and silently using Hadoop's default `create(…,
  // overwrite=false)` where it is check-then-create (S3A and most object
  // stores: a HEAD then a PUT — two racing drivers can both "win") turns
  // the claim CAS into a data-loss hazard on exactly the storage the
  // reference ships on (MinIO, edge/edge.go:36). So the primitive is a
  // registered per-scheme protocol: known-atomic schemes are pre-wired,
  // anything else REFUSES LOUDLY at claim time, and deployments on stores
  // with a native conditional PUT (S3 If-None-Match, GCS
  // x-goog-if-generation-match = 0, Azure If-None-Match: *) plug their
  // implementation in. README "Durability & object stores" is the support
  // matrix.

  /** One scheme's atomic create-if-absent. Implementations MUST be a real
    * CAS on the target store: of N concurrent calls for one absent path,
    * exactly one returns true and the rest false. Returning false for a
    * path the caller then observes absent (a racing delete) is benign; two
    * trues for one path is the corruption this seam exists to prevent. */
  trait ClaimProtocol {
    def tryExclusiveCreate(fs: FileSystem, path: Path, content: Array[Byte]): Boolean
  }

  /** A claim-protocol DEPLOYMENT fault (bad credentials, missing bucket,
    * protocol violation) — never a race verdict, never retried: surfaces to
    * the caller as the configuration error it is. */
  class ClaimProtocolFault(msg: String) extends RuntimeException(msg)

  /** `file:` — NIO `CREATE_NEW`, a real O_EXCL on the local kernel. */
  object NioExclusiveCreate extends ClaimProtocol {
    def tryExclusiveCreate(fs: FileSystem, path: Path, content: Array[Byte]): Boolean = {
      val f = java.nio.file.Paths.get(path.toUri.getPath)
      java.nio.file.Files.createDirectories(f.getParent)
      try {
        java.nio.file.Files.write(f, content, java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    }
  }

  /** HDFS-family — the namenode serializes `create(…, overwrite=false)`,
    * so the Hadoop call IS the CAS there. A create that succeeds but whose
    * WRITE fails deletes the torn claim before rethrowing — an empty claim
    * would otherwise wedge the slot (no embedded timestamp) until the
    * mtime fallback. */
  object HadoopAtomicCreate extends ClaimProtocol {
    def tryExclusiveCreate(fs: FileSystem, path: Path, content: Array[Byte]): Boolean = {
      val os =
        try fs.create(path, false)
        catch {
          // ONLY already-exists means "lost the race" — a namenode in
          // safemode, a quota breach, or a permission fault must surface
          // as the fault it is, not as a phantom concurrent creator
          // (createCollection would report "already exists" for a
          // collection that was never written)
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
          case _: java.nio.file.FileAlreadyExistsException => return false
        }
      try { os.write(content); os.close(); true }
      catch { case e: java.io.IOException =>
        // the create SUCCEEDED — torn write (transient fault), not a lost
        // race; remove our own partial claim and surface the fault
        try fs.delete(path, false) catch { case _: java.io.IOException => () }
        throw e
      }
    }
  }

  private val claimProtocols =
    new java.util.concurrent.ConcurrentHashMap[String, ClaimProtocol]()
  claimProtocols.put("file", NioExclusiveCreate)
  // namenode-arbitrated schemes (webhdfs/httpfs proxy the same namenode
  // create; ofs/o3fs = Ozone, which implements atomic key create)
  Seq("hdfs", "viewfs", "webhdfs", "httpfs", "ofs", "o3fs")
    .foreach(claimProtocols.put(_, HadoopAtomicCreate))

  /** Register (or override) the exclusive-create implementation for a
    * scheme — the deployment seam for object stores with a conditional
    * PUT. The registration is process-global (schemes are). */
  def registerClaimProtocol(scheme: String, p: ClaimProtocol): Unit = {
    require(scheme != null && scheme.nonEmpty, "scheme must be non-empty")
    claimProtocols.put(scheme.toLowerCase(java.util.Locale.ROOT), p): Unit
  }

  /** The registered protocol for `fs`, or a LOUD refusal: a silent
    * check-then-create here lets two drivers both win a version claim and
    * one of them delete the other's published data in the orphan sweep. */
  def claimProtocolFor(fs: FileSystem): ClaimProtocol = {
    val scheme = fs.getScheme.toLowerCase(java.util.Locale.ROOT)
    val p = claimProtocols.get(scheme)
    if (p == null) throw new UnsupportedOperationException(
      s"filesystem scheme '$scheme' has no registered atomic exclusive-create: " +
        "Hadoop's create(overwrite=false) is check-then-create on most object " +
        "stores, so two concurrent writers could both win a version claim " +
        "(silent last-writer data loss). Register a conditional-PUT " +
        "implementation via GraftCatalog.registerClaimProtocol(scheme, …) " +
        "(e.g. S3 If-None-Match), or publish through a scheme in the README " +
        "support matrix (file, hdfs, viewfs, webhdfs, httpfs, ofs, o3fs). " +
        "Read-only serving from this store needs no claim and is unaffected.")
    p
  }

  /** Prepared-plan cache bound (per catalog, every route together): a
    * serving workload has a handful of live shapes; each entry is one
    * physical plan tree (KB). */
  val PreparedCacheMax: Int = 64

  /** Bound on cached per-version artifacts (snapshot plan + sidecars);
    * entries are driver-sized by construction. */
  val VersionArtifactCacheMax: Int = 64

  /** Unpersist a cached-artifact value as its cache entry is dropped:
    * persisted DataFrames (the chain winners) are registered in the shared
    * CacheManager, which holds them STRONGLY until an explicit unpersist —
    * dropping only the map reference leaks the blocks and lets a later
    * sameResult plan (a re-created collection reusing version numbers over
    * the same paths) silently read the dropped collection's cached rows.
    * Non-DataFrame artifacts (driver-side sidecars) and never-persisted
    * plans are no-ops; `unpersist(false)` only removes the exact-plan
    * cache entry, so the resident copy's (projected) entry is untouched. */
  private[collection] def releaseArtifact(v: AnyRef): Unit = v match {
    case df: DataFrame => try { df.unpersist(false); () } catch { case _: Throwable => () }
    // the per-version PQ serving sidecar: unpersist() (NOT destroy) — a
    // cached prepared plan in the SEPARATE prepared-LRU may still reference
    // this broadcast after an artifact-LRU eviction, and a destroyed
    // broadcast throws on its next use where an unpersisted one re-ships
    // from the driver copy (which the ContextCleaner destroys once the
    // last plan referencing it is collected — the persisted-DataFrame
    // lifecycle)
    case b: org.apache.spark.broadcast.Broadcast[_] =>
      try { b.unpersist(false); () } catch { case _: Throwable => () }
    case _ => ()
  }

  /** SAFETY check, enforced on EVERY path derivation ([[colDir]]): the name
    * must be exactly one path segment — no separators, no `.`/`..`, no NUL,
    * non-empty — so no operation (including dropCollection's recursive
    * delete) can escape the catalog root. Deliberately weaker than the
    * CREATE-time policy below: a legacy collection whose name predates the
    * policy stays manageable (load/drop) as long as it cannot traverse. */
  def validateSegment(name: String): Unit = {
    require(name != null && name.nonEmpty && name.length <= 255,
      s"invalid collection name ${if (name == null) "null" else s"'$name'"}: must be 1-255 characters")
    require(!name.exists(c => c == '/' || c == '\\' || c == '\u0000'),
      s"invalid collection name '$name': path separators are not allowed")
    require(name.exists(c => c != '.'),
      s"invalid collection name '$name': dots-only names are path traversal")
  }

  /** CREATE-time policy, a superset of [[validateSegment]] (the reference
    * has the same single-segment constraint — bucket names are directory
    * names there too: /root/reference/core/core.go dataset dirs). Dot is
    * allowed inside a name; the `__` prefix is reserved for engine-internal
    * namespaces. Throws IllegalArgumentException (→ HTTP 400 via
    * GraftServer's error map). */
  def validateCollectionName(name: String): Unit = {
    validateSegment(name)
    require(name.length <= 128,
      s"invalid collection name '$name': must be 1-128 characters")
    require(name.forall(c => c.isLetterOrDigit || c == '_' || c == '-' || c == '.'),
      s"invalid collection name '$name': only letters, digits, '_', '-', '.' are allowed")
    require(!name.startsWith("__"),
      s"invalid collection name '$name': the '__' prefix is reserved")
  }

  private val SearchVecCol = "__searchvec"

  /** Transient residual column (vec − cellCentroid) during an IVF-PQ flush. */
  private val ResidVecCol = "__residvec"

  /** IVF cell partition column in on-disk snapshots. */
  val CellCol = "__cell"

  /** PQ code column in on-disk snapshots (m bytes per row). */
  val PqCodeCol = "__pq_code"

  /** Packed 1-bit/dim sign-code column of binary-indexed snapshots. */
  val BinCol = "__bin_code"

  /** The CDC readers prefix their output with an `op` column; a user field
    * of the same name would emit two identically-named columns (ambiguous
    * to every downstream select/orderBy). Refused loudly — the ledger's own
    * internals are underscore-prefixed for exactly this reason. */
  private[collection] def requireNoOpColumn(name: String, cols: Seq[String]): Unit =
    require(!cols.contains("op"),
      s"collection $name declares a field named 'op' — it collides with the CDC " +
        "output column (changeLogBetween/stateDiff); rename the field to read changes")

  /** Delta-segment ledger columns ([[GraftCatalog.flushDelta]]): mutation op
    * ("put"/"del"), per-batch sequence within a segment, and the segment
    * version stamped at fold time. */
  val DeltaOpCol = "__op"
  val DeltaSeqCol = "__seq"
  val DeltaVerCol = "__delta_v"

  /** Marker file recording "this version dir is a delta segment" — written
    * inside the segment dir (`_`-prefixed: invisible to parquet readers) so
    * the layout kind is recorded, never inferred from the data schema. */
  val DeltaMarkerFile = "_graft_delta"

  /** The index sidecars' rows — each sidecar's one column definition,
    * written by [[GraftCatalog.flush]] and read by its `IndexedLayout`:
    * centroids one row per cell; the PQ codebook one row per (subspace `j`,
    * codeword `c`) plus the layout flag (`residual` — absent on pre-flag
    * sidecars); binary thresholds one row per dimension. */
  private[collection] final case class CentroidRow(cid: Long, cvec: Seq[Float])
  private[collection] final case class PqRow(j: Int, c: Int, cvec: Seq[Float], residual: Boolean)
  private[collection] final case class BinRow(d: Int, t: Double)
  import CollectionMeta.VectorCol

  /** Mirror of the stored-vector prep for a driver-side query vector:
    * float32 normalize (cosine), then quantize→dequantize round-trip. */
  def prepareQueryVector(qv: Array[Float], meta: CollectionMeta): Array[Float] = {
    val normalized = if (meta.distance == "cosine") l2NormalizeF32(qv) else qv
    meta.quantization match {
      case "none" => normalized
      case "f16"  => normalized.map(x => QuantKernels.f16ToFloat(QuantKernels.floatToF16(x)))
      case "bf16" => normalized.map(x => QuantKernels.bf16ToFloat(QuantKernels.floatToBf16(x)))
      case "f8"   => normalized.map(x => QuantKernels.f8ToFloat(QuantKernels.floatToF8(x)))
    }
  }

  /** Scala mirror of VecL2Normalize (float32 accumulation, zero-norm → zero). */
  def l2NormalizeF32(a: Array[Float]): Array[Float] = {
    var acc = 0.0f
    a.foreach(x => acc += x * x)
    val norm = math.sqrt(acc.toDouble).toFloat
    if (norm == 0.0f) new Array[Float](a.length) else a.map(_ / norm)
  }

  /** Ingest analyzer (edge/edge_analyzer.go:28-99): enforce declared schema,
    * fill typed defaults for missing nullable columns, reject missing
    * non-nullable ones, coerce integral floats, require non-null string pk,
    * check vector dimension, normalize (cosine) and quantize. All checks are
    * per-row expressions (`raise_error`) — one distributed pass, no
    * driver-side validation loop. */
  def validateAndEncode(rows: DataFrame, meta: CollectionMeta, userVectorCol: String): DataFrame = {
    if (!meta.isMultiVector)
      require(rows.columns.contains(userVectorCol), s"missing vector column '$userVectorCol'")
    if (meta.isSchemaless) return schemalessEncode(rows, meta, userVectorCol)
    val inputCols = rows.columns.toSet
    val metaCols: Seq[Column] = meta.fields.map { f =>
      if (f.isVector) {
        require(inputCols.contains(f.name), s"missing vector column '${f.name}'")
        encodeVector(meta, col(f.name), meta.dimOf(f), s"vector ${f.name}").as(f.name)
      } else if (!inputCols.contains(f.name)) {
        if (f.enableNull) lit(f.defaultValue).cast(f.dataType).as(f.name)
        else throw new IllegalArgumentException(
          s"index: ${f.name} is null, but index design not allowed null value")
      } else {
        val in = rows.schema(f.name).dataType
        val raw = col(f.name)
        val typed: Column = (f.fieldType, in) match {
          case ("integer", org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType |
                           _: org.apache.spark.sql.types.DecimalType) =>
            // 5.0 accepted as 5; 5.5 rejected (edge_analyzer.go:63-67)
            when(raw =!= floor(raw), raise_error(concat(
              lit(s"index: ${f.name} expects an integer, got non-integral value "), raw.cast("string"))))
              .otherwise(raw).cast(f.dataType)
          case _ => raw.cast(f.dataType)
        }
        val checked =
          if (f.enableNull) typed
          else when(raw.isNull, raise_error(lit(
            s"index: ${f.name} is null, but index design not allowed null value"))).otherwise(typed)
        val pkChecked =
          if (f.primaryKey)
            when(checked.isNull || length(checked) === 0,
              raise_error(lit(s"primary key ${f.name} must be a non-null string"))).otherwise(checked)
          else checked
        pkChecked.as(f.name)
      }
    }

    if (meta.isMultiVector) rows.select(metaCols: _*)
    else rows.select(
      metaCols :+ encodeVector(meta, col(userVectorCol), meta.dim, "vector").as(VectorCol): _*)
  }

  /** The ONE stored-vector prep: null/dim checks, float32 cast, cosine
    * normalize, quantize — applied to the implicit single vector, to every
    * declared vector field and to schema-less rows alike. */
  private def encodeVector(meta: CollectionMeta, raw0: Column, dim: Int, label: String): Column = {
    val raw = when(raw0.isNull,
      raise_error(lit(s"$label must not be null"))).otherwise(raw0)
    val dimChecked = when(size(raw) =!= dim, raise_error(concat(
        lit(s"$label dimension mismatch: expected $dim, got "), size(raw).cast("string"))))
      .otherwise(raw)
    val floatVec = dimChecked.cast("array<float>")
    val prepped = if (meta.distance == "cosine") l2_normalize(floatVec) else floatVec
    meta.quantization match {
      case "none" => prepped
      case q      => quantize(prepped, q)
    }
  }

  /** Core-v3 ingest (SURVEY.md §1.2): rows carry `_id`, `vector`, and any
    * other columns — the extras are string-coerced into the metadata map
    * (forcedStringTypeChanger, pkg/index/bitmap_index.go:48-63); `_id` must
    * be a non-null string (core/core.go:506). Vector prep is the typed
    * path's [[encodeVector]]. */
  private def schemalessEncode(rows: DataFrame, meta: CollectionMeta,
                               userVectorCol: String): DataFrame = {
    val idKey = graft.core.CoreMeta.IdKey
    require(rows.columns.contains(idKey), s"missing id column '$idKey'")
    val metaKeys = rows.columns.filterNot(c => c == idKey || c == userVectorCol).toSeq
    val id0 = col(idKey).cast("string")
    val id = when(id0.isNull || length(id0) === 0,
      raise_error(lit(s"$idKey must be a non-null string"))).otherwise(id0)
    val metaMap =
      if (metaKeys.isEmpty) map().cast("map<string,string>")
      else map(metaKeys.flatMap(k => Seq(lit(k), col(k).cast("string"))): _*)
    rows.select(id.as(idKey), metaMap.as(CollectionMeta.MetaCol),
      encodeVector(meta, col(userVectorCol), meta.dim, "vector").as(VectorCol))
  }
}
