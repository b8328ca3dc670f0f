package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.Mutations

/** Change watch stream (SURVEY.md §2.1 S11 / §2.9): the Spark analog of the
  * reference's diskv watch channel (/root/reference/diskv/watch.go — a queue
  * of put/delete events) combined with its JetStream last-writer-wins
  * replication design (README "Summary" §2-4; subjects at
  * /root/reference/config/config.go:75-86, never consumed in the tree — we
  * implement the documented intent).
  *
  * Model: an append-only log directory of change files, each row
  * `(op ∈ {put, del}, <pk>, <payload…>, <version>)`, consumed by Structured
  * Streaming and folded into collection state by per-key LWW.
  *
  * Convergence design: the fold keeps, per key, the max-version row of
  * `state ∪ batch` — an associative, commutative, idempotent merge, so the
  * final state is independent of how changes are batched or ordered (the
  * multi-leader guarantee the reference's README claims). Deletes stay in
  * the state as TOMBSTONES so a late-arriving lower-version put cannot
  * resurrect a deleted key; [[view]] hides them.
  *
  * Scale: each fold is one `max_by` aggregation shuffle on the pk — the
  * same single-shuffle shape as batch [[Mutations.latestByKey]]; state
  * never round-trips through the driver.
  */
object ChangeFeed {
  val OpCol = "op"
  val OpPut = "put"
  val OpDel = "del"

  /** The default auto-compaction cadence [[runIntoCollection]] applies when
    * `compactEverySegments` is unset — mirrors
    * [[graft.collection.GraftCatalog]]'s 16-segment policy, named here so
    * the r12 default change (None used to mean "never compact") is
    * discoverable at the call site. */
  val DefaultCompactEverySegments = 16

  /** Explicit opt-out from per-batch auto-compaction — the pre-r12 `None`
    * semantics, spelled out: the delta chain then grows one segment per
    * micro-batch until the caller's own flush, and the fold width grows
    * with it. */
  val NoCompaction: Option[Int] = Some(Int.MaxValue)

  /** Streaming source over the append-log directory. `maxFilesPerTrigger`
    * caps files per micro-batch (deterministic batch cuts for replays). */
  def readLog(spark: SparkSession, logDir: String, schema: StructType,
              maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.parquet(logDir)
  }

  /** One LWW fold step: per-key max-version row of state ∪ batch
    * (tombstones included). */
  def fold(state: DataFrame, batch: DataFrame, pk: String, versionCol: String): DataFrame =
    Mutations.latestByKey(state.unionByName(batch), pk, versionCol)

  /** User-facing view of the folded state: tombstones hidden. */
  def view(state: DataFrame): DataFrame = state.where(col(OpCol) =!= OpDel).drop(OpCol)

  /** Multi-leader LWW merge — the reference's JetStream replication-bus
    * intent (README "Summary" §2-4; subjects at
    * /root/reference/config/config.go:75-86, declared but never consumed in
    * its tree): each leader ships an independent change log tagged with its
    * origin id, and the merged state keeps, per key, the row greatest under
    * the TOTAL order (version, op, origin). Totality is what makes the merge
    * associative, commutative and idempotent — any gossip topology, delivery
    * order, or re-delivery converges to the same state (pinned by
    * ChangeFeedSpec). Same-version concurrent writes resolve
    * deterministically: put beats del (the single-log rule), then the
    * lexically greatest origin wins — an arbitrary but fixed site priority,
    * the standard LWW-register tiebreak.
    *
    * Scale: one `max_by` shuffle on the pk regardless of leader count; logs
    * union without materializing. To gossip incrementally, fold a new
    * origin-tagged batch into previously merged state with
    * `Mutations.latestByKey(state ∪ batch, pk, version, Seq("op", originCol))`
    * — the merged state keeps its origin column for exactly this reason. */
  def mergeLeaders(logs: Seq[(String, DataFrame)], pk: String, versionCol: String,
                   originCol: String = "origin"): DataFrame = {
    require(logs.nonEmpty, "at least one leader log required")
    require(logs.map(_._1).distinct.size == logs.size, "leader origin ids must be distinct")
    require(!logs.exists(_._2.columns.contains(originCol)),
      s"leader logs already carry a '$originCol' column — pass a different originCol " +
        "(pre-tagged state folds in via Mutations.latestByKey, not mergeLeaders)")
    val tagged = logs.map { case (origin, df) => df.withColumn(originCol, lit(origin)) }
    val ord = Seq(OpCol).filter(logs.head._2.columns.contains(_)) :+ originCol
    Mutations.latestByKey(tagged.reduce(_ unionByName _), pk, versionCol, ord)
  }

  /** Batch reference semantics: LWW over the whole log at once — the spec
    * asserts the streamed fold converges to exactly this. */
  def batchApply(log: DataFrame, pk: String, versionCol: String): DataFrame =
    view(Mutations.latestByKey(log, pk, versionCol))

  /** Stream the change log INTO a catalog collection: every micro-batch is
    * folded by [[graft.collection.GraftCatalog.applyChanges]] (validated
    * upserts + tombstone anti-joins on the RESIDENT state) — the streaming
    * shape of the reference's diskv watch feeding its in-memory maps
    * (/root/reference/diskv/watch.go → core/core.go mutation path). The
    * collection must be loaded; flush when a durable snapshot is wanted.
    *
    * ORDERING CONTRACT: the collection stores no version column, so
    * versions resolve LWW only WITHIN a micro-batch; across batches, later
    * batches win. This is exactly a single-writer WAL's guarantee (the
    * reference's diskv appends are strictly ordered) — for out-of-order /
    * multi-leader logs use [[run]], whose fold keeps versions in state, and
    * feed its converged view here (or via applyChanges) instead.
    *
    * Restart semantics — the checkpoint tracks CONSUMED OFFSETS, nothing
    * else, and offsets commit after every micro-batch regardless of what
    * was made durable. The two honest pairings:
    *   - `deltaFlushEachBatch = true`: every applied batch is ALSO an
    *     O(batch) delta segment ([[graft.collection.GraftCatalog.flushDelta]])
    *     before the offset commits, so a restart against the same
    *     checkpoint resumes exactly where the durable chain left off (a
    *     crash between the segment publish and the offset commit replays
    *     one batch — the duplicate segment is harmless, the LWW fold is
    *     idempotent). The streaming WAL shape at 100 TB, where flushing
    *     the corpus per micro-batch is unthinkable. Requires a flushed
    *     base snapshot whose layout flushDelta supports (checked HERE at
    *     call time, not inside the first micro-batch).
    *     `compactEverySegments` bounds the chain; left unset it defaults
    *     to the catalog's 16-segment compaction policy
    *     ([[DefaultCompactEverySegments]], r12) — a caller who forgets it
    *     would otherwise grow an unbounded delta chain on exactly the
    *     collections big enough to hurt (fold width grows per segment).
    *     Pass a larger cadence to trade fold width for rarer O(corpus)
    *     compactions, or [[NoCompaction]] to opt out entirely (pre-r12
    *     `None` behavior — the caller then owns bounding the chain with
    *     its own flush schedule, or fold width grows without limit).
    *   - `deltaFlushEachBatch = false` with a FRESH checkpoint dir: a
    *     one-shot drain into resident state; flush when done. Re-using a
    *     checkpoint in this mode is REFUSED at start: committed offsets
    *     would silently mask every batch applied after the last manual
    *     flush — the collection diverges from the log with no error. */
  def runIntoCollection(catalog: graft.collection.GraftCatalog, name: String,
                        spark: SparkSession, logDir: String, schema: StructType,
                        versionCol: String, checkpointDir: String,
                        trigger: Trigger = Trigger.AvailableNow(),
                        deltaFlushEachBatch: Boolean = false,
                        maxFilesPerTrigger: Option[Int] = None,
                        compactEverySegments: Option[Int] = None): StreamingQuery = {
    require(compactEverySegments.isEmpty || deltaFlushEachBatch,
      "compactEverySegments bounds the delta-segment chain — it requires " +
        "deltaFlushEachBatch = true (without per-batch segments there is nothing to compact)")
    // fail at the CALL SITE, not as an async StreamingQueryException after
    // batch 1 already mutated resident state: the collection must be loaded,
    // and the per-batch durability path needs flushDelta's preconditions
    catalog.resident(name)
    if (deltaFlushEachBatch) {
      // index layouts COMPOSE with per-batch segments (r10): each batch's
      // put rows are encoded against the base's persisted sidecars at
      // segment-write time. The upfront requirement is flushDelta's own —
      // a base snapshot whose sidecars exist (indexed-but-flushed-empty
      // refuses here, not mid-stream)
      catalog.requireDeltaReady(name)
    } else {
      val off = new org.apache.hadoop.fs.Path(checkpointDir, "offsets")
      val cpFs = off.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(!cpFs.exists(off) || cpFs.listStatus(off).isEmpty,
        s"checkpoint $checkpointDir has committed offsets but deltaFlushEachBatch is " +
          "false: resuming would skip every batch applied after the last manual flush " +
          "(silent log/collection divergence). Either restart with " +
          "deltaFlushEachBatch = true (per-batch durable segments) or use a fresh " +
          "checkpoint dir and replay the log")
    }
    readLog(spark, logDir, schema, maxFilesPerTrigger).writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // No `batch.isEmpty` pre-probe (r15, guide §1.2): the probe was one
        // full job over the batch's source files PER MICRO-BATCH, paid even
        // when every batch is non-empty (the common case). applyChanges on
        // an empty batch is a semantic no-op (LWW winners of nothing), and
        // the no-version-bump-on-empty contract now lives where the rows
        // are counted anyway: flushDelta reads its staged segment's parquet
        // footers driver-side and quietly skips publishing when the ledger
        // held zero rows (pinned by StreamingReplaySpec's empty-batch case).
        catalog.applyChanges(name, batch, versionCol)
        if (deltaFlushEachBatch) {
          catalog.flushDelta(name)
          // bound the fold width: one full flush every N segments — the
          // LSM compaction cadence (amortized O(corpus/N) per batch).
          // Unset = the catalog's default policy, never unbounded.
          catalog.compactIfNeeded(name,
            compactEverySegments.getOrElse(DefaultCompactEverySegments)): Unit
        }
      }
      .start()
  }

  /** Consume the log with Structured Streaming, folding each micro-batch
    * into state and pushing the updated view to `onUpdate`.
    * `Trigger.AvailableNow` drains everything present then stops —
    * deterministic for tests and for catch-up replays; pass a processing-
    * time trigger for a long-running watcher.
    *
    * Restart semantics: the folded state lives in this process, NOT in the
    * checkpoint — the checkpoint only tracks which log files were consumed.
    * Restarting against an existing `checkpointDir` therefore skips the
    * already-processed files, and the fold must be re-seeded via
    * `initialState` from the RAW state a previous run's `onState` callback
    * persisted — the only valid seed: it retains the `op` column and the
    * tombstones. A flushed snapshot or an `onUpdate` view is NOT a valid
    * seed (both lack `op`; the fold's union would fail, and re-adding a
    * synthetic op would resurrect tombstoned keys — the exact bug the
    * tombstone design prevents), which the schema check below enforces.
    * Omitting `initialState` with a fresh checkpoint dir replays the whole
    * log — the two valid pairings. */
  def run(spark: SparkSession, logDir: String, schema: StructType,
          pk: String, versionCol: String, checkpointDir: String,
          trigger: Trigger = Trigger.AvailableNow(),
          initialState: Option[DataFrame] = None,
          onState: DataFrame => Unit = _ => (),
          maxFilesPerTrigger: Option[Int] = None)(
          onUpdate: DataFrame => Unit): StreamingQuery = {
    initialState.foreach(s => require(
      s.columns.contains(OpCol) && s.columns.contains(versionCol),
      s"initialState must be the RAW folded state (op + $versionCol columns, " +
        "tombstones included) persisted by a previous run's onState — a view or a " +
        "snapshot has no tombstones and would resurrect deleted keys"))
    var state = initialState.getOrElse(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    var stateOwned = false // never unpersist the CALLER's initialState frame
    readLog(spark, logDir, schema, maxFilesPerTrigger).writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val next = fold(state, batch, pk, versionCol).localCheckpoint(true)
        // release the superseded state's blocks (same discipline as the
        // catalog's mutation commit) — a long-running watcher otherwise accumulates
        // one dead checkpoint per micro-batch until driver GC
        if (stateOwned) state.unpersist(false)
        state = next
        stateOwned = true
        // raw folded state INCLUDING tombstones — persist this (e.g. to
        // parquet) to seed initialState across restarts
        onState(state)
        onUpdate(view(state))
      }
      .start()
  }
}
