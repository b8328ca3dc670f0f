// Catalyst extension glue lives inside the org.apache.spark.sql package tree
// because the pieces it touches (SparkPlan, CatalystTypeConverters) are
// private[sql]/internal in Spark 4. User-facing API is GraftCatalog.
package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, FloatType, LongType, StructType}

/** Plan-once / execute-many ("prepared statement") support for the serving
  * path. An r8 probe (PLANS.md "1M dispatch floor") measured ~22-43 ms of
  * every per-request search as Catalyst analysis+optimization of a
  * freshly-built DataFrame — at 1M rows that was HALF the request. The bench
  * amortizes it by hoisting each query as one memoized Dataset; this class
  * gives the product the same model for queries whose only per-request
  * variation is a few VALUES (query vectors, a probed cell set, a query
  * code):
  *
  *  1. build the search DataFrame once with [[placeholder]] Columns;
  *  2. [[compile]] it — analysis, optimization, physical planning and
  *     (lazily, cached by generated source) whole-stage codegen all happen
  *     HERE, exactly once;
  *  3. per request, [[Prepared.run]] swaps the placeholder literals for the
  *     real values by reference identity in the PHYSICAL plan — a pure tree
  *     copy, no Catalyst phase re-runs — and `executeCollect()`s.
  *
  * The swapped literal lands in the codegen `references` array, not the
  * generated source, so the compiled code is reused across requests; the
  * only per-request costs left are the tree copy (µs) and the true job
  * scheduling floor (~12-21 ms at 1M, PLANS.md).
  *
  * AQE is disabled while compiling: the plans this serves (top-K scans over
  * a resident collection — no exchange) gain nothing from it, and a concrete
  * physical tree is reusable where an adaptive shell re-plans per execute.
  *
  * Staleness safety is the CALLER's contract: a Prepared is valid only for
  * the exact DataFrame it was compiled from. GraftCatalog keys its one
  * cache on the identity of the anchor each plan compiled against — the
  * resident DataFrame (every mutation/load/release swaps it) or the
  * memoized per-version indexed snapshot — so a stale plan is unreachable
  * by construction (PreparedSearchSpec pins this).
  */
object PreparedPlan {

  /** Query vectors are float arrays end-to-end (edge parity). */
  val VectorType: ArrayType = ArrayType(FloatType, containsNull = false)

  /** A compiled physical plan with one or more identified swappable
    * literals (one per per-request value of the shape). */
  final class Prepared private[PreparedPlan] (
      val schema: StructType,
      session: org.apache.spark.sql.SparkSession,
      plan: SparkPlan,
      placeholders: Seq[AnyRef],
      /** Each placeholder literal's dataType, recorded from the surviving
        * plan literal at compile — the swap re-creates a Literal of the
        * SAME Catalyst type, whatever the slot holds. */
      types: Seq[DataType]) {
    private[this] val toScala = CatalystTypeConverters.createToScalaConverter(schema)

    /** Execute the plan with `values` swapped in: they align positionally
      * with the compiled placeholders and convert under each slot's
      * recorded Catalyst type (query vectors, probed-cell arrays, query
      * codes; array slots may change LENGTH between requests — only the
      * type is pinned). Values are already prepared (normalized /
      * quantize-round-tripped) by the caller — the same contract as the
      * literal the plan-per-call path embeds. A swapped copy is a fresh
      * physical tree, so per-execution lazy state recomputes: a
      * FileSourceScan's selected partitions re-prune under the NEW literal
      * (IvfCatalogSpec pins this for the prepared probe). The session is
      * pinned active for the calling thread first: SparkPlan.makeCopy
      * (under the swap) reads the thread-local active session, and serving
      * threads (the HTTP executor) don't inherit the driver main thread's. */
    def run(values: Seq[Any]): Seq[Row] =
      swap(values).executeCollect().toIndexedSeq.map(r => toScala(r).asInstanceOf[Row])

    private def swap(values: Seq[Any]): SparkPlan = {
      require(values.length == placeholders.length,
        s"prepared plan expects ${placeholders.length} values, got ${values.length}")
      org.apache.spark.sql.SparkSession.setActiveSession(session)
      val repl = new java.util.IdentityHashMap[AnyRef, Literal]()
      placeholders.lazyZip(values).lazyZip(types).foreach { case (p, v, t) =>
        repl.put(p, Literal.create(v, t))
      }
      plan.transformAllExpressions {
        case l: Literal if repl.containsKey(l.value.asInstanceOf[AnyRef]) =>
          repl.get(l.value.asInstanceOf[AnyRef])
      }
    }

    /** Diagnostic (no execution): the files the SWAPPED plan's scans
      * select — each swapped copy is a fresh scan node, so its partition
      * pruning re-evaluates under the swapped literals; callers pin that
      * the selected set follows the request (GraftCatalog.
      * ivfPreparedProbedFiles / IvfCatalogSpec). */
    def swappedSelectedFiles(values: Seq[Any]): Array[String] =
      swap(values)
        .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
        .flatMap(_.selectedPartitions.toPartitionArray.map(_.urlEncodedPath))
        .toArray
  }

  /** A placeholder Column of the same kind as the per-request value
    * `like`, plus the identity handle used to find (and swap) its literal in
    * the compiled plan: a float query vector (same length), a long array
    * (probed cell ids) or a binary (a packed query code). The VALUES never
    * reach a row — [[Prepared.run]] replaces them before any execution. */
  def placeholder(like: Any): (Column, AnyRef) = {
    val ph = like match {
      case v: Array[Float] => Literal.create(new Array[Float](v.length), VectorType)
      case _: Array[Long]  => Literal.create(Array(-1L), ArrayType(LongType, containsNull = false))
      case _: Array[Byte]  => Literal.create(Array[Byte](0), BinaryType)
    }
    (GraftBridge.column(ph), ph.value.asInstanceOf[AnyRef])
  }

  /** Thrown when a placeholder literal did not survive planning (folded or
    * copied away by a rewrite) — the ONE signal GraftCatalog's negative
    * cache may act on. A dedicated type so an unrelated Spark-internal
    * IllegalStateException (stopped session, codegen fault) can never be
    * mistaken for "shape not parameterizable" and permanently cached
    * against its anchor (r9 advice). */
  final class PlaceholderFoldedException(msg: String) extends IllegalStateException(msg)

  /** A fresh AQE-off PLANNING session per compile: the clone shares the
    * SparkContext, catalog and cache manager but owns its SQLConf, so
    * disabling AQE here is invisible to every other planner thread — the
    * pre-r10 form toggled the session-global conf for the compile window
    * and unrelated concurrent queries silently planned with AQE off (r9
    * advice). Cloned PER COMPILE, not cached: a cached clone (a) pins the
    * base session forever (its parentSessionState closures reference it —
    * a WeakHashMap keyed on the base cannot collect) and (b) freezes the
    * base conf at first-compile time, so later spark.conf.set changes
    * would silently diverge prepared plans from the plan-per-call path.
    * cloneSession is milliseconds and compiles run once per (shape,
    * resident object) — the clone is GC'd with the compile. */
  private def planningSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.classic.SparkSession = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  /** Compile `df` once (all Catalyst phases), verifying EVERY placeholder
    * literal survived into the physical plan by reference. Throws
    * [[PlaceholderFoldedException]] if a rewrite folded/copied any away —
    * callers then run the plan over literal values rather than silently
    * serving a placeholder's zeros. */
  def compile(df: DataFrame, placeholders: Seq[AnyRef]): Prepared = {
    val spark = df.sparkSession
    // re-plan the logical plan under the AQE-off clone: the
    // InsertAdaptiveSparkPlan preparation rule reads the PLANNING session's
    // conf, and the clone's cache manager is the shared one, so the
    // resident InMemoryRelation substitution still applies. Concurrent
    // compiles need no lock — nothing session-global is mutated anymore.
    val plan = planningSession(spark).sessionState
      .executePlan(df.queryExecution.logical).executedPlan
    val hits = new Array[Int](placeholders.length)
    val types = new Array[DataType](placeholders.length)
    plan.foreach(_.expressions.foreach(_.foreach {
      case l: Literal =>
        val v = l.value.asInstanceOf[AnyRef]
        var i = 0
        while (i < placeholders.length) {
          if (v eq placeholders(i)) { hits(i) += 1; types(i) = l.dataType }
          i += 1
        }
      case _ => ()
    }))
    if (hits.exists(_ == 0))
      throw new PlaceholderFoldedException(
        "prepared-plan placeholder did not survive planning — this query shape cannot be " +
          "parameterized; use the plan-per-call path")
    new Prepared(df.schema, spark, plan, placeholders, types.toIndexedSeq)
  }
}
