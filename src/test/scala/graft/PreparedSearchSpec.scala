package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.graft.PreparedPlan
import org.apache.spark.sql.types.StructType

import graft.collection.{CollectionMeta, GraftCatalog, IndexField}

/** Prepared (plan-once/execute-many) search: the serving-path cache that
  * swaps the query vector into a compiled physical plan instead of paying
  * per-request Catalyst re-analysis. Pins the two things that make the
  * cache safe to ship: (1) results are EQUAL to the plan-per-call
  * [[GraftCatalog.search]] across random vectors and every shape knob, and
  * (2) a cached plan is NEVER served stale — every mutation, re-load and
  * release invalidates by construction (resident-object identity). */
class PreparedSearchSpec extends SparkSpec {

  import spark.implicits._

  private def newCatalog() =
    new GraftCatalog(spark, Files.createTempDirectory("graft-prep").toString)

  private val dim = 8

  private def meta(name: String, quant: String = "none", distance: String = "cosine") =
    CollectionMeta(name, dim = dim, distance = distance, quantization = quant,
      fields = Seq(
        IndexField("id", "string", primaryKey = true),
        IndexField("label", "integer")))

  private def rows(n: Int, seed: Int) = {
    val rnd = new Random(seed)
    (0 until n).map { i =>
      (f"$i%04d", i % 7, Array.fill(dim)(rnd.nextFloat() * 2 - 1).toSeq)
    }.toDF("id", "label", "vector")
  }

  private def vecs(n: Int, seed: Int): Seq[Array[Float]] = {
    val rnd = new Random(seed)
    Seq.fill(n)(Array.fill(dim)(rnd.nextFloat() * 2 - 1))
  }

  /** Canonical comparable form of a result set. */
  private def canon(schema: StructType, rs: Seq[Row]): Seq[Seq[Any]] =
    rs.map(r => schema.fieldNames.toSeq.map(f => r.get(r.fieldIndex(f))))

  private def viaSearch(cat: GraftCatalog, name: String, q: Array[Float], topK: Int,
                        filter: Option[FilterExpr] = None, offset: Int = 0,
                        minScore: Option[Double] = None): Seq[Seq[Any]] = {
    val df = cat.search(name, q, topK, filter, offset, minScore)
    canon(df.schema, df.collect().toIndexedSeq)
  }

  private def viaPrepared(cat: GraftCatalog, name: String, q: Array[Float], topK: Int,
                          filter: Option[FilterExpr] = None, offset: Int = 0,
                          minScore: Option[Double] = None): Seq[Seq[Any]] = {
    val (schema, rs) = cat.searchPrepared(name, q, topK, filter, offset, minScore)
    canon(schema, rs)
  }

  test("compile isolation: concurrent compiles never toggle AQE for other " +
    "planner threads (cloned planning session)") {
    val cat = newCatalog()
    cat.createCollection(meta("iso"))
    cat.loadCollection("iso")
    cat.insert("iso", rows(200, seed = 5))
    val key = "spark.sql.adaptive.enabled"
    assert(spark.conf.get(key) === "true", "precondition: session plans with AQE on")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sawToggle = new java.util.concurrent.atomic.AtomicBoolean(false)
    // the bystander: keeps planning unrelated queries and watching the
    // SESSION conf — pre-r10 the compile window set it to false globally
    val watcher = new Thread(() => {
      while (!stop.get()) {
        if (spark.conf.get(key) != "true") sawToggle.set(true)
        val p = rows(3, seed = 99).groupBy("label").count()
          .queryExecution.executedPlan
        if (!p.isInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec])
          sawToggle.set(true)
      }
    })
    watcher.start()
    try {
      // compile-heavy callers: distinct shapes so every call truly compiles
      val threads = (0 until 4).map { t =>
        new Thread(() => {
          for (k <- 1 to 6)
            cat.searchPrepared("iso", vecs(1, seed = t * 10 + k).head, topK = 4 * t + k)
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
    } finally { stop.set(true); watcher.join() }
    assert(!sawToggle.get(),
      "a concurrent compile leaked its AQE-off planning conf to another thread")
    assert(spark.conf.get(key) === "true", "session conf must be untouched after compiles")
    // and the compiled plans still serve correct results
    val q = vecs(1, seed = 77).head
    assert(viaPrepared(cat, "iso", q, 5) === viaSearch(cat, "iso", q, 5))
  }

  test("prepared equals plan-per-call across random vectors (cosine, float)") {
    val cat = newCatalog()
    cat.createCollection(meta("pfa"))
    cat.loadCollection("pfa")
    cat.insert("pfa", rows(300, seed = 1))
    for (q <- vecs(8, seed = 11))
      assert(viaPrepared(cat, "pfa", q, 10) === viaSearch(cat, "pfa", q, 10))
  }

  test("prepared equals plan-per-call on the fused quantized kernel (f16, euclidean)") {
    val cat = newCatalog()
    cat.createCollection(meta("pfq", quant = "f16", distance = "euclidean"))
    cat.loadCollection("pfq")
    cat.insert("pfq", rows(300, seed = 2))
    for (q <- vecs(8, seed = 22))
      assert(viaPrepared(cat, "pfq", q, 7) === viaSearch(cat, "pfq", q, 7))
  }

  test("prepared honors every shape knob: filter, offset, minScore") {
    val cat = newCatalog()
    cat.createCollection(meta("pfk"))
    cat.loadCollection("pfk")
    cat.insert("pfk", rows(400, seed = 3))
    val f = Some(FilterExpr.Single("label", FilterExpr.Lte, 3): FilterExpr)
    for (q <- vecs(5, seed = 33)) {
      assert(viaPrepared(cat, "pfk", q, 10, filter = f) ===
        viaSearch(cat, "pfk", q, 10, filter = f))
      assert(viaPrepared(cat, "pfk", q, 10, offset = 5) ===
        viaSearch(cat, "pfk", q, 10, offset = 5))
      assert(viaPrepared(cat, "pfk", q, 10, minScore = Some(50.0)) ===
        viaSearch(cat, "pfk", q, 10, minScore = Some(50.0)))
      // distinct filter VALUES are distinct cache entries, both correct
      val g = Some(FilterExpr.Single("label", FilterExpr.Lte, 1): FilterExpr)
      assert(viaPrepared(cat, "pfk", q, 10, filter = g) ===
        viaSearch(cat, "pfk", q, 10, filter = g))
    }
  }

  test("hybrid prepared path: equals searchHybrid across random vectors and " +
    "filters (the broadcast rebuilds per swapped vector); mutations never go stale") {
    val cat = newCatalog()
    cat.createCollection(meta("hyb"))
    cat.loadCollection("hyb")
    cat.insert("hyb", rows(300, seed = 21))
    val filters = Seq(
      FilterExpr.Single("label", FilterExpr.Lt, 4L),
      FilterExpr.And(Seq(
        FilterExpr.Single("label", FilterExpr.Gte, 1L),
        FilterExpr.Single("label", FilterExpr.Neq, 3L))))
    // fresh vector per request against ONE cached shape: if the literal
    // swap did not rebuild the ANN broadcast, request 2+ would serve
    // request 1's candidates
    for (f <- filters; q <- vecs(4, seed = 31)) {
      val want = {
        val df = cat.searchHybrid("hyb", q, topK = 7, f, overFetch = 3)
        canon(df.schema, df.collect().toIndexedSeq)
      }
      val (schema, rs) = cat.searchHybridPrepared("hyb", q, topK = 7, f, overFetch = 3)
      assert(canon(schema, rs) === want, s"filter $f")
    }
    // staleness: a mutation swaps the resident object → recompile, never stale
    val q0 = vecs(1, seed = 41).head
    val f0 = filters.head
    val before = canon _ tupled cat.searchHybridPrepared("hyb", q0, 7, f0)
    cat.insert("hyb", Seq(("zzzz", 0, q0.toSeq)).toDF("id", "label", "vector"))
    val after = canon _ tupled cat.searchHybridPrepared("hyb", q0, 7, f0)
    assert(after !== before, "the upserted exact-match row must appear")
    assert(after.exists(_.contains("zzzz")))
  }

  test("a cached plan never serves a stale resident state (insert/delete invalidate)") {
    val cat = newCatalog()
    cat.createCollection(meta("pst"))
    cat.loadCollection("pst")
    cat.insert("pst", rows(200, seed = 4))
    val q = vecs(1, seed = 44).head
    val before = viaPrepared(cat, "pst", q, 5) // compiles + caches the plan
    // insert an exact-match row — it MUST be the new top hit
    cat.insert("pst", Seq(("zzzz", 99, q.toSeq)).toDF("id", "label", "vector"))
    val afterInsert = viaPrepared(cat, "pst", q, 5)
    assert(afterInsert.head.head === "zzzz")
    assert(afterInsert !== before)
    // delete it — the cached post-insert plan must not resurrect it
    cat.delete("pst", FilterExpr.Single("id", FilterExpr.Eq, "zzzz"))
    val afterDelete = viaPrepared(cat, "pst", q, 5)
    assert(!afterDelete.exists(_.head == "zzzz"))
    assert(afterDelete === before)
  }

  test("release + re-load invalidates; released collection fails loudly") {
    val cat = newCatalog()
    cat.createCollection(meta("prl"))
    cat.loadCollection("prl")
    cat.insert("prl", rows(150, seed = 5))
    cat.flush("prl")
    val q = vecs(1, seed = 55).head
    val flushed = viaPrepared(cat, "prl", q, 5)
    // unflushed mutation, then re-anchor: the discard must reach the cache
    cat.insert("prl", Seq(("gone", 1, q.toSeq)).toDF("id", "label", "vector"))
    assert(viaPrepared(cat, "prl", q, 5).head.head === "gone")
    cat.loadCollection("prl") // re-anchor discards the unflushed insert
    assert(viaPrepared(cat, "prl", q, 5) === flushed)
    cat.releaseCollection("prl")
    intercept[IllegalStateException] { cat.searchPrepared("prl", q, 5) }
  }

  test("negative entry: a folded placeholder serves through the lit builder and " +
    "compiles once per anchor; an unrelated compile failure surfaces uncached") {
    val cat = newCatalog()
    val (anchorA, anchorB) = (new Object, new Object)
    // driven directly: a PlaceholderFoldedException caches the negative
    // entry against its anchor — one compile per anchor, not per request
    var compiles = 0
    def folded(): PreparedPlan.Prepared = {
      compiles += 1
      throw new PreparedPlan.PlaceholderFoldedException("folded")
    }
    assert(cat.preparedFor("neg", "shape", anchorA)(folded()).isEmpty)
    assert(cat.preparedFor("neg", "shape", anchorA)(folded()).isEmpty)
    assert(compiles === 1, "the negative entry must be cached per anchor")
    assert(cat.preparedFor("neg", "shape", anchorB)(folded()).isEmpty)
    assert(compiles === 2, "a new anchor must compile again")

    // an unrelated IllegalStateException (stopped session, codegen fault)
    // surfaces and is NEVER cached as "unparameterizable"
    var broken = 0
    def failing(): PreparedPlan.Prepared = {
      broken += 1
      throw new IllegalStateException("codegen fault")
    }
    for (_ <- 1 to 2) {
      val e = intercept[IllegalStateException](
        cat.preparedFor("ise", "shape", anchorA)(failing()))
      assert(!e.isInstanceOf[PreparedPlan.PlaceholderFoldedException])
    }
    assert(broken === 2, "a failed compile must not be cached")
    // the key stays open: a compilable plan caches normally afterwards
    var good = 0
    def compilable(): PreparedPlan.Prepared = {
      good += 1
      val (c, h) = PreparedPlan.placeholder(Array(1f, 2f))
      PreparedPlan.compile(spark.range(1).select(c.as("q")), Seq(h))
    }
    val p = cat.preparedFor("ise", "shape", anchorA)(compilable())
    assert(p.isDefined)
    assert(cat.preparedFor("ise", "shape", anchorA)(compilable()) === p)
    assert(good === 1)
    assert(p.get.run(Seq(Array(3f, 4f))).map(_.getSeq[Float](0)) === Seq(Seq(3f, 4f)))

    // through a route's builder: size(<placeholder>) constant-folds, so the
    // shape is unparameterizable and every request is served by the SAME
    // builder over `lit` values — with the request's own values
    var builds = 0
    def plan(qs: Seq[Column]): DataFrame = {
      builds += 1
      spark.range(1).select(org.apache.spark.sql.functions.size(qs.head).as("n"))
    }
    def serve(anchor: AnyRef, q: Array[Float]): Seq[Int] =
      cat.runPrepared("lit", "shape", anchor, Seq(q))(plan)._2.map(_.getInt(0))
    assert(serve(anchorA, Array(1f, 2f, 3f)) === Seq(3))
    assert(builds === 2, "first request: one failed compile plus one lit run")
    assert(serve(anchorA, Array(1f, 2f)) === Seq(2))
    assert(builds === 3, "a negative hit runs the lit builder only")
    assert(serve(anchorB, Array(1f)) === Seq(1))
    assert(builds === 5, "a new anchor compiles again")
  }

  test("cache stays correct past the LRU bound (many distinct shapes)") {
    val cat = newCatalog()
    cat.createCollection(meta("plru"))
    cat.loadCollection("plru")
    cat.insert("plru", rows(120, seed = 6))
    val q = vecs(1, seed = 66).head
    // > PreparedCacheMax distinct shapes (topK 1..70), then re-query the
    // evicted earliest shapes — recompile must be transparent
    for (k <- 1 to (GraftCatalog.PreparedCacheMax + 6))
      assert(viaPrepared(cat, "plru", q, k).size === k)
    for (k <- Seq(1, 2, 3))
      assert(viaPrepared(cat, "plru", q, k) === viaSearch(cat, "plru", q, k))
  }

  test("multi-vector prepared path: equals searchMulti across random vectors, " +
    "shapes keyed by (field, ratio, include), stale on mutation, quantized decode compiled in") {
    import graft.operators.MultiVectorSearch.FieldQuery
    def mk(quant: String): GraftCatalog = {
      val cat = newCatalog()
      cat.createCollection(CollectionMeta("mv", dim = dim, distance = "euclidean",
        quantization = quant,
        fields = Seq(IndexField("_key", "string", primaryKey = true),
          IndexField("v0", "vector"), IndexField("v1", "vector"))))
      cat.loadCollection("mv")
      val rnd = new Random(3)
      cat.insert("mv", (0 until 120).map { i =>
        (f"k$i%03d", Array.fill(dim)(rnd.nextFloat() * 2 - 1).toSeq,
          Array.fill(dim)(rnd.nextFloat() * 2 - 1).toSeq)
      }.toDF("_key", "v0", "v1"))
      cat
    }
    def fq(q0: Array[Float], q1: Array[Float], r0: Double = 60, include1: Boolean = true) =
      Seq(FieldQuery("v0", q0, r0), FieldQuery("v1", q1, if (include1) 100 - r0 else 40, include1))

    for (quant <- Seq("none", "f16")) {
      val cat = mk(quant)
      // vectors vary, shape fixed → every call after the first is a cache
      // hit executing swapped literals; results must equal plan-per-call
      for (seed <- 10 to 14) {
        val Seq(q0, q1) = vecs(2, seed)
        val (schema, rows) = cat.searchMultiPrepared("mv", fq(q0, q1), 7)
        val exact = cat.searchMulti("mv", fq(q0, q1), 7)
        assert(canon(schema, rows) === canon(exact.schema, exact.collect().toIndexedSeq),
          s"quant=$quant seed=$seed")
      }
      // different ratio / exclusion = different shapes, still correct
      val Seq(q0, q1) = vecs(2, 42)
      for (shape <- Seq(fq(q0, q1, r0 = 25), Seq(FieldQuery("v0", q0, 100),
          FieldQuery("v1", q1, 40, include = false)))) {
        val (schema, rows) = cat.searchMultiPrepared("mv", shape, 5)
        val exact = cat.searchMulti("mv", shape, 5)
        assert(canon(schema, rows) === canon(exact.schema, exact.collect().toIndexedSeq))
      }
      // staleness: a mutation swaps the resident object — the prepared
      // plan must answer from the NEW state
      cat.insert("mv", Seq(("zzz", q0.toSeq, q1.toSeq)).toDF("_key", "v0", "v1"))
      val (_, after) = cat.searchMultiPrepared("mv", fq(q0, q1), 1)
      assert(after.head.getString(0) === "zzz",
        s"quant=$quant: the just-inserted exact-match row must win")
    }
  }

  test("chain-winners cache: drop + recreate over the SAME version paths never " +
    "serves the dropped collection's persisted ledger winners") {
    val cat = newCatalog()
    def buildChain(tag: String): Unit = {
      cat.createCollection(CollectionMeta("cw", dim = dim, distance = "euclidean",
        fields = Seq(IndexField("id", "string", primaryKey = true)),
        ivfCells = Some(2), ivfTrainIterations = Some(0)))
      cat.loadCollection("cw")
      val rnd = new Random(if (tag == "a") 3 else 4)
      cat.insert("cw", (0 until 100).map { i =>
        (f"$tag$i%03d", Array.fill(dim)(rnd.nextFloat() * 2 - 1).toSeq)
      }.toDF("id", "vector"))
      cat.flush("cw") // v1
      cat.insert("cw", (100 until 120).map { i =>
        (f"$tag$i%03d", Array.fill(dim)(rnd.nextFloat() * 2 - 1).toSeq)
      }.toDF("id", "vector"))
      cat.flushDelta("cw") // v2 — same version PATH both times
    }
    buildChain("a")
    val q = vecs(1, 98).head
    // populate + MATERIALIZE the persisted winners cache (the probe
    // executes the fold)
    val a = cat.searchIvf("cw", q, 50, nprobe = 2).collect().map(_.getString(0))
    assert(a.nonEmpty && a.forall(_.startsWith("a")))
    cat.dropCollection("cw")
    buildChain("b")
    val b = cat.searchIvf("cw", q, 50, nprobe = 2).collect().map(_.getString(0))
    assert(b.nonEmpty && b.forall(_.startsWith("b")),
      s"stale cached chain winners served: ${b.filterNot(_.startsWith("b")).take(5).toSeq}")
    // the delta rows specifically (the winners' content) must be tag-b
    assert(b.exists(id => id.startsWith("b1")), "segment rows missing from the fold")
  }

  test("version-artifact cache: drop + recreate reusing version numbers never " +
    "serves the old snapshot or sidecars (searchIvf / searchPq / searchBinary)") {
    val cat = newCatalog()
    def build(tag: String): Unit = {
      cat.createCollection(CollectionMeta("va", dim = dim, distance = "euclidean",
        fields = Seq(IndexField("id", "string", primaryKey = true)),
        ivfCells = Some(4), pqSubspaces = Some(4), pqCodewords = Some(16),
        binaryIndex = Some(true)))
      cat.loadCollection("va")
      // deterministic per-tag content: vectors near the axes, ids carry the tag
      val rnd = new Random(if (tag == "a") 1 else 2)
      cat.insert("va", (0 until 200).map { i =>
        (s"$tag$i", Array.fill(dim)(rnd.nextFloat() * 2 - 1).toSeq)
      }.toDF("id", "vector"))
      cat.flush("va") // v1 both times — the cache key collision under test
    }
    build("a")
    val q = vecs(1, 99).head
    // every route over the per-version artifacts, plan-per-call and
    // prepared (the prepared plans anchor on the memoized snapshot)
    def ids(df: DataFrame): Seq[String] = df.collect().map(_.getString(0)).toSeq
    def idsOf(r: (StructType, Seq[Row])): Seq[String] = r._2.map(_.getString(0))
    val routes: Seq[(String, () => Seq[String])] = Seq(
      "searchIvf" -> (() => ids(cat.searchIvf("va", q, 5, nprobe = 4))),
      "searchPq" -> (() => ids(cat.searchPq("va", q, 5))),
      "searchBinary" -> (() => ids(cat.searchBinary("va", q, 5))),
      "searchIvfPrepared" -> (() => idsOf(cat.searchIvfPrepared("va", q, 5, nprobe = 4))),
      "searchPqPrepared" -> (() => idsOf(cat.searchPqPrepared("va", q, 5))),
      "searchBinaryPrepared" -> (() => idsOf(cat.searchBinaryPrepared("va", q, 5))))
    // populate every per-version artifact (snapshot plan, centroids,
    // codebook, binary thresholds) and every prepared plan
    val before = routes.map { case (n, f) => n -> f() }.toMap
    assert(before.values.flatten.forall(_.startsWith("a")), before.toString)

    cat.dropCollection("va")
    build("b")
    assert(cat.getMeta("va").currentVersion === 1, "the recreated collection must reuse v1")
    val after = routes.map { case (n, f) => n -> f() }.toMap
    assert(after.values.flatten.nonEmpty)
    assert(after.values.flatten.forall(_.startsWith("b")), s"stale artifacts served: $after")
    val pqB = after("searchPq")
    // and the local serving loaders share the same cache safely
    val local = cat.localBinIndex("va").search(q, 5).map(_._1.toString)
    assert(local.nonEmpty && local.forall(_.startsWith("b")), local.toString)

    // the serving-layer recovery hook: on an UNLOADED collection it must
    // purge caches without side-loading a resident copy the client never
    // asked for; on a loaded one it re-anchors (still loaded after)
    cat.releaseCollection("va")
    cat.recoverAfterVacuumRace("va")
    assert(!cat.isLoaded("va"), "recovery must not load an unloaded collection")
    cat.loadCollection("va")
    cat.recoverAfterVacuumRace("va")
    assert(cat.isLoaded("va"), "recovery must keep a loaded collection resident")
    val pqAfter = cat.searchPq("va", q, 5).collect().map(_.getString(0)).toSeq
    assert(pqAfter === pqB, "recovery must not change answers")
  }

  // ---- r12: the prepared PROBED route (searchIvfPrepared) — the query
  // vector AND the probed cell set swap into one compiled plan; results
  // must equal plan-per-call searchIvf bit-for-bit on every shape knob.

  private def ivfMeta(name: String, quant: String = "none") =
    CollectionMeta(name, dim = dim, distance = "euclidean", quantization = quant,
      fields = Seq(
        IndexField("id", "string", primaryKey = true),
        IndexField("label", "integer")),
      ivfCells = Some(4))

  private def viaIvf(cat: GraftCatalog, name: String, q: Array[Float], topK: Int,
                     nprobe: Int, filter: Option[FilterExpr] = None): Seq[Seq[Any]] = {
    val df = cat.searchIvf(name, q, topK, nprobe, filter)
    canon(df.schema, df.collect().toIndexedSeq)
  }

  private def viaIvfPrepared(cat: GraftCatalog, name: String, q: Array[Float], topK: Int,
                             nprobe: Int, filter: Option[FilterExpr] = None): Seq[Seq[Any]] = {
    val (schema, rs) = cat.searchIvfPrepared(name, q, topK, nprobe, filter)
    canon(schema, rs)
  }

  for (quant <- Seq("none", "f16", "f8")) {
    test(s"prepared probed search equals searchIvf across random queries × nprobe ($quant)") {
      val cat = newCatalog()
      cat.createCollection(ivfMeta(s"pvi$quant", quant))
      cat.loadCollection(s"pvi$quant")
      cat.insert(s"pvi$quant", rows(300, seed = 7))
      cat.flush(s"pvi$quant")
      val rnd = new Random(71)
      for (q <- vecs(10, seed = 72)) {
        val np = 1 + rnd.nextInt(4)
        assert(viaIvfPrepared(cat, s"pvi$quant", q, 8, np) ===
          viaIvf(cat, s"pvi$quant", q, 8, np), s"nprobe=$np")
      }
    }
  }

  test("prepared probed search honors the filter tree; distinct values are distinct shapes") {
    val cat = newCatalog()
    cat.createCollection(ivfMeta("pvf"))
    cat.loadCollection("pvf")
    cat.insert("pvf", rows(400, seed = 8))
    cat.flush("pvf")
    val f = Some(FilterExpr.Single("label", FilterExpr.Lte, 3): FilterExpr)
    val g = Some(FilterExpr.And(
      FilterExpr.Single("label", FilterExpr.Gte, 1L),
      FilterExpr.Single("label", FilterExpr.Neq, 3L)): FilterExpr)
    for (q <- vecs(4, seed = 81); filt <- Seq(f, g, None))
      assert(viaIvfPrepared(cat, "pvf", q, 10, 4, filt) ===
        viaIvf(cat, "pvf", q, 10, 4, filt), s"filter $filt")
  }

  test("prepared probed search with a NaN query: the EMPTY probed set swaps in " +
      "cleanly (no cells admitted → no rows, never an error or filler cells)") {
    val cat = newCatalog()
    cat.createCollection(ivfMeta("pvn"))
    cat.loadCollection("pvn")
    cat.insert("pvn", rows(100, seed = 6))
    cat.flush("pvn")
    // warm the shape with a real query so the NaN request is a cache HIT
    // executing a swapped EMPTY cell array
    viaIvfPrepared(cat, "pvn", vecs(1, seed = 61).head, 5, 2)
    val nan = Array.fill(dim)(Float.NaN)
    val (_, rs) = cat.searchIvfPrepared("pvn", nan, 5, 2)
    assert(rs.isEmpty, s"NaN probe must admit no cells: $rs")
    // ...and the plan-per-call path holds the same contract (r12: the
    // NaN-admits-nothing rule unified across all four probe paths)
    assert(cat.searchIvf("pvn", nan, 5, 2).count() === 0L)
  }

  test("prepared probed search over a delta chain: post-fold rows serve; " +
      "a new version invalidates by construction") {
    val cat = newCatalog()
    cat.createCollection(ivfMeta("pvd"))
    cat.loadCollection("pvd")
    cat.insert("pvd", rows(200, seed = 9))
    cat.flush("pvd")
    val q = vecs(1, seed = 91).head
    val before = viaIvfPrepared(cat, "pvd", q, 5, 4) // compiles against v1
    assert(before === viaIvf(cat, "pvd", q, 5, 4))
    // an exact-match put through the delta path must appear after the fold
    cat.insert("pvd", Seq(("zzzz", 0, q.toSeq)).toDF("id", "label", "vector"))
    cat.flushDelta("pvd")
    val after = viaIvfPrepared(cat, "pvd", q, 5, 4)
    assert(after.head.head === "zzzz", s"post-fold row missing: $after")
    assert(after === viaIvf(cat, "pvd", q, 5, 4))
  }
}
