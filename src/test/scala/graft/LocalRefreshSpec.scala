package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.FilterExpr._
import graft.collection._

/** O(changes) refresh of the driver-local serving rungs (r13, r12 VERDICT
  * #2): folding a delta window's LWW winners into a resident index must
  * equal the index REBUILT from the folded snapshot — per rung (ivf / pq /
  * bin / multi), per storage mode, with filter columns, across cell-moving
  * puts, deletes, fresh inserts, multi-segment windows, and the compaction
  * fallback (new chain base ⇒ full rebuild).
  *
  * Determinism: parity needs none from training — refreshed and rebuilt
  * read the SAME persisted sidecars — only the compaction test retrains,
  * and there both sides rebuild from the same new base. */
class LocalRefreshSpec extends SparkSpec {
  import spark.implicits._

  /** 4 well-separated clusters (dim configurable for the PQ layout), with
    * TWO scalar fields — grp (integer) and tag (string) — so the
    * name-sorted meta-value alignment of the refresh is exercised on more
    * than one column. */
  private def clustered(dim: Int): DataFrame = {
    val centers = (0 until 4).map { ci =>
      Array.tabulate(dim)(j => if (j % 4 == ci) 100f else 0f)
    }
    val rows = centers.zipWithIndex.flatMap { case (c, ci) =>
      (s"A$ci", -1L, "seed", c.toSeq) +: (1 until 50).map { j =>
        (s"B${ci}_$j", (j % 7).toLong, s"t${j % 3}",
          c.map(x => x + (j % 7) - 3f).toSeq)
      }
    }
    rows.toDF("id", "grp", "tag", "vector")
  }

  private def fields = Seq(
    IndexField("id", "string", primaryKey = true),
    IndexField("grp", "integer"),
    IndexField("tag", "string"))

  private def mkCat(m: CollectionMeta, dim: Int): GraftCatalog = {
    val cat = new GraftCatalog(spark,
      Files.createTempDirectory("graft-lrefresh").toString)
    cat.createCollection(m)
    cat.loadCollection(m.name)
    cat.insert(m.name, clustered(dim))
    cat.flush(m.name) // v1: the base the resident index loads
    cat
  }

  /** Two delta segments: cluster-1 grp-3 rows MOVE to cluster 2's center
    * (cell migration), grp-2 rows delete everywhere, five fresh rows land
    * near cluster 3, and one seed-adjacent row updates in place. */
  private def mutate(cat: GraftCatalog, name: String, dim: Int): Unit = {
    def vec(f: Int => Float) = Seq.tabulate(dim)(f)
    cat.insert(name, clustered(dim)
      .where(col("id").startsWith("B1_") && col("grp") === 3)
      .select(col("id"), col("grp"), lit("moved").as("tag"),
        typedlit(vec(j => if (j % 4 == 2) 100f else 0f)).as("vector")))
    cat.flushDelta(name) // v2
    cat.delete(name, Single("grp", FilterExpr.Eq, 2L))
    cat.insert(name, (200 to 204).map(i =>
      (s"C$i", 9L, "new", vec(j => if (j % 4 == 2) 99f else if (j % 4 == 3) 1f else 0f)))
      .toDF("id", "grp", "tag", "vector"))
    cat.flushDelta(name) // v3
  }

  private def queries(dim: Int): Seq[Array[Float]] = Seq(
    Array.tabulate(dim)(j => if (j % 4 == 2) 98f else 2f),
    Array.tabulate(dim)(j => if (j % 4 == 0) 97f else 1f),
    Array.tabulate(dim)(j => 25f))

  private def r6(d: Double): Double = math.rint(d * 1e6) / 1e6

  private def sameHits(a: Seq[(AnyRef, Double)], b: Seq[(AnyRef, Double)]): Unit =
    assert(a.map { case (id, d) => (id.toString, r6(d)) } ===
      b.map { case (id, d) => (id.toString, r6(d)) })

  test("ivf refresh == rebuild (filter columns, cell moves, multi-segment window)") {
    val cat = mkCat(CollectionMeta("ri", dim = 4, distance = "euclidean",
      fields = fields, ivfCells = Some(4), ivfTrainIterations = Some(0)), dim = 4)
    val cols = Seq("grp", "tag")
    val prev = cat.localIvfIndex("ri", cols)
    mutate(cat, "ri", dim = 4)
    val (refreshed, v) = cat.refreshLocalIvfIndex("ri", prev, 1, cols)
    assert(v === 3)
    val rebuilt = cat.localIvfIndex("ri", cols)
    assert(refreshed.size === rebuilt.size)
    for (q <- queries(4); np <- Seq(1, 2, 4)) {
      sameHits(refreshed.search(q, 8, np), rebuilt.search(q, 8, np))
      sameHits(refreshed.search(q, 8, np, eqFilter = Seq("grp" -> 9L)),
        rebuilt.search(q, 8, np, eqFilter = Seq("grp" -> 9L)))
      sameHits(
        refreshed.search(q, 8, np, eqFilter = Seq("grp" -> 3L, "tag" -> "moved")),
        rebuilt.search(q, 8, np, eqFilter = Seq("grp" -> 3L, "tag" -> "moved")))
    }
    // deleted rows are really gone from the folded store
    assert(refreshed.search(queries(4).head, 200, 4)
      .forall { case (id, _) => !id.toString.startsWith("B") ||
        !clusteredDeleted.contains(id.toString) })
    // no-change fast path: the SAME instance comes back
    val (again, v2) = cat.refreshLocalIvfIndex("ri", refreshed, 3, cols)
    assert(v2 === 3)
    assert(again eq refreshed)
  }

  /** grp==2 ids of the base (deleted by mutate). */
  private lazy val clusteredDeleted: Set[String] =
    (0 until 4).flatMap(ci => (1 until 50).filter(_ % 7 == 2)
      .map(j => s"B${ci}_$j")).toSet

  test("ivf refresh steps segment-by-segment like one jump") {
    val cat = mkCat(CollectionMeta("rs", dim = 4, distance = "euclidean",
      fields = fields, ivfCells = Some(4), ivfTrainIterations = Some(0)), dim = 4)
    val prev = cat.localIvfIndex("rs")
    // segment 1 only
    cat.insert("rs", clustered(4)
      .where(col("id").startsWith("B1_") && col("grp") === 3)
      .select(col("id"), col("grp"), lit("moved").as("tag"),
        typedlit(Seq(0f, 0f, 100f, 0f)).as("vector")))
    cat.flushDelta("rs") // v2
    val (at2, _) = cat.refreshLocalIvfIndex("rs", prev, 1)
    // segment 2
    cat.delete("rs", Single("grp", FilterExpr.Eq, 2L))
    cat.flushDelta("rs") // v3
    val (stepped, _) = cat.refreshLocalIvfIndex("rs", at2, 2)
    val (jumped, _) = cat.refreshLocalIvfIndex("rs", prev, 1)
    val rebuilt = cat.localIvfIndex("rs")
    for (q <- queries(4))
      { sameHits(stepped.search(q, 8, 4), rebuilt.search(q, 8, 4))
        sameHits(jumped.search(q, 8, 4), rebuilt.search(q, 8, 4)) }
  }

  test("compaction (new base) falls back to a full rebuild — still parity") {
    val cat = mkCat(CollectionMeta("rc", dim = 4, distance = "euclidean",
      fields = fields, ivfCells = Some(4), ivfTrainIterations = Some(0)), dim = 4)
    val prev = cat.localIvfIndex("rc")
    mutate(cat, "rc", dim = 4)
    cat.flush("rc") // v4: compaction — prev's chain base is gone
    val (refreshed, v) = cat.refreshLocalIvfIndex("rc", prev, 1)
    assert(v === 4)
    val rebuilt = cat.localIvfIndex("rc")
    for (q <- queries(4))
      sameHits(refreshed.search(q, 8, 4), rebuilt.search(q, 8, 4))
  }

  test("a window over maxChanges falls back to a full rebuild — still parity") {
    val cat = mkCat(CollectionMeta("rx", dim = 4, distance = "euclidean",
      fields = fields, ivfCells = Some(4), ivfTrainIterations = Some(0)), dim = 4)
    val cols = Seq("grp", "tag")
    val prev = cat.localIvfIndex("rx", cols)
    mutate(cat, "rx", dim = 4) // window carries dozens of LWW winners
    val rebuilt = cat.localIvfIndex("rx", cols)
    // cap of 1 ⇒ bounded collect trips (limit(2) sees 2 rows) ⇒ rebuild path
    val (viaRebuild, v1) = cat.refreshLocalIvfIndex("rx", prev, 1, cols, maxChanges = 1)
    assert(v1 === 3)
    // roomy cap ⇒ the fold path — both answers must be identical
    val (viaFold, v2) = cat.refreshLocalIvfIndex("rx", prev, 1, cols,
      maxChanges = Int.MaxValue)
    assert(v2 === 3)
    assert(viaRebuild.size === rebuilt.size)
    assert(viaFold.size === rebuilt.size)
    for (q <- queries(4); np <- Seq(1, 4)) {
      sameHits(viaRebuild.search(q, 8, np), rebuilt.search(q, 8, np))
      sameHits(viaFold.search(q, 8, np), rebuilt.search(q, 8, np))
      sameHits(viaRebuild.search(q, 8, np, eqFilter = Seq("grp" -> 9L)),
        rebuilt.search(q, 8, np, eqFilter = Seq("grp" -> 9L)))
    }
    // the cap is validated, not silently floored
    val e = intercept[IllegalArgumentException] {
      cat.refreshLocalIvfIndex("rx", prev, 1, cols, maxChanges = 0)
    }
    assert(e.getMessage.contains("maxChanges"))
    // an EAGER caller (the flushDelta write path) opts out of the inline
    // rebuild: over-cap throws so it can degrade to drop-and-lazy-rebuild
    val r = intercept[GraftCatalog.RefreshTooLargeException] {
      cat.refreshLocalIvfIndex("rx", prev, 1, cols, maxChanges = 1,
        oversizeRebuilds = false)
    }
    assert(r.getMessage.contains("maxChanges=1"))
  }

  test("a moved chain base with oversizeRebuilds=false refuses — the eager " +
    "write-path fold must never inline an O(corpus) rebuild (r13 advice)") {
    val cat = mkCat(CollectionMeta("rz", dim = 4, distance = "euclidean",
      fields = fields, ivfCells = Some(4), ivfTrainIterations = Some(0)), dim = 4)
    val prev = cat.localIvfIndex("rz")
    mutate(cat, "rz", dim = 4)
    cat.flush("rz") // v4: compaction — no foldable window from v1 exists
    // the cross-driver race: another flush moved the base between the
    // cache read and the refresh; the eager flushDelta-route caller
    // (oversizeRebuilds=false) must get a refusal it can degrade on, not
    // silently pay the full rebuild inside a publish
    val e = intercept[GraftCatalog.RefreshTooLargeException] {
      cat.refreshLocalIvfIndex("rz", prev, 1, oversizeRebuilds = false)
    }
    assert(e.getMessage.contains("chain base moved"))
    // all four rungs share the guard
    val binCat = mkCat(CollectionMeta("rzb", dim = 4, distance = "euclidean",
      fields = fields, binaryIndex = Some(true)), dim = 4)
    val prevBin = binCat.localBinIndex("rzb")
    mutate(binCat, "rzb", dim = 4)
    binCat.flush("rzb")
    intercept[GraftCatalog.RefreshTooLargeException] {
      binCat.refreshLocal("rzb", prevBin, 1, oversizeRebuilds = false)
    }
    // the lazy read-path caller (oversizeRebuilds=true) still rebuilds to parity
    val (refreshed, v) = cat.refreshLocalIvfIndex("rz", prev, 1)
    assert(v === 4)
    val rebuilt = cat.localIvfIndex("rz")
    for (q <- queries(4))
      sameHits(refreshed.search(q, 8, 4), rebuilt.search(q, 8, 4))
  }

  test("footer pre-screen: a window whose RAW row bound exceeds the cap " +
    "rebuilds without paying the winner aggregation (r13 advice)") {
    val cat = mkCat(CollectionMeta("rf", dim = 4, distance = "euclidean",
      fields = fields, ivfCells = Some(4), ivfTrainIterations = Some(0)), dim = 4)
    val prev = cat.localIvfIndex("rf")
    // the same five keys re-put in each of two segments: 10 raw ledger
    // rows, 5 LWW winners — the footer bound (10) is deliberately coarser
    // than the winner count (5)
    def puts(tag: String, bump: Float) = (0 until 5).map(i =>
      (s"B0_${i * 7 + 1}", 1L, tag, Seq.tabulate(4)(j => if (j == 0) 100f + bump else 0f)))
    cat.insert("rf", puts("first", 1f).toDF("id", "grp", "tag", "vector"))
    cat.flushDelta("rf") // v2
    cat.insert("rf", puts("second", 2f).toDF("id", "grp", "tag", "vector"))
    cat.flushDelta("rf") // v3
    // cap 7: winners (5) would fit, the raw bound (10) does not — the
    // pre-screen answers "over" from parquet footers alone, so the eager
    // caller refuses (degradable) instead of running the aggregation twice
    val e = intercept[GraftCatalog.RefreshTooLargeException] {
      cat.refreshLocalIvfIndex("rf", prev, 1, maxChanges = 7,
        oversizeRebuilds = false)
    }
    assert(e.getMessage.contains("maxChanges=7"))
    // the lazy caller's rebuild fallback and a roomy-cap fold agree exactly
    val (viaRebuild, _) = cat.refreshLocalIvfIndex("rf", prev, 1, maxChanges = 7)
    val (viaFold, _) = cat.refreshLocalIvfIndex("rf", prev, 1, maxChanges = 20)
    val rebuilt = cat.localIvfIndex("rf")
    assert(viaRebuild.size === rebuilt.size)
    assert(viaFold.size === rebuilt.size)
    for (q <- queries(4); np <- Seq(1, 4)) {
      sameHits(viaRebuild.search(q, 8, np), rebuilt.search(q, 8, np))
      sameHits(viaFold.search(q, 8, np), rebuilt.search(q, 8, np))
    }
  }

  test("quantized (f8) ivf refresh == rebuild — stored-form puts fold exactly") {
    val cat = mkCat(CollectionMeta("rq", dim = 4, distance = "euclidean",
      quantization = "f8",
      fields = fields, ivfCells = Some(4), ivfTrainIterations = Some(0)), dim = 4)
    val prev = cat.localIvfIndex("rq")
    mutate(cat, "rq", dim = 4)
    val (refreshed, _) = cat.refreshLocalIvfIndex("rq", prev, 1)
    val rebuilt = cat.localIvfIndex("rq")
    assert(refreshed.size === rebuilt.size)
    for (q <- queries(4); np <- Seq(1, 4)) {
      val pq = GraftCatalog.prepareQueryVector(q, cat.getMeta("rq"))
      sameHits(refreshed.search(pq, 8, np), rebuilt.search(pq, 8, np))
    }
  }

  test("quantized (f16) ivf refresh == rebuild — the short-array stored form") {
    // f8 above folds byte[] payloads; f16 rides the OTHER stored-form read
    // (array<short> rows → short[]), so both halves of storedVecOf are pinned
    val cat = mkCat(CollectionMeta("rh", dim = 4, distance = "euclidean",
      quantization = "f16",
      fields = fields, ivfCells = Some(4), ivfTrainIterations = Some(0)), dim = 4)
    val prev = cat.localIvfIndex("rh")
    mutate(cat, "rh", dim = 4)
    val (refreshed, _) = cat.refreshLocalIvfIndex("rh", prev, 1)
    val rebuilt = cat.localIvfIndex("rh")
    assert(refreshed.size === rebuilt.size)
    for (q <- queries(4); np <- Seq(1, 4)) {
      val pq = GraftCatalog.prepareQueryVector(q, cat.getMeta("rh"))
      sameHits(refreshed.search(pq, 8, np), rebuilt.search(pq, 8, np))
    }
  }

  test("pq refresh == rebuild (residual IVF-PQ codes fold as written)") {
    val cat = mkCat(CollectionMeta("rp", dim = 16, distance = "euclidean",
      fields = fields, ivfCells = Some(4), ivfTrainIterations = Some(0),
      pqSubspaces = Some(4), pqCodewords = Some(8), pqTrainIterations = Some(1)),
      dim = 16)
    val cols = Seq("grp")
    val prev = cat.localPqIndex("rp", cols)
    mutate(cat, "rp", dim = 16)
    val (refreshed, v) = cat.refreshLocal("rp", prev, 1, cols)
    assert(v === 3)
    val rebuilt = cat.localPqIndex("rp", cols)
    assert(refreshed.size === rebuilt.size)
    assert(refreshed.codeBytes === rebuilt.codeBytes)
    for (q <- queries(16); np <- Seq(1, 4)) {
      sameHits(refreshed.search(q, 8, np), rebuilt.search(q, 8, np))
      sameHits(refreshed.search(q, 8, np, eqFilter = Seq("grp" -> 9L)),
        rebuilt.search(q, 8, np, eqFilter = Seq("grp" -> 9L)))
    }
  }

  test("bin refresh == rebuild (flat compaction of the packed words)") {
    val cat = mkCat(CollectionMeta("rb", dim = 4, distance = "euclidean",
      fields = fields, binaryIndex = Some(true)), dim = 4)
    val cols = Seq("tag")
    val prev = cat.localBinIndex("rb", cols)
    mutate(cat, "rb", dim = 4)
    val (refreshed, _) = cat.refreshLocal("rb", prev, 1, cols)
    val rebuilt = cat.localBinIndex("rb", cols)
    assert(refreshed.size === rebuilt.size)
    assert(refreshed.codeBytes === rebuilt.codeBytes)
    for (q <- queries(4)) {
      sameHits(refreshed.search(q, 8), rebuilt.search(q, 8))
      sameHits(refreshed.search(q, 8, eqFilter = Seq("tag" -> "new")),
        rebuilt.search(q, 8, eqFilter = Seq("tag" -> "new")))
    }
  }

  test("multi refresh == rebuild (routing-cell puts, every field folds)") {
    val cat = new GraftCatalog(spark,
      Files.createTempDirectory("graft-lrefresh").toString)
    cat.createCollection(CollectionMeta("rm", dim = 4, distance = "cosine",
      fields = Seq(
        IndexField("id", "string", primaryKey = true),
        IndexField("v0", "vector"),
        IndexField("v1", "vector")),
      ivfCells = Some(4), ivfTrainIterations = Some(0)))
    cat.loadCollection("rm")
    val base = clustered(4).select(col("id"), col("vector").as("v0"),
      reverse(col("vector")).as("v1"))
    cat.insert("rm", base)
    cat.flush("rm") // v1
    val prev = cat.localMultiIndex("rm")
    // moves + deletes + inserts through the delta path
    cat.insert("rm", base.where(col("id").startsWith("B1_1"))
      .select(col("id"), typedlit(Seq(0f, 0f, 100f, 0f)).as("v0"), col("v1")))
    cat.flushDelta("rm") // v2
    cat.delete("rm", Single("id", FilterExpr.Eq, "B2_10"))
    cat.insert("rm", Seq(("C9", Seq(0f, 99f, 1f, 0f), Seq(1f, 0f, 0f, 9f)))
      .toDF("id", "v0", "v1"))
    cat.flushDelta("rm") // v3
    val (refreshed, v) = cat.refreshLocal("rm", prev, 1)
    assert(v === 3)
    val rebuilt = cat.localMultiIndex("rm")
    assert(refreshed.size === rebuilt.size)
    val meta = cat.getMeta("rm")
    for (q <- queries(4); np <- Seq(1, 4)) {
      def fq(w0: Double) = Seq(
        graft.ann.LocalMultiIndex.FieldQ("v0",
          GraftCatalog.prepareQueryVector(q, meta), w0),
        graft.ann.LocalMultiIndex.FieldQ("v1",
          GraftCatalog.prepareQueryVector(q.reverse, meta), 100.0 - w0))
      sameHits(refreshed.search(fq(60), 8, np), rebuilt.search(fq(60), 8, np))
    }
  }

  /** One rung under the randomized parity test: its collection layout,
    * the row shape it ingests, its loader and its search. */
  private case class RungCase(label: String, meta: CollectionMeta,
      shape: DataFrame => DataFrame,
      load: (GraftCatalog, Seq[String]) => graft.ann.LocalRung,
      search: (graft.ann.LocalRung, Array[Float], Int, Seq[(String, Any)]) => Seq[(AnyRef, Double)])

  private def rungCases: Seq[RungCase] = {
    import graft.ann._
    def ivf(label: String, quant: String) = RungCase(label,
      CollectionMeta("rr", dim = 4, distance = "euclidean", quantization = quant,
        fields = fields, ivfCells = Some(4), ivfTrainIterations = Some(0)),
      identity, (c, cols) => c.localIvfIndex("rr", cols),
      (r, q, np, f) => r.asInstanceOf[LocalIvfIndex].search(q, 10, np, eqFilter = f))
    Seq(ivf("ivf f32", "none"), ivf("ivf f16", "f16"),
      RungCase("residual pq", CollectionMeta("rr", dim = 8, distance = "euclidean",
        fields = fields, ivfCells = Some(4), ivfTrainIterations = Some(0),
        pqSubspaces = Some(4), pqCodewords = Some(8), pqTrainIterations = Some(1)),
        identity, (c, cols) => c.localPqIndex("rr", cols),
        (r, q, np, f) => r.asInstanceOf[LocalPqIndex].search(q, 10, np, eqFilter = f)),
      RungCase("bin", CollectionMeta("rr", dim = 4, distance = "euclidean",
        fields = fields, binaryIndex = Some(true)),
        identity, (c, cols) => c.localBinIndex("rr", cols),
        (r, q, _, f) => r.asInstanceOf[LocalBinIndex].search(q, 10, eqFilter = f)),
      RungCase("multi", CollectionMeta("rr", dim = 4, distance = "cosine",
        fields = Seq(IndexField("id", "string", primaryKey = true),
          IndexField("v0", "vector"), IndexField("v1", "vector")),
        ivfCells = Some(4), ivfTrainIterations = Some(0)),
        df => df.select(col("id"), col("vector").as("v0"), reverse(col("vector")).as("v1")),
        (c, _) => c.localMultiIndex("rr"),
        (r, q, np, _) => r.asInstanceOf[LocalMultiIndex].search(Seq(
          LocalMultiIndex.FieldQ("v0", q, 60), LocalMultiIndex.FieldQ("v1", q.reverse, 40)),
          10, np)))
  }

  test("randomized fold parity: random put/del segments, stepped and jumped") {
    // The deterministic fixtures above choose their mutations; this drives
    // the fold seam with SEEDED random segments — updates that move cells,
    // deletes of random survivors, re-inserts of deleted pks, fresh rows —
    // and pins fold == rebuild at EVERY window, both one-jump from v1 and
    // stepped segment-by-segment, on every rung (ivf f32 and f16, residual
    // pq, bin, multi) through the one refresh path, with filter columns
    // where the rung carries them.
    val rnd = new scala.util.Random(20260816L)
    for (rc <- rungCases) withClue(s"[${rc.label}] ") {
    val dim = rc.meta.dim
    def rvec() = Seq.tabulate(dim) { j =>
      // cluster-ish: one dominant axis + noise, so cells stay meaningful
      val axis = rnd.nextInt(4)
      (if (j % 4 == axis) 90f else 0f) + rnd.nextFloat() * 8f - 4f
    }
    def rrow(id: String) = (id, rnd.nextInt(7).toLong, s"t${rnd.nextInt(3)}", rvec())
    def rows(ids: Seq[String]) = rc.shape(ids.map(rrow).toDF("id", "grp", "tag", "vector"))
    val cat = new GraftCatalog(spark,
      Files.createTempDirectory("graft-lrefresh").toString)
    cat.createCollection(rc.meta)
    cat.loadCollection("rr")
    val meta = cat.getMeta("rr")
    val live = scala.collection.mutable.Set.empty[String]
    val dead = scala.collection.mutable.Set.empty[String]
    cat.insert("rr", rows((0 until 80).map(i => s"R$i")))
    live ++= (0 until 80).map(i => s"R$i")
    cat.flush("rr") // v1
    val cols = if (rc.meta.isMultiVector) Nil else Seq("grp", "tag")
    val base = rc.load(cat, cols)
    var stepped = base
    var fresh = 80
    for (seg <- 1 to 4) {
      // random UPDATES of survivors (new vector ⇒ the row may change cells)
      val upd = rnd.shuffle(live.toSeq).take(8)
      // random RE-INSERTS of previously deleted pks (tombstone must clear)
      val backs = rnd.shuffle(dead.toSeq).take(3)
      dead --= backs; live ++= backs
      // fresh pks
      val news = (0 until 5).map { _ => fresh += 1; s"R$fresh" }
      live ++= news
      cat.insert("rr", rows(upd ++ backs ++ news))
      // random DELETES (after the insert, so same-segment LWW is exercised:
      // a pk both put and deleted in one window resolves by sequence)
      val dels = rnd.shuffle(live.toSeq).take(6)
      live --= dels; dead ++= dels
      cat.delete("rr", FilterExpr.Or(dels.map(d =>
        Single("id", FilterExpr.Eq, d)).toList))
      cat.flushDelta("rr") // v(1+seg)
      val head = 1 + seg
      val rebuilt = rc.load(cat, cols)
      val (jumped, vj) = cat.refreshLocal("rr", base, 1, cols)
      val (s2, vs) = cat.refreshLocal("rr", stepped, head - 1, cols)
      stepped = s2
      assert(vj === head); assert(vs === head)
      assert(jumped.size === rebuilt.size)
      assert(stepped.size === rebuilt.size)
      assert(rebuilt.size === live.size.toLong)
      for (_ <- 0 until 3; np <- Seq(1, 2, 4)) {
        val q = GraftCatalog.prepareQueryVector(rvec().toArray, meta)
        sameHits(rc.search(jumped, q, np, Nil), rc.search(rebuilt, q, np, Nil))
        sameHits(rc.search(stepped, q, np, Nil), rc.search(rebuilt, q, np, Nil))
        val f = Seq("grp" -> rnd.nextInt(7).toLong)
        if (cols.nonEmpty)
          sameHits(rc.search(jumped, q, np, f), rc.search(rebuilt, q, np, f))
      }
    }
    }
  }

  test("the shared fold refuses a malformed put on every rung: stored-form " +
    "type, width, field count, meta-value count") {
    import graft.ann._
    val ivfCat = mkCat(CollectionMeta("mi", dim = 4, distance = "euclidean",
      fields = fields, ivfCells = Some(4), ivfTrainIterations = Some(0)), dim = 4)
    val pqCat = mkCat(CollectionMeta("mp", dim = 16, distance = "euclidean",
      fields = fields, ivfCells = Some(4), ivfTrainIterations = Some(0),
      pqSubspaces = Some(4), pqCodewords = Some(8), pqTrainIterations = Some(1)), dim = 16)
    val binCat = mkCat(CollectionMeta("mb", dim = 12, distance = "euclidean",
      fields = fields, binaryIndex = Some(true)), dim = 12)
    val multiCat = new GraftCatalog(spark,
      Files.createTempDirectory("graft-lrefresh").toString)
    multiCat.createCollection(CollectionMeta("mm", dim = 4, distance = "cosine",
      fields = Seq(IndexField("id", "string", primaryKey = true),
        IndexField("v0", "vector"), IndexField("v1", "vector")),
      ivfCells = Some(4), ivfTrainIterations = Some(0)))
    multiCat.loadCollection("mm")
    multiCat.insert("mm", clustered(4).select(col("id"), col("vector").as("v0"),
      reverse(col("vector")).as("v1")))
    multiCat.flush("mm")
    // (rung, a well-formed payload, its meta values, the wrong-type payload,
    // the wrong-width payload, the width rule the refusal names)
    val cases: Seq[(LocalRung, Seq[AnyRef], Seq[Any], Seq[AnyRef], Seq[AnyRef], String)] = Seq(
      (ivfCat.localIvfIndex("mi", Seq("grp", "tag")), Seq(new Array[Float](4)), Seq(1L, "x"),
        Seq(new Array[Short](4)), Seq(new Array[Float](5)), "index dim is 4"),
      (pqCat.localPqIndex("mp", Seq("grp")), Seq(new Array[Byte](4)), Seq(1L),
        Seq(new Array[Float](4)), Seq(new Array[Byte](3)), "layout m=4"),
      (binCat.localBinIndex("mb", Seq("tag")), Seq(new Array[Byte](2)), Seq("x"),
        Seq(new Array[Short](2)), Seq(new Array[Byte](1)), "ceil(12/8)=2"),
      (multiCat.localMultiIndex("mm"), Seq(new Array[Float](4), new Array[Float](4)), Nil,
        Seq(new Array[Float](4), new Array[Byte](4)),
        Seq(new Array[Float](4), new Array[Float](3)), "declared 4"))
    val none = new java.util.HashSet[AnyRef]()
    for ((rung, good, mv, wrongType, wrongWidth, rule) <- cases) withClue(s"$rung ") {
      def refusal(payload: Seq[AnyRef], metaValues: Seq[Any]): String =
        intercept[IllegalArgumentException](rung.applyChanges(none,
          Seq(LocalRung.Put("P1", 0L, payload, metaValues)))).getMessage
      // the well-formed put folds, so each refusal below is its defect alone
      assert(rung.applyChanges(none, Seq(LocalRung.Put("P1", 0L, good, mv))).size ===
        rung.size + 1)
      assert(refusal(wrongType, mv).contains("does not match index quantization"))
      assert(refusal(wrongWidth, mv).contains(rule))
      assert(refusal(good :+ good.head, mv).contains(s"expected ${good.length} stored fields"))
      assert(refusal(good, mv :+ 7L).contains(s"expected ${mv.length} meta values"))
    }
  }

  test("filter-column drift refuses loudly instead of mis-aligning meta") {
    val cat = mkCat(CollectionMeta("rf", dim = 4, distance = "euclidean",
      fields = fields, ivfCells = Some(4), ivfTrainIterations = Some(0)), dim = 4)
    val prev = cat.localIvfIndex("rf", Seq("grp"))
    mutate(cat, "rf", dim = 4)
    val ex = intercept[IllegalArgumentException](
      cat.refreshLocalIvfIndex("rf", prev, 1, Seq("tag")))
    assert(ex.getMessage.contains("do not match"))
  }
}
