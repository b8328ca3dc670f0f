package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.collection._
import graft.operators.MultiVectorSearch.FieldQuery

/** Driver-local multi-vector (CFLAT) serving rung: in-process probes over
  * the routed IVF layout agree with the distributed searchMultiIvf —
  * ranking parity at the same nprobe, delta-chain folding at load, the
  * refusal contract, and the point-latency claim. */
class LocalMultiIndexSpec extends SparkSpec {
  import spark.implicits._

  /** Same 4-cluster fixture as MultiIvfSpec: v0 routes, v1 is the reversed
    * cluster pattern. */
  private def clustered = {
    val centers = Seq(
      Array(0f, 0f, 100f, 0f), Array(100f, 0f, 0f, 0f),
      Array(0f, 100f, 0f, 0f), Array(0f, 0f, 0f, 100f))
    val rows = centers.zipWithIndex.flatMap { case (c, ci) =>
      val c1 = centers(3 - ci)
      (s"A$ci", c.toSeq, c1.toSeq) +: (1 until 40).map { j =>
        (s"B${ci}_$j",
          c.map(x => x + (j % 7) - 3f).toSeq,
          c1.map(x => x + (j % 5) - 2f).toSeq)
      }
    }
    rows.toDF("id", "v0", "v1")
  }

  private def mkCat(quant: String = "none", distance: String = "euclidean") = {
    val cat = new GraftCatalog(spark, Files.createTempDirectory("graft-lmv").toString)
    cat.createCollection(CollectionMeta("lmv", dim = 4, distance = distance,
      quantization = quant,
      fields = Seq(
        IndexField("id", "string", primaryKey = true),
        IndexField("v0", "vector"),
        IndexField("v1", "vector")),
      ivfCells = Some(4)))
    cat.loadCollection("lmv")
    cat.insert("lmv", clustered)
    cat.flush("lmv")
    cat
  }

  private def fq(q0: Array[Float], q1: Array[Float]) = Seq(
    FieldQuery("v0", q0, ratio = 60), FieldQuery("v1", q1, ratio = 40))

  private def localQ(q0: Array[Float], q1: Array[Float]) = Seq(
    graft.ann.LocalMultiIndex.FieldQ("v0", q0, 60),
    graft.ann.LocalMultiIndex.FieldQ("v1", q1, 40))

  private def distributed(cat: GraftCatalog, q0: Array[Float], q1: Array[Float],
                          topK: Int, nprobe: Int) =
    cat.searchMultiIvf("lmv", fq(q0, q1), topK, nprobe).collect()
      .map(r => (r.getAs[String]("id"), r.getAs[Double]("score"))).toSeq

  test("local probe equals distributed searchMultiIvf at every nprobe") {
    val cat = mkCat()
    val idx = cat.localMultiIndex("lmv")
    assert(idx.size === 160L)
    assert(idx.cellCount === 4)
    assert(idx.routingField === "v0")
    val q0 = Array(100f, 1f, 0f, 0f)
    val q1 = Array(0f, 99f, 1f, 0f)
    for (np <- 1 to 4) {
      val local = idx.search(localQ(q0, q1), topK = 10, nprobe = np)
        .map { case (id, s) => (id.toString, s) }
      val dist = distributed(cat, q0, q1, topK = 10, nprobe = np)
      assert(local === dist, s"nprobe=$np")
    }
  }

  test("f16 storage: local index decodes stored fields; parity with the distributed probe") {
    val cat = mkCat(quant = "f16")
    val idx = cat.localMultiIndex("lmv")
    val q0raw = Array(100f, 1f, 0f, 0f)
    val q1raw = Array(0f, 99f, 1f, 0f)
    // local rung takes PRE-PREPARED queries (the quantize round-trip the
    // distributed path applies inside prepareMultiFields)
    val meta = cat.getMeta("lmv")
    val q0 = GraftCatalog.prepareQueryVector(q0raw, meta)
    val q1 = GraftCatalog.prepareQueryVector(q1raw, meta)
    val local = idx.search(localQ(q0, q1), topK = 10, nprobe = 4)
      .map { case (id, s) => (id.toString, s) }
    val dist = distributed(cat, q0raw, q1raw, topK = 10, nprobe = 4)
    assert(local === dist)
  }

  test("bf16 storage: short-resident index, parity with the distributed probe") {
    val cat = mkCat(quant = "bf16")
    val idx = cat.localMultiIndex("lmv")
    val q0raw = Array(100f, 1f, 0f, 0f)
    val q1raw = Array(0f, 99f, 1f, 0f)
    val meta = cat.getMeta("lmv")
    val q0 = GraftCatalog.prepareQueryVector(q0raw, meta)
    val q1 = GraftCatalog.prepareQueryVector(q1raw, meta)
    val local = idx.search(localQ(q0, q1), topK = 10, nprobe = 4)
      .map { case (id, s) => (id.toString, s) }
    assert(local === distributed(cat, q0raw, q1raw, topK = 10, nprobe = 4))
  }

  test("f8 storage: byte-resident index, parity with the distributed probe") {
    val cat = mkCat(quant = "f8")
    val idx = cat.localMultiIndex("lmv")
    val q0raw = Array(100f, 1f, 0f, 0f)
    val q1raw = Array(0f, 99f, 1f, 0f)
    val meta = cat.getMeta("lmv")
    val q0 = GraftCatalog.prepareQueryVector(q0raw, meta)
    val q1 = GraftCatalog.prepareQueryVector(q1raw, meta)
    val local = idx.search(localQ(q0, q1), topK = 10, nprobe = 4)
      .map { case (id, s) => (id.toString, s) }
    assert(local === distributed(cat, q0raw, q1raw, topK = 10, nprobe = 4))
  }

  test("delta chain folds at load: a moved routing vector serves from its new cell") {
    val cat = mkCat()
    cat.insert("lmv", Seq(("B0_1", Seq(99f, 1f, 0f, 0f), Seq(1f, 99f, 0f, 1f)))
      .toDF("id", "v0", "v1"))
    cat.flushDelta("lmv")
    val idx = cat.localMultiIndex("lmv")
    assert(idx.size === 160L) // the put struck its stale base row
    val q0 = Array(100f, 0f, 0f, 0f)
    val q1 = Array(0f, 100f, 0f, 0f)
    val oneCell = idx.search(localQ(q0, q1), topK = 40, nprobe = 1)
      .map(_._1.toString)
    assert(oneCell.contains("B0_1"))
    assert(oneCell.count(_ == "B0_1") === 1)
    // and full-probe parity with the distributed fold
    val local = idx.search(localQ(q0, q1), topK = 10, nprobe = 4)
      .map { case (id, s) => (id.toString, s) }
    assert(local === distributed(cat, q0, q1, topK = 10, nprobe = 4))
  }

  test("randomized parity: 40 random queries at random nprobe — local == distributed") {
    val cat = mkCat()
    val idx = cat.localMultiIndex("lmv")
    val rnd = new scala.util.Random(42)
    for (i <- 1 to 40) {
      val q0 = Array.fill(4)(rnd.nextFloat() * 200 - 50)
      val q1 = Array.fill(4)(rnd.nextFloat() * 200 - 50)
      val np = 1 + rnd.nextInt(4)
      val local = idx.search(localQ(q0, q1), topK = 7, nprobe = np)
        .map { case (id, s) => (id.toString, s) }
      val dist = distributed(cat, q0, q1, topK = 7, nprobe = np)
      assert(local === dist, s"query $i, nprobe=$np")
    }
  }

  // The euclidean fixtures above exercise the shared ranking machinery; the
  // remaining risk is the metric kernels themselves — the local scan must
  // match the codegen kernels at the ulp level or near-ties reorder above the
  // 2e-8 rank window. Pin cosine and dot with the same randomized discipline.
  for (metric <- Seq("cosine", "dot")) {
    test(s"$metric metric: randomized local-vs-distributed parity") {
      val cat = mkCat(distance = metric)
      val idx = cat.localMultiIndex("lmv")
      val meta = cat.getMeta("lmv")
      val rnd = new scala.util.Random(7)
      for (i <- 1 to 25) {
        val q0 = Array.fill(4)(rnd.nextFloat() * 200 - 50)
        val q1 = Array.fill(4)(rnd.nextFloat() * 200 - 50)
        val np = 1 + rnd.nextInt(4)
        // local rung takes PRE-PREPARED queries (cosine normalizes)
        val p0 = GraftCatalog.prepareQueryVector(q0, meta)
        val p1 = GraftCatalog.prepareQueryVector(q1, meta)
        val local = idx.search(localQ(p0, p1), topK = 7, nprobe = np)
          .map { case (id, s) => (id.toString, s) }
        val dist = distributed(cat, q0, q1, topK = 7, nprobe = np)
        assert(local === dist, s"metric=$metric query $i, nprobe=$np")
      }
    }
  }

  test("refusals: unknown field, bad dim, missing routing query, bad ratios") {
    val cat = mkCat()
    val idx = cat.localMultiIndex("lmv")
    val q = Array(1f, 0f, 0f, 0f)
    assert(intercept[IllegalArgumentException] {
      idx.search(Seq(graft.ann.LocalMultiIndex.FieldQ("nope", q, 100)), 5, 1)
    }.getMessage.contains("not a declared vector field"))
    assert(intercept[IllegalArgumentException] {
      idx.search(Seq(graft.ann.LocalMultiIndex.FieldQ("v0", Array(1f), 100)), 5, 1)
    }.getMessage.contains("dimension mismatch"))
    assert(intercept[IllegalArgumentException] {
      idx.search(Seq(graft.ann.LocalMultiIndex.FieldQ("v1", q, 100)), 5, 1)
    }.getMessage.contains("routing field"))
    assert(intercept[IllegalArgumentException] {
      idx.search(localQ(q, q).map(f => f.copy(ratio = 30)), 5, 1)
    }.getMessage.contains("sum to 100"))
    // single-vector collections refuse the loader
    val sc = new GraftCatalog(spark, Files.createTempDirectory("graft-lmv-sv").toString)
    sc.createCollection(CollectionMeta("sv", dim = 4, distance = "euclidean",
      fields = Seq(IndexField("id", "string", primaryKey = true)), ivfCells = Some(2)))
    assert(intercept[IllegalArgumentException] {
      sc.localMultiIndex("sv")
    }.getMessage.contains("single-vector"))
  }

  test("NaN routing query probes nothing (empty result, no filler cells)") {
    val cat = mkCat()
    val idx = cat.localMultiIndex("lmv")
    val nan = Array(Float.NaN, 0f, 0f, 0f)
    assert(idx.search(localQ(nan, nan), topK = 5, nprobe = 2) === Seq.empty)
  }

  test("point latency: in-process probe far below the Spark dispatch floor") {
    val cat = mkCat()
    val idx = cat.localMultiIndex("lmv")
    val q0 = Array(100f, 1f, 0f, 0f)
    val q1 = Array(0f, 99f, 1f, 0f)
    (1 to 50).foreach(_ => idx.search(localQ(q0, q1), 10, 2)) // warm
    val n = 500
    val t0 = System.nanoTime()
    (1 to n).foreach(_ => idx.search(localQ(q0, q1), 10, 2))
    val perQ = (System.nanoTime() - t0) / 1e6 / n
    info(f"local multi probe: $perQ%.3f ms/query at n=${idx.size} (sf fixture)")
    assert(perQ < 5.0, f"$perQ%.3f ms — an in-process probe must stay far below the ~40 ms job floor")
  }
}
