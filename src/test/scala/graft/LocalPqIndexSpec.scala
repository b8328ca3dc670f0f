package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.collection.{CollectionMeta, GraftCatalog, IndexField}

/** Driver-local ADC serving index: agreement with the distributed ADC scan
  * (`searchPq(rerank = false)`) on both layouts (cells-less PQ and IVF-PQ
  * residual), the memory claim (m bytes per vector resident), and the
  * no-layout contract errors. */
class LocalPqIndexSpec extends SparkSpec {

  import spark.implicits._

  private def newCatalog() =
    new GraftCatalog(spark, Files.createTempDirectory("graft-lpq").toString)

  private def fixtureRows(n: Int, dim: Int) =
    (0 until n).map { i =>
      val v = Array.tabulate(dim)(j => ((i * 31 + j * 7) % 13 - 6).toFloat / 6f)
      (f"$i%03d", i, v.toSeq)
    }.toDF("id", "label", "vector")

  private def pqMeta(name: String, ivf: Option[Int]) =
    CollectionMeta(name, dim = 16, distance = "euclidean",
      fields = Seq(
        IndexField("id", "string", primaryKey = true),
        IndexField("label", "integer")),
      ivfCells = ivf,
      pqSubspaces = Some(4), pqCodewords = Some(8), pqTrainIterations = Some(1))

  private def build(name: String, ivf: Option[Int]) = {
    val cat = newCatalog()
    cat.createCollection(pqMeta(name, ivf))
    cat.loadCollection(name)
    cat.insert(name, fixtureRows(60, 16))
    cat.flush(name)
    cat
  }

  private def q(i: Int): Array[Float] =
    fixtureRows(i + 1, 16).where(col("label") === i)
      .select("vector").head().getSeq[Float](0).toArray

  test("cells-less layout: local ADC ranking == searchPq(rerank=false)") {
    val cat = build("flatpq", ivf = None)
    val idx = cat.localPqIndex("flatpq")
    assert(idx.size === 60)
    assert(idx.codeBytes === 60L * 4) // m bytes per vector resident
    val query = q(7)
    val local = idx.search(query, topK = 10, nprobe = 1)
      .map { case (id, d) => (id.toString, graft.functions.DistKernels.round6(d)) }
    val dist = cat.searchPq("flatpq", query, topK = 10, rerank = false)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(local === dist)
  }

  test("IVF-PQ residual layout: full probe == searchPq(rerank=false); tight probe == probed searchPq") {
    val cat = build("ivfpq", ivf = Some(4))
    val idx = cat.localPqIndex("ivfpq")
    assert(idx.cellCount === 4)
    val query = q(3)
    val localAll = idx.search(query, topK = 10, nprobe = 4)
      .map { case (id, d) => (id.toString, graft.functions.DistKernels.round6(d)) }
    val distAll = cat.searchPq("ivfpq", query, topK = 10, rerank = false)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(localAll === distAll)
    val local1 = idx.search(query, topK = 10, nprobe = 1)
      .map { case (id, d) => (id.toString, graft.functions.DistKernels.round6(d)) }
    val dist1 = cat.searchPq("ivfpq", query, topK = 10, rerank = false, nprobe = Some(1))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(local1 === dist1)
  }

  // r12: the PQ rung serves the reference's EQ fast path like the IVF and
  // binary local rungs — survivors skip BEFORE the ADC loop, parity with
  // the distributed filtered pass over the same snapshot
  for (ivf <- Seq(None, Some(4))) {
    test(s"EQ-filtered local ADC equals searchPq(rerank=false, filter), ivf=$ivf") {
      val name = s"fpq${ivf.fold("flat")(_.toString)}"
      val cat = newCatalog()
      cat.createCollection(pqMeta(name, ivf))
      cat.loadCollection(name)
      // label = i % 5 → 12 survivors per class, spread across cells
      cat.insert(name, fixtureRows(60, 16)
        .withColumn("label", (col("label") % 5).cast("int")))
      cat.flush(name)
      val idx = cat.localPqIndex(name, filterColumns = Seq("label"))
      assert(idx.filterableColumns === Set("label"))
      val query = q(5)
      val np = ivf.getOrElse(1)
      val f = FilterExpr.Single("label", FilterExpr.Eq, 2L)
      val local = idx.search(query, topK = 8, nprobe = np, eqFilter = Seq("label" -> 2L))
        .map { case (id, d) => (id.toString, graft.functions.DistKernels.round6(d)) }
      val dist = cat.searchPq(name, query, topK = 8, rerank = false,
          nprobe = ivf.map(_ => np), filter = Some(f))
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(local === dist, s"local $local vs distributed $dist")
      // pruned probe on the IVF layout: the filter must not change WHICH
      // cells are probed — parity holds at nprobe=1 too
      if (ivf.isDefined) {
        val l1 = idx.search(query, topK = 8, nprobe = 1, eqFilter = Seq("label" -> 2L))
          .map { case (id, d) => (id.toString, graft.functions.DistKernels.round6(d)) }
        val d1 = cat.searchPq(name, query, topK = 8, rerank = false,
            nprobe = Some(1), filter = Some(f))
          .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
        assert(l1 === d1, s"nprobe=1: local $l1 vs distributed $d1")
      }
      // a draining filter returns empty, never errors
      assert(idx.search(query, 5, np, Seq("label" -> 999L)).isEmpty)
      // loud refusals: unknown column; bare index (no typed store); bad type
      assert(intercept[IllegalArgumentException](
        idx.search(query, 5, np, Seq("nope" -> 1L))).getMessage.contains("not loaded"))
      val bare = cat.localPqIndex(name)
      assert(intercept[IllegalArgumentException](
        bare.search(query, 5, np, Seq("label" -> 2L))).getMessage.contains("filterColumns"))
      assert(intercept[IllegalArgumentException](
        idx.search(query, 5, np, Seq("label" -> "seven"))).getMessage.contains("cannot compare"))
    }
  }

  test("contracts: no PQ layout / empty collection / dimension mismatch") {
    val cat = newCatalog()
    cat.createCollection(CollectionMeta("plain", dim = 16, distance = "euclidean",
      fields = Seq(IndexField("id", "string", primaryKey = true))))
    cat.loadCollection("plain")
    cat.insert("plain", fixtureRows(5, 16).select("id", "vector"))
    cat.flush("plain")
    val ex = intercept[IllegalArgumentException](cat.localPqIndex("plain"))
    assert(ex.getMessage.contains("no PQ layout"))
    cat.createCollection(pqMeta("empty", ivf = None))
    cat.loadCollection("empty")
    cat.flush("empty")
    val ex2 = intercept[IllegalArgumentException](cat.localPqIndex("empty"))
    assert(ex2.getMessage.contains("flushed empty"))
    val cat2 = build("dimchk", ivf = None)
    val idx = cat2.localPqIndex("dimchk")
    val ex3 = intercept[IllegalArgumentException](idx.search(Array.fill(8)(0f), 5, 1))
    assert(ex3.getMessage.contains("dimension mismatch"))
    // topK=0 is a contract error, not an NPE (it reached the HTTP route
    // as a 500 before the guard)
    val ex4 = intercept[IllegalArgumentException](idx.search(q(0), topK = 0, nprobe = 1))
    assert(ex4.getMessage.contains("topK"))
  }
}
