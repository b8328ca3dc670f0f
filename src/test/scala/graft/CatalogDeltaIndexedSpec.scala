package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.FilterExpr._
import graft.collection._

/** Delta flushes on INDEXED collections (r9 verdict #1): put rows encoded
  * against the base's persisted sidecars at segment-write time (no
  * retrain), index rungs fold base + segments at read, compaction
  * reproduces the same answers, ingest stays O(batch), and the base scan
  * keeps its partition-directory pruning under the fold.
  *
  * Determinism setup: ivfTrainIterations=0 / pqTrainIterations=0 pin every
  * sidecar to the pk-smallest-seed construction, and the mutation batches
  * never touch a seed row (A0..A3 centroid seeds, the 8 pk-smallest
  * residual-codebook rows — all A- and B0_1x-named) nor a per-dim extreme (binary
  * midrange thresholds), so the compacting full flush retrains to
  * IDENTICAL sidecars and chain == compaction is exact, not approximate. */
class CatalogDeltaIndexedSpec extends SparkSpec {
  import spark.implicits._

  /** 4 well-separated clusters of 50 points each (IvfCatalogSpec's shape,
    * plus a `grp` field = j % 7 the delete predicates key on; A rows get
    * grp = -1 so they are never deleted). */
  private def clustered: DataFrame = {
    val centers = Seq(
      Array(0f, 0f, 100f, 0f), Array(100f, 0f, 0f, 0f),
      Array(0f, 100f, 0f, 0f), Array(0f, 0f, 0f, 100f))
    val rows = centers.zipWithIndex.flatMap { case (c, ci) =>
      (s"A$ci", -1L, c.toSeq) +: (1 until 50).map { j =>
        (s"B${ci}_$j", (j % 7).toLong, c.map(x => x + (j % 7) - 3f).toSeq)
      }
    }
    rows.toDF("id", "grp", "vector")
  }

  private val fields = Seq(
    IndexField("id", "string", primaryKey = true),
    IndexField("grp", "integer"))

  private def mkCat(m: CollectionMeta): GraftCatalog = {
    val cat = new GraftCatalog(spark,
      Files.createTempDirectory("graft-dix").toString)
    cat.createCollection(m)
    cat.loadCollection(m.name)
    cat.insert(m.name, clustered)
    cat.flush(m.name) // v1: the indexed base whose sidecars the deltas extend
    cat
  }

  /** Two mutation batches → two delta segments (a real chain, not one):
    * cluster-1 rows with grp 3 MOVE to cluster 2's center (cell migration),
    * grp-2 rows are deleted everywhere, five fresh rows land in cluster 3.
    * None of this touches a seed row or a per-dim extreme (grp 3 ↦ offset
    * 0, grp 2 ↦ offset −1; extremes are offsets ±3). */
  private def mutate(cat: GraftCatalog, name: String): Unit = {
    cat.insert(name, clustered.where(col("id").startsWith("B1_") && col("grp") === 3)
      .select(col("id"), col("grp"),
        typedlit(Seq(0f, 100f, 0f, 0f)).as("vector")))
    cat.flushDelta(name) // v2
    cat.delete(name, Single("grp", FilterExpr.Eq, 2L))
    cat.insert(name, (200 to 204).map(i =>
      (s"C$i", 9L, Seq(0f, 99f, 1f, 0f))).toDF("id", "grp", "vector"))
    cat.flushDelta(name) // v3
  }

  private def fmt(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  test("searchIvf over a delta chain == exact search == compaction") {
    val cat = mkCat(CollectionMeta("dix", dim = 4, distance = "euclidean",
      fields = fields, ivfCells = Some(4), ivfTrainIterations = Some(0)))
    mutate(cat, "dix")
    val qv = Array(0f, 98f, 2f, 0f)
    // nprobe = all cells → recall 1 by construction: ids+dists must equal
    // the exact resident search (which holds the same folded state)
    val chainAll = cat.searchIvf("dix", qv, topK = 8, nprobe = 4)
      .select("id", "dist")
    val exact = cat.search("dix", qv, topK = 8).select("id", "dist")
    assert(fmt(chainAll) === fmt(exact))
    val chain1 = fmt(cat.searchIvf("dix", qv, topK = 8, nprobe = 1))
    // moved rows surface in their NEW cell; C-inserts are in cluster 2's cell
    assert(chain1.exists(_.contains("C200")))
    // compaction (full flush) retrains to the same seeds → same answers
    cat.flush("dix") // v4
    assert(fmt(cat.searchIvf("dix", qv, topK = 8, nprobe = 1)) === chain1)
  }

  test("a cell-moving put strikes its stale base row even in the OLD cell") {
    val cat = mkCat(CollectionMeta("dmv", dim = 4, distance = "euclidean",
      fields = fields, ivfCells = Some(4), ivfTrainIterations = Some(0)))
    // B1_3 lives in cluster 1 (cell of A1); move it to cluster 2's center
    cat.insert("dmv", Seq(("B1_3", 3L, Seq(0f, 100f, 0f, 0f)))
      .toDF("id", "grp", "vector"))
    cat.flushDelta("dmv")
    // probing ONLY the old cell must not resurrect the stale base row
    val oldCellIds = cat.searchIvf("dmv", Array(100f, 0f, 0f, 0f), topK = 50, nprobe = 1)
      .select("id").collect().map(_.getString(0)).toSet
    assert(!oldCellIds.contains("B1_3"))
    // probing the new cell finds it at its new vector — dist 0 to the
    // center, tied with A2 (the center row itself, which wins the id tie)
    val newCell = cat.searchIvf("dmv", Array(0f, 100f, 0f, 0f), topK = 2, nprobe = 1)
      .collect().map(r => (r.getString(0), r.getDouble(2))).toSeq
    assert(newCell === Seq(("A2", 0.0), ("B1_3", 0.0)))
  }

  test("searchBatch folds the chain (== compaction)") {
    val cat = mkCat(CollectionMeta("dbt", dim = 4, distance = "euclidean",
      fields = fields, ivfCells = Some(4), ivfTrainIterations = Some(0)))
    mutate(cat, "dbt")
    val qs = Seq("q0" -> Array(0f, 98f, 2f, 0f), "q1" -> Array(100f, 0f, 0f, 0f))
    val chain = fmt(cat.searchBatch("dbt", qs, topK = 5, nprobe = 2)
      .orderBy("qid", "rn"))
    assert(chain.nonEmpty)
    cat.flush("dbt")
    assert(fmt(cat.searchBatch("dbt", qs, topK = 5, nprobe = 2)
      .orderBy("qid", "rn")) === chain)
  }

  test("residual IVF-PQ chain: delta codes use the base codebook; == compaction") {
    val cat = mkCat(CollectionMeta("dpq", dim = 4, distance = "euclidean",
      fields = fields, ivfCells = Some(4), ivfTrainIterations = Some(0),
      pqSubspaces = Some(2), pqCodewords = Some(8), pqTrainIterations = Some(0)))
    mutate(cat, "dpq")
    val qv = Array(0f, 98f, 2f, 0f)
    val adcChain = fmt(cat.searchPq("dpq", qv, topK = 8, rerank = false))
    val rrChain = fmt(cat.searchPq("dpq", qv, topK = 8, rerank = true,
      nprobe = Some(2)))
    // rerank distances are EXACT over the folded vectors — the moved/new
    // rows must appear at their true distances
    assert(rrChain.exists(_.contains("C200")))
    cat.flush("dpq") // compaction retrains to identical seeds
    assert(fmt(cat.searchPq("dpq", qv, topK = 8, rerank = false)) === adcChain)
    assert(fmt(cat.searchPq("dpq", qv, topK = 8, rerank = true,
      nprobe = Some(2))) === rrChain)
  }

  test("binary chain: delta codes use the base thresholds; == compaction") {
    val cat = mkCat(CollectionMeta("dbn", dim = 4, distance = "euclidean",
      fields = fields, binaryIndex = Some(true)))
    mutate(cat, "dbn")
    val qv = Array(0f, 98f, 2f, 0f)
    val chain = fmt(cat.searchBinary("dbn", qv, topK = 8))
    // deleted rows (grp 2 → e.g. B2_2) must not survive the Hamming pass
    val chainIds = cat.searchBinary("dbn", qv, topK = 8)
      .select("id").collect().map(_.getString(0)).toSet
    assert(!chainIds.contains("B2_2"))
    cat.flush("dbn") // midrange thresholds unchanged (extremes untouched)
    assert(fmt(cat.searchBinary("dbn", qv, topK = 8)) === chain)
  }

  test("all three layouts + f16 storage compose on one chain; local indexes fold") {
    val cat = mkCat(CollectionMeta("dall", dim = 4, distance = "euclidean",
      quantization = "f16", fields = fields,
      ivfCells = Some(4), ivfTrainIterations = Some(0),
      pqSubspaces = Some(2), pqCodewords = Some(8), pqTrainIterations = Some(0),
      binaryIndex = Some(true)))
    mutate(cat, "dall")
    val qv = Array(0f, 98f, 2f, 0f)
    val ivf = fmt(cat.searchIvf("dall", qv, topK = 8, nprobe = 4))
    val pq = fmt(cat.searchPq("dall", qv, topK = 8))
    val bin = fmt(cat.searchBinary("dall", qv, topK = 8))
    // driver-local serving indexes load the FOLDED state
    val localIvf = cat.localIvfIndex("dall")
    val got = localIvf.search(qv, topK = 8, nprobe = 4).map(_._1).toSeq
    assert(got.contains("C200"))
    cat.flush("dall")
    assert(fmt(cat.searchIvf("dall", qv, topK = 8, nprobe = 4)) === ivf)
    assert(fmt(cat.searchPq("dall", qv, topK = 8)) === pq)
    assert(fmt(cat.searchBinary("dall", qv, topK = 8)) === bin)
  }

  test("segments stay O(batch) and carry the encoded layout columns") {
    // flush and flushDelta share one encode recipe per layout column: a
    // base row re-put with unchanged content encodes to the SAME cell,
    // residual PQ code and sign code in the segment as in the full
    // snapshot — on f32 and on f16 storage (the recipes read the decoded
    // vector)
    val reput = Seq("B0_2", "B1_5", "B3_6")
    for (quant <- Seq("none", "f16")) {
      val root = Files.createTempDirectory("graft-dix-sz").toString
      val cat = new GraftCatalog(spark, root)
      cat.createCollection(CollectionMeta("dsz", dim = 4, distance = "euclidean",
        fields = fields, ivfCells = Some(4), ivfTrainIterations = Some(0),
        pqSubspaces = Some(2), pqCodewords = Some(8), pqTrainIterations = Some(0),
        binaryIndex = Some(true), quantization = quant))
      cat.loadCollection("dsz")
      cat.insert("dsz", clustered)
      cat.flush("dsz")
      cat.insert("dsz", Seq(("B1_3", 3L, Seq(0f, 100f, 0f, 0f)))
        .toDF("id", "grp", "vector"))
      cat.delete("dsz", Single("id", FilterExpr.Eq, "B2_4"))
      cat.insert("dsz", clustered.where(col("id").isin(reput: _*)))
      cat.flushDelta("dsz")
      val seg = spark.read.parquet(s"$root/dsz/v2")
      // O(batch): exactly the ledger rows, not the corpus
      assert(seg.count() === 2 + reput.size, quant)
      val put = seg.where(col("id") === "B1_3").collect().head
      val del = seg.where(col(GraftCatalog.DeltaOpCol) === "del").collect().head
      for (c <- Seq(GraftCatalog.CellCol, GraftCatalog.PqCodeCol, GraftCatalog.BinCol)) {
        assert(!put.isNullAt(put.fieldIndex(c)), s"put row must carry $c ($quant)")
        assert(del.isNullAt(del.fieldIndex(c)), s"del marker must not carry $c ($quant)")
      }
      // the put's encoded cell is cluster 2's (where the vector moved)
      val base = spark.read.parquet(s"$root/dsz/v1")
      val a2cell = base.where(col("id") === "A2").select(GraftCatalog.CellCol)
        .collect().head.getInt(0)
      assert(put.getInt(put.fieldIndex(GraftCatalog.CellCol)) === a2cell, quant)
      // the re-put rows carry the base snapshot's layout bytes exactly
      assert(spark.read.parquet(s"$root/dsz/v1_pq").select("residual").distinct()
        .collect().map(_.getBoolean(0)).toSeq === Seq(true), "the PQ layout must be residual")
      def layout(df: DataFrame): Set[String] = df.where(col("id").isin(reput: _*))
        .select(concat_ws("|", col("id"), col(GraftCatalog.CellCol).cast("string"),
          hex(col(GraftCatalog.PqCodeCol)), hex(col(GraftCatalog.BinCol))))
        .collect().map(_.getString(0)).toSet
      assert(layout(seg).size === reput.size)
      assert(layout(seg) === layout(base), quant)
    }
  }

  test("base partition pruning survives the fold (the 100 TB property)") {
    val cat = mkCat(CollectionMeta("dpr", dim = 4, distance = "euclidean",
      fields = fields, ivfCells = Some(4), ivfTrainIterations = Some(0)))
    mutate(cat, "dpr")
    val df = cat.searchIvf("dpr", Array(100f, 0f, 0f, 0f), topK = 5, nprobe = 1)
    val scans = df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
    val baseScans = scans.filter(
      _.relation.location.rootPaths.exists(_.toString.contains("/v1")))
    assert(baseScans.nonEmpty, "the folded plan must still scan the base snapshot")
    // nprobe=1 of 4 cells → exactly one partition directory of the base read
    val cellsRead = baseScans.flatMap(_.selectedPartitions.toPartitionArray
      .map(_.urlEncodedPath).filter(_.contains("__cell="))
      .map(_.split("__cell=")(1).split("/")(0))).distinct
    assert(cellsRead.length === 1,
      s"base scan read partition dirs $cellsRead, wanted exactly 1 of 4")
  }

  test("CDC and resident folds strip the layout columns") {
    val cat = mkCat(CollectionMeta("dcd", dim = 4, distance = "euclidean",
      fields = fields, ivfCells = Some(4), ivfTrainIterations = Some(0),
      versioning = true))
    mutate(cat, "dcd")
    val cdc = cat.changeLogBetween("dcd", 1, 3)
    for (c <- Seq(GraftCatalog.CellCol, GraftCatalog.PqCodeCol, GraftCatalog.BinCol))
      assert(!cdc.columns.contains(c), s"CDC leaked layout column $c")
    assert(cdc.where(col("op") === "put").count() > 0)
    val expected = cat.resident("dcd").select("id", "grp").collect()
      .map(_.toString).toSet
    cat.releaseCollection("dcd")
    val reloaded = cat.loadCollection("dcd") // folds v1 + v2 + v3
    for (c <- Seq(GraftCatalog.CellCol, GraftCatalog.PqCodeCol, GraftCatalog.BinCol))
      assert(!reloaded.columns.contains(c), s"resident fold leaked $c")
    assert(reloaded.select("id", "grp").collect().map(_.toString).toSet === expected)
    // timeTravel to the mid-chain version folds v1 + v2 only
    assert(cat.timeTravel("dcd", 2).where(col("id") === "C200").isEmpty)
  }
}
