package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ann.{Ann, LocalIvfIndex}
import graft.collection._

/** Driver-local IVF serving: correctness vs the distributed probe and the
  * exact scan, catalog round trip, and the point-latency contract the
  * distributed path cannot meet (no Spark job per query). */
class LocalIvfIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()

  test("local probe matches the distributed ivfSearch over the same layout") {
    val cents = (0 until 8).map(i =>
      (i.toLong, emb.where(col("vec_id") === i * 3).head().getSeq[Float](1).toArray)).toSeq
    val assigned = Ann.ivfAssign(emb, "vec_id", "embedding", cents, "euclidean")
    val idx = LocalIvfIndex.fromAssigned(assigned, "vec_id", "embedding", cents, "euclidean")
    assert(idx.size === emb.count())
    val q = emb.where(col("vec_id") === 5).head().getSeq[Float](1).toArray
    val local = idx.search(q, topK = 10, nprobe = 4)
      .map { case (id, d) => (id.asInstanceOf[Long], math.rint(d * 1e6) / 1e6) }
    val distributed = Ann.ivfSearch(assigned, "vec_id", "embedding", cents, q,
        nprobe = 4, k = 10, "euclidean")
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("dist"))).toSeq
    assert(local.map(_._1) === distributed.map(_._1))
  }

  test("catalog round trip: flush(ivfCells) -> localIvfIndex serves the snapshot") {
    val cat = new GraftCatalog(spark, Files.createTempDirectory("graft-lidx").toString)
    cat.createCollection(CollectionMeta("l", dim = 4, distance = "euclidean",
      fields = Seq(IndexField("id", "string", primaryKey = true)),
      ivfCells = Some(4)))
    cat.loadCollection("l")
    val rows = (0 until 100).map { i =>
      (s"id-$i", Seq(i.toFloat, (i % 7).toFloat, (i % 13).toFloat, 1f))
    }
    cat.insert("l", rows.toDF("id", "vector"))
    cat.flush("l")
    val idx = cat.localIvfIndex("l")
    assert(idx.size === 100L)
    val hits = idx.search(Array(50f, 1f, 11f, 1f), topK = 3, nprobe = 4)
    // full probe == exact: nearest must be id-50
    assert(hits.head._1 === "id-50")
    val exact = cat.search("l", Array(50f, 1f, 11f, 1f), topK = 3)
      .select("id").collect().map(_.getString(0)).toSeq
    assert(hits.map(_._1.toString) === exact)
  }

  test("empty assigned set builds a searchable empty index (dim from centroids)") {
    val cents = Seq((0L, Array(0f, 0f, 0f, 0f)), (1L, Array(1f, 1f, 1f, 1f)))
    val empty = emb.where(lit(false))
      .select(col("vec_id"), col("embedding"), lit(0L).as("cell"))
    val idx = LocalIvfIndex.fromAssigned(empty, "vec_id", "embedding", cents, "euclidean")
    assert(idx.size === 0L)
    // probe works against the trained dim instead of failing with "expected -1"
    assert(idx.search(Array(0.5f, 0.5f, 0.5f, 0.5f), topK = 5, nprobe = 2).isEmpty)
    // no centroids at all is a build-time error, not a latent serving failure
    val ex = intercept[IllegalArgumentException](
      LocalIvfIndex.fromAssigned(empty, "vec_id", "embedding", Seq.empty, "euclidean"))
    assert(ex.getMessage.contains("centroid"))
    // an EMPTY store still validates the filter against the BUILT spec —
    // a misspelled column refuses loudly instead of hiding in [] until
    // data returns (r11 review)
    val emptyMeta = emb.where(lit(false))
      .select(col("vec_id"), col("embedding"), lit(0L).as("cell"), col("label"))
    val idxMeta = LocalIvfIndex.fromAssigned(emptyMeta, "vec_id", "embedding",
      cents, "euclidean", metaCols = Seq("label" -> "integer"))
    assert(idxMeta.filterableColumns === Set("label"))
    val exCol = intercept[IllegalArgumentException](
      idxMeta.search(Array(0f, 0f, 0f, 0f), 5, 2, eqFilter = Seq("labl" -> 3L)))
    assert(exCol.getMessage.contains("not loaded"))
    assert(idxMeta.search(Array(0f, 0f, 0f, 0f), 5, 2, eqFilter = Seq("label" -> 3L)).isEmpty)
  }

  test("float EQ filter follows Spark SQL semantics: NaN = NaN true, -0.0 = 0.0 true") {
    val cents = Seq((0L, Array(0f, 0f, 0f, 0f)))
    val rows = Seq(
      (1L, Seq(0f, 0f, 0f, 0f), Double.NaN),
      (2L, Seq(1f, 0f, 0f, 0f), -0.0),
      (3L, Seq(0f, 1f, 0f, 0f), 2.5)
    ).toDF("vec_id", "embedding", "f").withColumn("cell", lit(0L))
    val idx = LocalIvfIndex.fromAssigned(rows, "vec_id", "embedding",
      cents, "euclidean", metaCols = Seq("f" -> "float"))
    def ids(v: Double) = idx.search(Array(0f, 0f, 0f, 0f), 5, 1, Seq("f" -> v))
      .map(_._1.asInstanceOf[Long])
    assert(ids(Double.NaN) === Seq(1L)) // Spark's EqualTo: NaN = NaN is TRUE
    assert(ids(0.0) === Seq(2L))        // and -0.0 = 0.0 is TRUE
    assert(ids(2.5) === Seq(3L))
  }

  test("NaN query vector: probe returns empty, never duplicate filler cells") {
    // a corrupt (NaN) query admits no centroid into the top-nprobe
    // selection — the result must be empty, not cell 0 scanned nprobe
    // times with duplicate ids in the merged top-k
    val cents = (0 until 4).map(i =>
      (i.toLong, emb.where(col("vec_id") === i * 3).head().getSeq[Float](1).toArray)).toSeq
    val assigned = Ann.ivfAssign(emb, "vec_id", "embedding", cents, "euclidean")
    val idx = LocalIvfIndex.fromAssigned(assigned, "vec_id", "embedding", cents, "euclidean")
    val q = Array.fill(cents.head._2.length)(Float.NaN)
    assert(idx.search(q, topK = 5, nprobe = 3).isEmpty)
  }

  test("EQ-filtered local probe equals searchIvf(filter) on the same snapshot " +
      "(r11: the local rung serves the reference's EQ fast path)") {
    val cat = new GraftCatalog(spark, Files.createTempDirectory("graft-leq").toString)
    cat.createCollection(CollectionMeta("leq", dim = 4, distance = "euclidean",
      fields = Seq(
        IndexField("id", "string", primaryKey = true),
        IndexField("label", "integer"),
        IndexField("tag", "string", enableNull = true)),
      ivfCells = Some(4)))
    cat.loadCollection("leq")
    val rows = (0 until 120).map { i =>
      (s"id-$i", (i % 5).toLong, if (i % 7 == 0) null else s"t${i % 3}",
        Seq(i.toFloat, (i % 7).toFloat, (i % 13).toFloat, 1f))
    }
    cat.insert("leq", rows.toDF("id", "label", "tag", "vector"))
    cat.flush("leq")
    val idx = cat.localIvfIndex("leq", filterColumns = Seq("label", "tag"))
    assert(idx.filterableColumns === Set("label", "tag"))
    val q = Array(50f, 1f, 11f, 1f)
    // single EQ: full probe == the distributed filtered probe, id for id
    val f1 = FilterExpr.Single("label", FilterExpr.Eq, 2L)
    val local1 = idx.search(q, topK = 8, nprobe = 4, eqFilter = Seq("label" -> 2L))
      .map(_._1.toString)
    val dist1 = cat.searchIvf("leq", q, topK = 8, nprobe = 4, filter = Some(f1))
      .select("id").collect().map(_.getString(0)).toSeq
    assert(local1 === dist1, s"local $local1 vs distributed $dist1")
    // conjunctive EQ incl. a NULLable string column (NULL never matches)
    val f2 = FilterExpr.And(
      FilterExpr.Single("label", FilterExpr.Eq, 2L),
      FilterExpr.Single("tag", FilterExpr.Eq, "t1"))
    val local2 = idx.search(q, topK = 8, nprobe = 4,
      eqFilter = Seq("label" -> 2L, "tag" -> "t1")).map(_._1.toString)
    val dist2 = cat.searchIvf("leq", q, topK = 8, nprobe = 4, filter = Some(f2))
      .select("id").collect().map(_.getString(0)).toSeq
    assert(local2 === dist2, s"local $local2 vs distributed $dist2")
    // PRUNED probe: the filter must not change WHICH cells are probed —
    // parity holds at nprobe=1 too (both sides skip survivors outside the cell)
    val localP = idx.search(q, topK = 8, nprobe = 1, eqFilter = Seq("label" -> 2L))
      .map(_._1.toString)
    val distP = cat.searchIvf("leq", q, topK = 8, nprobe = 1, filter = Some(f1))
      .select("id").collect().map(_.getString(0)).toSeq
    assert(localP === distP, s"local $localP vs distributed $distP")
    // a draining filter returns empty, never errors
    assert(idx.search(q, 5, 4, Seq("label" -> 99L)).isEmpty)
    // loud refusals: unknown column; column not loaded; incomparable type
    assert(intercept[IllegalArgumentException](
      idx.search(q, 5, 4, Seq("nope" -> 1L))).getMessage.contains("not loaded"))
    val bare = cat.localIvfIndex("leq")
    assert(intercept[IllegalArgumentException](
      bare.search(q, 5, 4, Seq("label" -> 2L))).getMessage.contains("filterColumns"))
    assert(intercept[IllegalArgumentException](
      idx.search(q, 5, 4, Seq("label" -> "two"))).getMessage.contains("cannot compare"))
    // catalog-side refusals: undeclared column / vector column
    assert(intercept[IllegalArgumentException](
      cat.localIvfIndex("leq", Seq("missing"))).getMessage.contains("declares no field"))
    // binary rung: the same store semantics over the flat layout
    cat.createCollection(CollectionMeta("leqb", dim = 4, distance = "euclidean",
      fields = Seq(
        IndexField("id", "string", primaryKey = true),
        IndexField("label", "integer")),
      binaryIndex = Some(true)))
    cat.loadCollection("leqb")
    cat.insert("leqb", rows.map(r => (r._1, r._2, r._4)).toDF("id", "label", "vector"))
    cat.flush("leqb")
    val bidx = cat.localBinIndex("leqb", filterColumns = Seq("label"))
    val bhits = bidx.search(q, topK = 20, eqFilter = Seq("label" -> 2L))
    assert(bhits.nonEmpty)
    assert(bhits.forall { case (id, _) =>
      id.toString.stripPrefix("id-").toInt % 5 == 2 }, s"non-survivors in $bhits")
    // survivors-set parity with the distributed pass-1 (searchBinary's
    // filtered Hamming scan ranks the same survivor population)
    val dbin = cat.searchBinary("leqb", q, topK = 20,
        filter = Some(FilterExpr.Single("label", FilterExpr.Eq, 2L)))
      .select("id").collect().map(_.getString(0)).toSet
    assert(bhits.map(_._1.toString).toSet.subsetOf(
      rows.filter(_._2 == 2L).map(_._1).toSet))
    assert(dbin.subsetOf(rows.filter(_._2 == 2L).map(_._1).toSet))
  }

  // r12: stored-form residency — the local rung holds what disk holds
  // (shorts on f16/bf16, bytes on f8; ½ / ¼ the decoded-float memory) and
  // decodes per scan. Decode-to-float is exact, so every probe must be
  // BIT-IDENTICAL to a float-resident index over the decoded vectors.
  for (quant <- Seq("f16", "bf16", "f8")) {
    test(s"$quant storage: quantized-resident index is bit-identical to the " +
        "float-resident form and the distributed probe") {
      import graft.functions.{quantize, dequantize}
      val cents = (0 until 8).map(i =>
        (i.toLong, emb.where(col("vec_id") === i * 3).head().getSeq[Float](1).toArray)).toSeq
      // the stored form a flushed snapshot holds, plus its exact decode
      val stored = Ann.ivfAssign(emb, "vec_id", "embedding", cents, "euclidean")
        .withColumn("stored", quantize(col("embedding"), quant))
        .withColumn("decoded", dequantize(quantize(col("embedding"), quant), quant))
      val qIdx = LocalIvfIndex.fromAssigned(stored, "vec_id", "stored",
        cents, "euclidean", quant = quant)
      val fIdx = LocalIvfIndex.fromAssigned(stored, "vec_id", "decoded",
        cents, "euclidean")
      assert(qIdx.size === fIdx.size)
      val rnd = new scala.util.Random(12)
      for (i <- 1 to 10) {
        val qRaw = emb.where(col("vec_id") === i * 7).head().getSeq[Float](1).toArray
        // local rungs take PRE-PREPARED queries: the quantize round-trip the
        // distributed path applies inside its kernels
        val q = qRaw.map(x => {
          import graft.functions.QuantKernels._
          quant match {
            case "f16"  => f16ToFloat(floatToF16(x))
            case "bf16" => bf16ToFloat(floatToBf16(x))
            case _      => f8ToFloat(floatToF8(x))
          }
        })
        val np = 1 + rnd.nextInt(8)
        val a = qIdx.search(q, topK = 10, nprobe = np)
        val b = fIdx.search(q, topK = 10, nprobe = np)
        assert(a === b, s"$quant query $i nprobe=$np") // bit-identical, not ~=
      }
    }
  }

  test("quantized catalog round trip: localIvfIndex serves the stored form, " +
      "parity with the distributed searchIvf") {
    for (quant <- Seq("f16", "bf16", "f8")) {
      val cat = new GraftCatalog(spark, Files.createTempDirectory(s"graft-lq$quant").toString)
      cat.createCollection(CollectionMeta("lq", dim = 4, distance = "euclidean",
        quantization = quant,
        fields = Seq(IndexField("id", "string", primaryKey = true)),
        ivfCells = Some(4)))
      cat.loadCollection("lq")
      val rows = (0 until 120).map { i =>
        (s"id-$i", Seq(i.toFloat, (i % 7).toFloat, (i % 13).toFloat, 1f))
      }
      cat.insert("lq", rows.toDF("id", "vector"))
      cat.flush("lq")
      val idx = cat.localIvfIndex("lq")
      assert(idx.size === 120L)
      val meta = cat.getMeta("lq")
      val qRaw = Array(50f, 1f, 11f, 1f)
      val q = GraftCatalog.prepareQueryVector(qRaw, meta)
      val local = idx.search(q, topK = 8, nprobe = 4).map(_._1.toString)
      val dist = cat.searchIvf("lq", qRaw, topK = 8, nprobe = 4)
        .select("id").collect().map(_.getString(0)).toSeq
      assert(local === dist, s"$quant: local $local vs distributed $dist")
    }
  }

  test("point latency: in-process probe is far below the Spark job dispatch floor") {
    val cents = (0 until 16).map(i =>
      (i.toLong, emb.where(col("vec_id") === i).head().getSeq[Float](1).toArray)).toSeq
    val assigned = Ann.ivfAssign(emb, "vec_id", "embedding", cents, "cosine")
    val idx = LocalIvfIndex.fromAssigned(assigned, "vec_id", "embedding", cents, "cosine")
    val q = emb.where(col("vec_id") === 7).head().getSeq[Float](1).toArray
    (1 to 50).foreach(_ => idx.search(q, 10, 4)) // warm
    val t0 = System.nanoTime()
    val n = 200
    (1 to n).foreach(_ => idx.search(q, 10, 4))
    val perQueryMs = (System.nanoTime() - t0) / 1e6 / n
    info(f"local IVF probe: $perQueryMs%.3f ms/query at n=${idx.size} (sf fixture)")
    assert(perQueryMs < 10.0, f"$perQueryMs%.3f ms/query — local probe must not be job-shaped")
  }

  test("a session that still sets the retired graft.localLoad.collectBytes key " +
    "refuses at the first local load, naming the key") {
    val cents = Seq((0L, Array(0f, 0f, 0f, 0f)), (1L, Array(1f, 1f, 1f, 1f)))
    val rows = Seq((1L, Seq(0f, 0f, 0f, 1f), 0L)).toDF("vec_id", "embedding", "cell")
    spark.conf.set("graft.localLoad.collectBytes", "268435456")
    try {
      val ex = intercept[IllegalArgumentException](
        LocalIvfIndex.fromAssigned(rows, "vec_id", "embedding", cents, "euclidean"))
      assert(ex.getMessage.contains("graft.localLoad.collectBytes"))
    } finally spark.conf.unset("graft.localLoad.collectBytes")
    // unset, the same load serves
    assert(LocalIvfIndex.fromAssigned(rows, "vec_id", "embedding", cents, "euclidean")
      .size === 1L)
  }
}
