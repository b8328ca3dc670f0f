package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The bench generators' cross-dataset invariant: the 100M binary-code
  * generator must emit EXACTLY the code Bin.encode produces over the float
  * collection's embedding for the same vec_id — the 100M Hamming row's
  * correctness rests on the query (encoded from the float collection) and
  * the corpus (codes-only, floats never materialized) agreeing. Also pins
  * the stdout line builder's length cap (`Bench.stdoutLine`) and the big
  * suites' split into the ratio maps (`Bench.baselineSplit`). */
class BenchDataSpec extends SparkSpec {

  test("ensureBinCodeBenchData codes equal Bin.encode over ensureBenchData " +
    "embeddings row for row (the codes-only generator is faithful)") {
    val n = 2000L
    val floatDir = Files.createTempDirectory("bench-float").toString + "/d"
    val codeDir = Files.createTempDirectory("bench-code").toString + "/d"
    Bench.ensureBenchData(spark, floatDir, n)
    val floats = spark.read.parquet(floatDir)
    val th = graft.ann.Bin.trainThresholds(floats, "embedding",
      sampleMod = 16L, idCol = "vec_id")
    Bench.ensureBinCodeBenchData(spark, codeDir, n, th)

    val direct = floats.select(col("vec_id"),
      graft.ann.Bin.encode(col("embedding"), th).as("bin_code"))
    val generated = spark.read.parquet(codeDir)
    assert(generated.count() === n)
    // anti-join on (vec_id, code): zero mismatches in either direction
    assert(generated.join(direct, Seq("vec_id", "bin_code"), "left_anti").count() === 0L)
    assert(direct.join(generated, Seq("vec_id", "bin_code"), "left_anti").count() === 0L)
  }

  test("100M single-vector generators + probe plans are faithful at small N " +
    "(f8 IVF fused scan and residual PQ ADC both rank; probed = full's prefix cells)") {
    val n = 3000L
    val dirIvf = Files.createTempDirectory("bench-ivff8").toString + "/d"
    val dirPq = Files.createTempDirectory("bench-pqcode").toString + "/d"
    val floatDir = Files.createTempDirectory("bench-float2").toString + "/d"
    Bench.ensureBenchData(spark, floatDir, n)
    val floats = spark.read.parquet(floatDir)
    val cents = graft.ann.Ann.trainCentroids(floats,
      "vec_id", "embedding", 8, "cosine", iterations = 1, sampleMod = Some(4L))
    import graft.functions._
    val embN = l2_normalize(col("embedding"))
    val resid = floats
      .withColumn("cell", arg_min_distance(embN, cents, "cosine").cast("long"))
      .select(col("vec_id"), graft.ann.Pq.residual(embN, col("cell"), cents).as("resid"))
    val cb = graft.ann.Pq.train(resid, "vec_id", "resid", m = 16, ksub = 16,
      iterations = 0)
    Bench.ensureIvfF8BenchData(spark, dirIvf, n, cents)
    Bench.ensurePqCodeBenchData(spark, dirPq, n, cents, cb)
    val snapIvf = spark.read.parquet(dirIvf)
    val snapPq = spark.read.parquet(dirPq)
    assert(snapIvf.count() === n)
    assert(snapPq.count() === n)
    // f8 fused scan: the generated snapshot must rank like the float
    // collection's own f8 round-trip (same query, same top ids)
    val q = floats.where(col("vec_id") === 7).select(embN)
      .head().getSeq[Float](0).toArray
      .map(x => graft.functions.QuantKernels.f8ToFloat(
        graft.functions.QuantKernels.floatToF8(x)))
    val probedAll = graft.ann.Ann.probeCells(cents, q, 8, "cosine")
    def ivfTop(np: Int): Seq[Long] = {
      val probed = graft.ann.Ann.probeCells(cents, q, np, "cosine")
      snapIvf.where(col("cell").isin(probed: _*))
        .select(col("vec_id"),
          round(distance_quant(col("v"), lit(q), "f8", "cosine"), 6).as("dist"))
        .orderBy(col("dist").asc, col("vec_id").asc).limit(10)
        .collect().map(_.getLong(0)).toSeq
    }
    val full = ivfTop(8)
    assert(full.head === 7L) // the query's own row wins
    assert(full.size === 10)
    // probed arm returns a valid subset ranking (recall trade, not error)
    assert(ivfTop(2).nonEmpty)
    // residual PQ ADC over the generated codes: self-consistent ranking,
    // query's own row near the top at full probe
    val qf = floats.where(col("vec_id") === 7).select(embN).head().getSeq[Float](0).toArray
    val centMap = cents.toMap
    val sorted = probedAll.sorted
    val luts = sorted.map { cid =>
      val cv = centMap(cid)
      cb.adcLut(Array.tabulate(qf.length)(i => qf(i) - cv(i)))
    }
    val pqTop = snapPq.where(col("cell").isin(sorted: _*))
      .select(col("vec_id"),
        round(pq_adc_distance_cells(col("pq_code"), col("cell").cast("long"),
          sorted.toArray, luts.toArray, cb.ksub), 6).as("dist"))
      .orderBy(col("dist").asc, col("vec_id").asc).limit(10)
      .collect().map(_.getLong(0)).toSeq
    assert(pqTop.size === 10)
    assert(pqTop.contains(7L)) // ADC is approximate; own row must surface
    // the broadcast-kernel full arm matches the per-request-LUT arm on the
    // same all-cells probe (the r12 kernel's bit-parity, at bench shape)
    val sc = cents.sortBy(_._1)
    val bc = spark.sparkContext.broadcast(org.apache.spark.sql.graft.PqBcSidecar(
      sc.map(_._1).toArray, sc.map(_._2).toArray, cb.cents, cb.ksub))
    try {
      val bcTop = snapPq
        .select(col("vec_id"),
          round(pq_adc_distance_cells_bc(col("pq_code"), col("cell").cast("long"),
            lit(qf), bc), 6).as("dist"))
        .orderBy(col("dist").asc, col("vec_id").asc).limit(10)
        .collect().map(_.getLong(0)).toSeq
      assert(bcTop === pqTop)
    } finally { bc.destroy(); () }
  }

  test("the bench stdout line stays under its cap with 40 long multi-line errors; " +
    "messages keep one line of at most 100 characters and every cut entry is counted") {
    val errors = (1 to 40).map(i => f"suite_$i%02d" ->
      (s"job aborted in stage $i: " + "x" * 300 + "\n\tat org.apache.spark.Frame.run(Frame.scala:1)\n" +
        "Caused by: java.io.IOException: disk full"))
    val skipped = Seq("bin100m" -> ("deadline: 3300 s elapsed\n" + "y" * 200))
    val priority = (1 to 200).map(i => f"query_name_$i%03d" -> i * 0.5)
    val ratios = (1 to 12).map(i => s"flat_scan_cosine_${i}m" -> 1.23)
    val line = Bench.stdoutLine(66.3, priority, ratios, ratios, errors, skipped, "/data/sf0.1")
    assert(!line.contains("\n"))
    assert(line.length <= Bench.LineCap, s"line is ${line.length} chars")
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    val errs = json.get("errors")
    assert(errs.size > 0)
    errs.fields().forEachRemaining { e =>
      val m = e.getValue.asText
      assert(m.length <= Bench.MsgCap && !m.contains("\n"), m)
      assert(m.startsWith("job aborted in stage"))
    }
    assert(errs.size + json.get("errors_dropped").asInt === 40)
    val kept = json.get("queries")
    assert(kept.size > 0)
    assert(kept.size + json.get("queries_dropped").asInt === 200)
    // the fixed fields are never cut
    assert(json.get("vs_baseline").size === 12 && json.get("vs_baseline_scan_only").size === 12)
    assert(json.get("value").asDouble === 66.3 && json.get("sf").asText === "/data/sf0.1")
    assert(json.get("skipped").size + Option(json.get("skipped_dropped")).fold(0)(_.asInt) === 1)
    // a clean run: no dropped counters, every entry whole
    val clean = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      Bench.stdoutLine(1.0, priority.take(5), ratios, ratios, Nil, Nil, "/data/sf0.1"))
    assert(clean.get("queries").size === 5 && !clean.has("queries_dropped") &&
      !clean.has("errors_dropped") && !clean.has("skipped_dropped"))
  }

  test("the big-suite split: driver-local 100M rows keep raw seconds and land in " +
    "neither ratio map; point_lookup, _med and failed rows take no ratio") {
    val big1m = Seq("point_lookup_1m" -> 0.01, "flat_scan_cosine_1m" -> 0.035,
      "flat_scan_cosine_1m_med" -> 0.04, "flat_scan_f16_1m" -> -1.0)
    val big10m = Seq("point_lookup_10m" -> 0.02, "flat_scan_cosine_10m" -> 0.3)
    val bin100m = Seq("point_lookup_100m" -> 0.05, "hamming_scan_100m" -> 3.0,
      "hamming_scan_100m_med" -> 3.1, "local_bin_load_100m" -> 40.0,
      "serve_local_bin_100m" -> 0.004, "serve_local_bin_100m_p50" -> 0.005,
      "local_bin_refresh_10k_100m" -> 1.5)
    val (vs, scanOnly, local) = Bench.baselineSplit(big1m, big10m, bin100m)
    assert(vs === Seq("flat_scan_cosine_1m" -> 1.4, "flat_scan_cosine_10m" -> 1.2,
      "hamming_scan_100m" -> 1.2))
    assert(scanOnly === Seq("flat_scan_cosine_1m" -> 1.0, "flat_scan_cosine_10m" -> 1.12,
      "hamming_scan_100m" -> 1.18))
    assert(local === bin100m.filter(_._1.contains("local_bin")))
    assert(!(vs ++ scanOnly).exists(_._1.contains("local_bin")))
    // a suite without its dispatch floor has no scan-only ratios
    val (vsNoFloor, scanNoFloor, _) = Bench.baselineSplit(big1m.tail, Nil, Nil)
    assert(vsNoFloor === Seq("flat_scan_cosine_1m" -> 1.4) && scanNoFloor.isEmpty)
  }
}
