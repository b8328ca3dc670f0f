package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ann.{Ann, LocalIvfIndex, LocalMultiIndex}
import graft.functions._

/** Every float-vector distance path against an in-test naive reference, bit
  * for bit (`doubleToRawLongBits`): the codegen'd and interpreted
  * expressions (plain and fused-quantized), `arg_min_distance` /
  * `top_cells`, the driver-local IVF and multi-vector scans, and
  * `Ann.probeCells` against the local rung's own cell selection — for each
  * metric over f32, f16, bf16 and f8 storage. NaN results (zero-norm
  * cosine) compare as NaN: their raw bits depend on whether `Math.abs` ran
  * interpreted or intrinsified. */
class DistKernelParitySpec extends SparkSpec {

  private val metrics = Seq("cosine", "euclidean", "manhattan", "dot")
  private val formats = Seq("f32", "f16", "bf16", "f8")
  private val dim = 37 // odd: exercises every loop tail
  private val n = 240
  private val cells = 6

  private val rnd = new scala.util.Random(20261020)
  private def gauss(scale: Double): Array[Float] =
    Array.fill(dim)((rnd.nextGaussian() * scale).toFloat)
  // row 0 is the zero vector: cosine against it is 0/0
  private val vecs: Array[Array[Float]] =
    Array.tabulate(n)(i => if (i == 0) new Array[Float](dim) else gauss(0.5 + rnd.nextDouble() * 3))
  private val queries: Array[Array[Float]] = Array.fill(6)(gauss(2.0))
  // ten centroids plus an exact duplicate of cid 3 under cid 20 (a tie
  // the lower cid must win)
  private val cents: Seq[(Long, Array[Float])] = {
    val base = (0 until 10).map(c => (c.toLong, gauss(2.0)))
    base :+ (20L -> base(3)._2.clone())
  }

  /** The pre-DistKernels formulas, written out independently. `dot` is the
    * distance form (−Σxy). */
  private def ref(metric: String, x: Array[Float], y: Array[Float]): Double = {
    var s0 = 0.0; var s1 = 0.0; var s2 = 0.0
    for (i <- x.indices) {
      val a = x(i).toDouble; val b = y(i).toDouble
      metric match {
        case "cosine"    => s0 += a * b; s1 += a * a; s2 += b * b
        case "euclidean" => val t = a - b; s0 += t * t
        case "manhattan" => s0 += math.abs(a - b)
        case "dot"       => s0 += a * b
      }
    }
    metric match {
      case "cosine"    => math.abs(1.0 - s0 / (math.sqrt(s1) * math.sqrt(s2)))
      case "euclidean" => math.sqrt(s0)
      case "manhattan" => s0
      case "dot"       => -s0
    }
  }

  /** Spark's round(d, 6). */
  private def refRound6(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  private def roundTrip(fmt: String)(x: Float): Float = {
    import graft.functions.QuantKernels._
    fmt match {
      case "f32"  => x
      case "f16"  => f16ToFloat(floatToF16(x))
      case "bf16" => bf16ToFloat(floatToBf16(x))
      case "f8"   => f8ToFloat(floatToF8(x))
    }
  }
  private def decoded(fmt: String): Array[Array[Float]] = vecs.map(_.map(roundTrip(fmt)))

  private def assertBits(got: Double, want: Double, clue: => String): Unit =
    if (want.isNaN) assert(got.isNaN, s"$clue: $got, want NaN")
    else assert(java.lang.Double.doubleToRawLongBits(got) ===
      java.lang.Double.doubleToRawLongBits(want), s"$clue: $got vs $want")

  /** Built from an RDD, not a local Seq: a projection over a LocalRelation is
    * folded by the optimizer and never reaches codegen. */
  private lazy val frame: DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(FloatType, containsNull = false)),
      StructField("q", ArrayType(FloatType, containsNull = false))))
    val rows = vecs.indices.map(i => Row(i.toLong, vecs(i).toSeq, queries(i % queries.length).toSeq))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  private val modes = Seq(
    "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.fallback" -> "false"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def withConfs[T](confs: Seq[(String, String)])(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Collects `df` under `mode`; the codegen run must really be whole-stage. */
  private def run(mode: String, df: => DataFrame): Array[Row] =
    withConfs(modes.toMap.apply(mode)) {
      val d = df
      val wsc = d.queryExecution.executedPlan.find(_.isInstanceOf[WholeStageCodegenExec]).nonEmpty
      assert(wsc === (mode == "codegen"), s"$mode plan:\n${d.queryExecution.executedPlan}")
      d.orderBy("id").collect()
    }

  /** The stored form of `v` and the distance expression over it. */
  private def distCol(fmt: String, metric: String, query: Column): Column =
    if (fmt == "f32") metric match {
      case "dot" => -vec_dot(col("v"), query)
      case m     => distance(col("v"), query, m)
    }
    else distance_quant(quantize(col("v"), fmt), query, fmt, metric)

  for (mode <- modes.map(_._1); fmt <- formats) {
    test(s"expressions, $fmt, $mode: every metric bit-exact against the reference") {
      val q = queries(0)
      val cols = metrics.map(m => distCol(fmt, m, lit(q)).as(s"lit_$m")) ++
        metrics.map(m => distCol(fmt, m, col("q")).as(s"col_$m"))
      val got = run(mode, frame.select(col("id") +: cols: _*))
      val dec = decoded(fmt)
      assert(got.length === n)
      got.foreach { r =>
        val i = r.getLong(0).toInt
        metrics.zipWithIndex.foreach { case (m, j) =>
          assertBits(r.getDouble(1 + j), ref(m, dec(i), q), s"$fmt $m lit row $i")
          assertBits(r.getDouble(1 + metrics.length + j),
            ref(m, dec(i), queries(i % queries.length)), s"$fmt $m col row $i")
        }
      }
      assert(got.head.getDouble(1).isNaN, "zero-norm cosine is NaN")
    }

    test(s"arg_min_distance / top_cells, $fmt, $mode: the (round6, cid) order of the reference") {
      val v = if (fmt == "f32") col("v") else dequantize(quantize(col("v"), fmt), fmt)
      val dec = decoded(fmt)
      metrics.foreach { m =>
        val got = run(mode, frame.select(col("id"), arg_min_distance(v, cents, m),
          top_cells(v, cents, m, 3)))
        got.foreach { r =>
          val i = r.getLong(0).toInt
          val ranked = cents.map { case (cid, c) => (refRound6(ref(m, dec(i), c)), cid) }
            .filterNot(_._1.isNaN).sorted.map(_._2)
          assert(r.getSeq[Long](2) === ranked.take(3), s"$fmt $m top_cells row $i")
          assert(r.getLong(1) === ranked.headOption.getOrElse(cents.map(_._1).min),
            s"$fmt $m arg_min row $i")
        }
      }
    }
  }

  test("arg_min_distance / top_cells / cosine_distance / distance_quant: dimension mismatch messages") {
    val short = Array.fill(dim - 1)(1f)
    val shortCents = Seq(0L -> short)
    def message(df: => DataFrame): String = {
      val e = intercept[Exception](df.collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        .filter(_ != null).mkString(" | ")
    }
    for ((mode, _) <- modes) withConfs(modes.toMap.apply(mode)) {
      assert(message(frame.select(cosine_distance(col("v"), lit(short))))
        .contains(s"vector dimension mismatch: $dim vs ${dim - 1}"), mode)
      assert(message(frame.select(distance_quant(quantize(col("v"), "f16"), lit(short), "f16", "dot")))
        .contains(s"vector dimension mismatch: $dim vs ${dim - 1}"), mode)
      assert(message(frame.select(arg_min_distance(col("v"), shortCents, "cosine")))
        .contains(s"vector dimension mismatch: $dim vs ${dim - 1}"), mode)
      assert(message(frame.select(top_cells(col("v"), shortCents, "euclidean", 2)))
        .contains(s"vector dimension mismatch: $dim vs ${dim - 1}"), mode)
    }
    val idx = LocalIvfIndex.fromAssigned(assigned("f32"), "id", "v", cents, "cosine")
    val e = intercept[IllegalArgumentException](idx.search(short, 3, 2))
    assert(e.getMessage.contains(s"vector dimension mismatch: expected $dim, got ${dim - 1}"))
  }

  /** id, stored vector (per `fmt`), cell = id % cells. */
  private def assigned(fmt: String): DataFrame = {
    val stored = if (fmt == "f32") col("v") else quantize(col("v"), fmt)
    frame.select(col("id"), stored.as("v"), (col("id") % cells).as("cell"))
  }
  private val cellCents = cents.take(cells)

  for (fmt <- formats; m <- metrics) {
    test(s"LocalIvfIndex scan and probe, $fmt, $m: bit-exact distances, probeCells = the rung's cells") {
      val quant = if (fmt == "f32") "none" else fmt
      val idx = LocalIvfIndex.fromAssigned(assigned(fmt), "id", "v", cellCents, m, quant = quant)
      val dec = decoded(fmt)
      queries.foreach { q =>
        // every cell probed, every row kept: the whole scan, best-first
        val all = idx.search(q, n, cells)
        val want = vecs.indices.map(i => (i.toLong, ref(m, dec(i), q)))
          .filterNot(_._2.isNaN) // a NaN distance never enters the heap
          .sortBy { case (id, d) => (refRound6(d), id) }
        assert(all.map(_._1.asInstanceOf[Long]) === want.map(_._1), s"$fmt $m order")
        all.zip(want).foreach { case ((id, d), (_, w)) => assertBits(d, w, s"$fmt $m row $id") }

        val ranked = cellCents.map { case (cid, c) => (refRound6(ref(m, c, q)), cid) }
          .filterNot(_._1.isNaN).sorted.map(_._2)
        for (np <- 1 to cells) {
          val probed = Ann.probeCells(cellCents, q, np, m)
          assert(probed === ranked.take(np), s"$fmt $m probeCells nprobe=$np")
          val scanned = idx.search(q, n, np).map(_._1.asInstanceOf[Long] % cells).toSet
          assert(scanned === probed.toSet, s"$fmt $m the rung's cells, nprobe=$np")
        }
      }
    }
  }

  for (fmt <- formats; m <- metrics) {
    test(s"LocalMultiIndex scan, $fmt, $m: the reference's weighted scores and order") {
      val quant = if (fmt == "f32") "none" else fmt
      def stored(c: Column) = if (fmt == "f32") c else quantize(c, fmt)
      val df = frame.select(col("id"), stored(col("v")).as("a"), stored(col("q")).as("b"),
        (col("id") % cells).as("cell"))
      val idx = LocalMultiIndex.fromAssigned(df, "id", Seq("a" -> dim, "b" -> dim),
        cellCents, m, "a", quant)
      val decA = decoded(fmt)
      val decB = vecs.indices.map(i => queries(i % queries.length).map(roundTrip(fmt)))
      def term(d: Double) =
        if (m == "cosine") (2.0 - d) / 2.0 * 100.0 else math.max(0.0, 100.0 - d)
      def round(d: Double, s: Int) =
        new java.math.BigDecimal(d).setScale(s, java.math.RoundingMode.HALF_UP).doubleValue()
      val (qa, qb) = (queries(1), queries(2))
      val got = idx.search(Seq(LocalMultiIndex.FieldQ("a", qa, 70.0),
        LocalMultiIndex.FieldQ("b", qb, 30.0)), n, cells)
      val want = vecs.indices.map { i =>
        (i.toLong, term(ref(m, decA(i), qa)) * 0.7 + term(ref(m, decB(i), qb)) * 0.3)
      }.filterNot(_._2.isNaN).sortBy { case (id, s) => (round(-s, 8), id) }
        .map { case (id, s) => (id, round(s, 4)) }
      assert(got.map { case (id, s) => (id.asInstanceOf[Long], s) } === want, s"$fmt $m")
    }
  }
}
