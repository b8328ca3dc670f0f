package graft

import graft.functions.{DistKernels, QuantKernels}

/** Spark-free timing of the shared distance kernels against the inline loops
  * they replaced: 1M×128 Gaussian rows in one flat array, each metric, f32
  * and f16 storage (f16 decodes into a scratch buffer first, the fused
  * scan's loop fission). Each (format, metric) runs in its own child JVM so
  * no form is compiled against another metric's branch profile. Every form
  * runs untimed warm-up passes first (C2 can settle on a slow shape for a
  * while — the bimodal-JIT trap), then the two forms alternate pass by
  * pass. Both forms score one row per method call, as the scans do: a
  * decode loop written out inside the whole pass runs at interpreter speed
  * (~6 s per f16 pass here against ~0.15 s). Prints min / median ms per pass and
  * the number of rows whose two results differ in any bit. Run:
  *   sbt "Test/runMain graft.ProfDistKernel [rows] [warmup] [reps]"
  */
object ProfDistKernel {
  val dim = 128

  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toInt).getOrElse(1000000)
    val warmup = if (args.length > 1) args(1).toInt else 8
    val reps = if (args.length > 2) args(2).toInt else 12
    if (args.length > 4) return measure(rows, warmup, reps, args(3), args(4))
    val java = s"${System.getProperty("java.home")}/bin/java"
    for (fmt <- Seq("f32", "f16"); metric <- Seq("cosine", "euclidean", "manhattan", "dot")) {
      val p = new ProcessBuilder(java, "-Xmx2g", "-cp", System.getProperty("java.class.path"),
        "graft.ProfDistKernel", rows.toString, warmup.toString, reps.toString, fmt, metric)
        .inheritIO().start()
      require(p.waitFor() == 0, s"$fmt $metric child failed")
    }
  }

  private def measure(rows: Int, warmup: Int, reps: Int, fmt: String, metric: String): Unit = {
    val rnd = new java.util.Random(42)
    val f32 = Array.fill(rows * dim)(rnd.nextGaussian().toFloat)
    val f16 = if (fmt == "f16") f32.map(QuantKernels.floatToF16) else null
    val q = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val code = DistKernels.metricCode(metric)
    val buf = new Array[Float](dim)
    val inline = new Array[Double](rows)
    val helper = new Array[Double](rows)
    def inlinePass(): Unit = {
      var r = 0
      while (r < rows) { inline(r) = inlineRow(code, f32, f16, r * dim, q, buf); r += 1 }
    }
    def helperPass(): Unit = {
      var r = 0
      while (r < rows) { helper(r) = helperRow(code, f32, f16, r * dim, q, buf); r += 1 }
    }
    def ms(pass: () => Unit): Double = {
      val t0 = System.nanoTime(); pass(); (System.nanoTime() - t0) / 1e6
    }
    (1 to warmup).foreach { _ => inlinePass(); helperPass() }
    val ti = new Array[Double](reps); val th = new Array[Double](reps)
    (0 until reps).foreach { i =>
      if (i % 2 == 0) { ti(i) = ms(() => inlinePass()); th(i) = ms(() => helperPass()) }
      else { th(i) = ms(() => helperPass()); ti(i) = ms(() => inlinePass()) }
    }
    val mismatches = (0 until rows).count(r =>
      java.lang.Double.doubleToRawLongBits(inline(r)) != java.lang.Double.doubleToRawLongBits(helper(r)))
    def stats(t: Array[Double]) = {
      val s = t.sorted; f"min ${s.head}%6.1f median ${s(s.length / 2)}%6.1f"
    }
    println(f"$fmt%-4s $metric%-9s inline ${stats(ti)}  helper ${stats(th)}  " +
      s"bit mismatches $mismatches of $rows")
  }

  /** One row the way the local rungs scanned it before: decode loop written
    * out (f16), then the pre-DistKernels loop of the metric. A per-row
    * method, as in the rungs, so neither form relies on on-stack
    * replacement of the whole pass. */
  private def inlineRow(code: Int, f32: Array[Float], f16: Array[Short], off: Int,
                        q: Array[Float], buf: Array[Float]): Double =
    if (f16 == null) inlineDist(code, f32, off, q)
    else {
      var j = 0
      while (j < dim) { buf(j) = QuantKernels.f16ToFloat(f16(off + j)); j += 1 }
      inlineDist(code, buf, 0, q)
    }

  /** One row through the shared kernels. */
  private def helperRow(code: Int, f32: Array[Float], f16: Array[Short], off: Int,
                        q: Array[Float], buf: Array[Float]): Double =
    if (f16 == null) DistKernels.distance(code, f32, off, q, 0, dim)
    else {
      DistKernels.decode(DistKernels.F16, f16, off, buf, dim)
      DistKernels.distance(code, buf, 0, q, 0, dim)
    }

  /** The pre-DistKernels loops, one small method per metric (dot negated). */
  private def inlineDist(code: Int, v: Array[Float], off: Int, q: Array[Float]): Double =
    code match {
      case DistKernels.COSINE    => cosine(v, off, q)
      case DistKernels.EUCLIDEAN => euclidean(v, off, q)
      case DistKernels.MANHATTAN => manhattan(v, off, q)
      case _                     => -dot(v, off, q)
    }

  private def cosine(v: Array[Float], off: Int, q: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < dim) {
      val x = v(off + i).toDouble; val y = q(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    math.abs(1.0 - dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  private def euclidean(v: Array[Float], off: Int, q: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < dim) { val d = v(off + i).toDouble - q(i).toDouble; acc += d * d; i += 1 }
    math.sqrt(acc)
  }

  private def manhattan(v: Array[Float], off: Int, q: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < dim) { acc += math.abs(v(off + i).toDouble - q(i).toDouble); i += 1 }
    acc
  }

  private def dot(v: Array[Float], off: Int, q: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < dim) { acc += v(off + i).toDouble * q(i).toDouble; i += 1 }
    acc
  }
}
