// Catalyst extension glue lives inside the org.apache.spark.sql package tree
// because the interfaces it implements (AbstractDataType, CodegenFallback,
// ExpressionUtils) are private[sql] in Spark 4 — the standard pattern for
// Spark extension libraries. User-facing API is in graft.functions.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

import graft.functions.DistKernels

/** private[sql] bridge: Column ⇄ Expression for graft's public API. */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register the graft expression family in a LIVE session's function
    * registry, making the engine's kernels first-class SQL functions
    * (`SELECT cosine_distance(embedding, q) …`) — same codegen'd
    * expressions as the Column API, no UDF wrapping. Reaches the
    * private[sql] sessionState via this bridge package; callers use
    * `graft.functions.registerSqlFunctions(spark)`. */
  def registerSqlFunctions(spark: org.apache.spark.sql.classic.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def reg2(name: String, build: (Expression, Expression) => Expression): Unit =
      reg.createOrReplaceTempFunction(name, { exprs =>
        require(exprs.length == 2, s"$name expects 2 arguments")
        build(exprs(0), exprs(1))
      }, "scala_udf")
    def reg1(name: String, build: Expression => Expression): Unit =
      reg.createOrReplaceTempFunction(name, { exprs =>
        require(exprs.length == 1, s"$name expects 1 argument")
        build(exprs(0))
      }, "scala_udf")
    reg2("cosine_distance", VecCosineDistance(_, _))
    reg2("euclidean_distance", VecEuclideanDistance(_, _))
    reg2("manhattan_distance", VecManhattanDistance(_, _))
    reg2("vec_dot", VecDotProduct(_, _))
    reg1("l2_norm", VecL2Norm(_))
    reg1("l2_normalize", VecL2Normalize(_))
    reg1("simhash64", SimHash64(_))
    reg1("fnv64", Fnv64(_))
    reg1("normalize_text", NormalizeText(_))
    reg2("sorted_intersect_count", SortedIntersectCount(_, _))
    // winnow_fingerprints(text, k, w): k/w must be integer literals (they
    // parameterize the generated kernel)
    reg.createOrReplaceTempFunction("winnow_fingerprints", { exprs =>
      require(exprs.length == 3, "winnow_fingerprints expects (text, k, w)")
      def intLit(e: Expression, what: String): Int = e match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"winnow_fingerprints: $what must be an integer literal, got $other")
      }
      WinnowFingerprints(exprs(0), intLit(exprs(1), "k"), intLit(exprs(2), "w"))
    }, "scala_udf")
  }
}

/** Catalyst expressions for vector similarity — the scalar-function surface of
  * the reference engine (SURVEY.md §2.8, formulas at
  * /root/reference/pkg/distance/native_impl.go:24-53).
  *
  * Design notes (Spark-first, not a port):
  *   - Inputs are `ArrayType(FloatType)` columns (vectors are float32 in the
  *     reference; parquet `list<float>` maps to the same type).
  *   - Accumulation is in `double` — each float is widened exactly, and the
  *     loop is sequential, so results are bit-reproducible across engines and
  *     partitionings (no shuffle-order dependence: these are row-local).
  *   - Full whole-stage codegen (`doGenCode`): the generated Java makes one
  *     static [[DistKernels]] call per row, the kernel every other distance
  *     path calls too; the interpreted path calls the same method. This is
  *     the 100 TB hot path: distance is evaluated once per row per query
  *     inside a `TakeOrderedAndProject` scan, so it must stay inside
  *     WholeStageCodegen with zero boxing.
  */
/** ONE definition of the foldable-query hoisting every binary vector kernel
  * shares: a foldable child (the query-vector literal in every scan) is
  * evaluated ONCE at codegen time and embedded as a float[] reference —
  * without this the per-row path unboxes the literal's 128 elements a
  * billion times at 100 TB. A non-foldable (or null-valued foldable) side
  * is bulk-copied per row (`toFloatArray` = one memcpy for unsafe arrays),
  * turning the kernel into a vectorizable float[] loop.
  * Returns (variable name, prep statement). */
private[graft] object CodegenVec {
  def floatSide(ctx: CodegenContext, e: Expression, rowVar: String, tag: String): (String, String) =
    (if (e.foldable) Option(e.eval(null)) else None) match {
      case Some(arr) =>
        (ctx.addReferenceObj(s"vec$tag",
          arr.asInstanceOf[ArrayData].toFloatArray(), "float[]"), "")
      case _ =>
        val f = ctx.freshName(s"f$tag")
        (f, s"final float[] $f = $rowVar.toFloatArray();\n")
    }

  /** Java expression for the `metric` distance (lower = nearer, so dot is
    * negated) of float[] `a` vs float[] `b` over `n` elements: one static
    * [[DistKernels]] call, the metric resolved here at codegen time. */
  def distanceCall(metric: String, a: String, b: String, n: String): String = {
    val k = classOf[DistKernels].getName
    if (metric == "dot") s"-$k.dot($a, 0, $b, 0, $n)" else s"$k.$metric($a, 0, $b, 0, $n)"
  }
}

/** ImplicitCastInputTypes, not bare ExpectsInputTypes: ad-hoc SQL like
  * `cosine_distance(embedding, array(0.1, 0.2))` supplies array<double>
  * literals — the analyzer inserts the float cast instead of failing. The
  * engine's own plans always pass array<float>, so no cast lands in the
  * hot paths. */
abstract class BinaryVectorExpression extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  /** The [[DistKernels]] method this expression evaluates. */
  protected def kernel: String

  /** The same kernel, called directly by the interpreted path. */
  protected def compute(a: Array[Float], b: Array[Float]): Double

  override def nullSafeEval(a: Any, b: Any): Any = {
    val fa = a.asInstanceOf[ArrayData].toFloatArray()
    val fb = b.asInstanceOf[ArrayData].toFloatArray()
    if (fa.length != fb.length)
      throw new IllegalArgumentException(s"vector dimension mismatch: ${fa.length} vs ${fb.length}")
    compute(fa, fb)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val (fa, prepA) = CodegenVec.floatSide(ctx, left, a, "A")
      val (fb, prepB) = CodegenVec.floatSide(ctx, right, b, "B")
      s"""
         |$prepA$prepB
         |final int $n = $fa.length;
         |if ($n != $fb.length) {
         |  throw new IllegalArgumentException("vector dimension mismatch: " + $n + " vs " + $fb.length);
         |}
         |${ev.value} = ${classOf[DistKernels].getName}.$kernel($fa, 0, $fb, 0, $n);
       """.stripMargin
    })
  }
}

/** dot(a, b) = Σ aᵢbᵢ */
case class VecDotProduct(left: Expression, right: Expression) extends BinaryVectorExpression {
  override def prettyName: String = "vec_dot"
  override protected def kernel: String = "dot"
  override protected def compute(a: Array[Float], b: Array[Float]): Double =
    DistKernels.dot(a, 0, b, 0, a.length)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** cosine_distance(a, b) = |1 − dot/(‖a‖·‖b‖)| — the abs-wrapped form of the
  * reference (/root/reference/pkg/distance/space.go:93-95). Zero-norm input
  * yields NaN (division by zero), matching a direct evaluation. */
case class VecCosineDistance(left: Expression, right: Expression) extends BinaryVectorExpression {
  override def prettyName: String = "cosine_distance"
  override protected def kernel: String = "cosine"
  override protected def compute(a: Array[Float], b: Array[Float]): Double =
    DistKernels.cosine(a, 0, b, 0, a.length)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** euclidean_distance(a, b) = √Σ(aᵢ−bᵢ)² — true L2
  * (/root/reference/pkg/distance/native_impl.go:24-31). */
case class VecEuclideanDistance(left: Expression, right: Expression) extends BinaryVectorExpression {
  override def prettyName: String = "euclidean_distance"
  override protected def kernel: String = "euclidean"
  override protected def compute(a: Array[Float], b: Array[Float]): Double =
    DistKernels.euclidean(a, 0, b, 0, a.length)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** manhattan_distance(a, b) = Σ|aᵢ−bᵢ|
  * (/root/reference/pkg/distance/native_impl.go:33-40). */
case class VecManhattanDistance(left: Expression, right: Expression) extends BinaryVectorExpression {
  override def prettyName: String = "manhattan_distance"
  override protected def kernel: String = "manhattan"
  override protected def compute(a: Array[Float], b: Array[Float]): Double =
    DistKernels.manhattan(a, 0, b, 0, a.length)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** arg_min_distance(v): id of the nearest centroid from an embedded
  * (broadcast-sized) codebook — the IVF assignment kernel.
  *
  * The naive formulation `array_min(array(struct(round(dist(v,c0),6),cid0), …))`
  * codegens one inlined distance expression PER CENTROID: fine at k=8, but at
  * a realistic cell count (k≈√N, 256-4096) the generated method blows past
  * JIT/codegen limits and Catalyst silently falls back to interpreted eval
  * over a k-element struct array per row. This expression is ONE loop over a
  * `float[][]` reference — constant codegen size in k, one [[DistKernels]]
  * call per centroid, no per-row allocation.
  *
  * Semantics are IDENTICAL to the naive form (pinned by AnnSpec): the
  * comparison is on `round(dist, 6)` (Spark's HALF_UP `BigDecimal` rounding)
  * with the LOWEST cid winning ties. Rounding is evaluated lazily — only when
  * a candidate lands within 1e-6 of the current best can rounding change the
  * outcome (|round6(d) − d| ≤ 5e-7), so the hot path is a plain double
  * compare and the BigDecimal cost is paid O(1) times per row.
  *
  * `cids`/`cents` must be sorted by cid ascending (enforced by the caller)
  * so "first strictly-smaller wins" == "lowest cid wins ties". */
case class VecArgMinDistance(child: Expression, cids: Array[Long],
                             cents: Array[Array[Float]], metric: String)
    extends UnaryExpression with ExpectsInputTypes {
  require(cids.length == cents.length && cids.nonEmpty, "empty or mismatched codebook")
  require(Set("cosine", "euclidean", "manhattan", "dot").contains(metric),
    s"unknown metric: $metric")
  override def prettyName: String = "arg_min_distance"
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  private val kernel = DistKernels.metricCode(metric)

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData].toFloatArray()
    var best = 0
    var bestR = Double.PositiveInfinity
    var c = 0
    while (c < cents.length) {
      if (cents(c).length != a.length)
        throw new IllegalArgumentException(
          s"vector dimension mismatch: ${a.length} vs ${cents(c).length}")
      val d = DistKernels.distance(kernel, a, 0, cents(c), 0, a.length)
      // only inside this window can rounding change the ordering:
      // |round6(d) − d| ≤ 5e-7 (decimal rounding) + O(ulp(d)) (nearest-
      // double error) — the ulp term matters past d ≈ 1e9
      if (d < bestR + 1e-6 + 4.0 * Math.ulp(d)) {
        val rd = DistKernels.round6(d)
        if (rd < bestR) { bestR = rd; best = c }
      }
      c += 1
    }
    cids(best)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val centsRef = ctx.addReferenceObj("cents", cents, "float[][]")
      val cidsRef = ctx.addReferenceObj("cids", cids, "long[]")
      val a = ctx.freshName("a"); val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      val d = ctx.freshName("d"); val rd = ctx.freshName("rd")
      val best = ctx.freshName("best"); val bestR = ctx.freshName("bestR")
      val cc = ctx.freshName("cc")
      s"""
         |final float[] $a = $v.toFloatArray();
         |final int $n = $a.length;
         |int $best = 0;
         |double $bestR = Double.POSITIVE_INFINITY;
         |for (int $c = 0; $c < $centsRef.length; $c++) {
         |  final float[] $cc = $centsRef[$c];
         |  if ($cc.length != $n) {
         |    throw new IllegalArgumentException("vector dimension mismatch: " + $n + " vs " + $cc.length);
         |  }
         |  final double $d = ${CodegenVec.distanceCall(metric, a, cc, n)};
         |  if ($d < $bestR + 1e-6 + 4.0 * Math.ulp($d)) {
         |    final double $rd = ${classOf[DistKernels].getName}.round6($d);
         |    if ($rd < $bestR) { $bestR = $rd; $best = $c; }
         |  }
         |}
         |${ev.value} = $cidsRef[$best];
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** top_cells(v): the `nprobe` nearest centroid ids from an embedded
  * (broadcast-sized) codebook, best-first — the per-QUERY-row probe-cell
  * kernel behind [[graft.ann.Ann.knnJoin]]. The top-n generalization of
  * [[VecArgMinDistance]] (nprobe=1 degenerates to it): same total order
  * (`round(dist,6)` asc, cid asc — the order every distributed scan uses),
  * same lazy-rounding discipline (BigDecimal only runs when a candidate
  * lands within the rounding window of the current cut), one constant-size
  * codegen loop over a `float[][]` reference so k=4096 centroid counts stay
  * inside whole-stage codegen.
  *
  * Selection is insertion into two fixed nprobe-sized arrays (nprobe is
  * single-digit in practice); centroids are scanned in ascending-cid order,
  * so a strict `rd < slot` insertion preserves lowest-cid-wins on ties. */
case class VecTopCells(child: Expression, cids: Array[Long],
                       cents: Array[Array[Float]], metric: String, nprobe: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(cids.length == cents.length && cids.nonEmpty, "empty or mismatched codebook")
  require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
  require(Set("cosine", "euclidean", "manhattan", "dot").contains(metric),
    s"unknown metric: $metric")
  override def prettyName: String = "top_cells"
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  private val kernel = DistKernels.metricCode(metric)

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData].toFloatArray()
    val np = math.min(nprobe, cents.length)
    val bestCid = new Array[Long](np)
    val bestRd = new Array[Double](np)
    var filled = 0
    var c = 0
    while (c < cents.length) {
      if (cents(c).length != a.length)
        throw new IllegalArgumentException(
          s"vector dimension mismatch: ${a.length} vs ${cents(c).length}")
      val d = DistKernels.distance(kernel, a, 0, cents(c), 0, a.length)
      // a NaN distance (corrupt query) admits nothing — the r11
      // selectCells contract, ONE rule across all probe implementations;
      // rounding can only matter when d lands within the rounding window of
      // the current cut (the worst kept distance) — see VecArgMinDistance
      if (!d.isNaN && (filled < np || d < bestRd(filled - 1) + 1e-6 + 4.0 * Math.ulp(d))) {
        val rd = DistKernels.round6(d)
        var pos = filled
        while (pos > 0 && rd < bestRd(pos - 1)) pos -= 1
        if (pos < np) {
          val last = math.min(filled, np - 1)
          var i = last
          while (i > pos) { bestRd(i) = bestRd(i - 1); bestCid(i) = bestCid(i - 1); i -= 1 }
          bestRd(pos) = rd; bestCid(pos) = cids(c)
          if (filled < np) filled += 1
        }
      }
      c += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(bestCid, filled))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val centsRef = ctx.addReferenceObj("cents", cents, "float[][]")
      val cidsRef = ctx.addReferenceObj("cids", cids, "long[]")
      val a = ctx.freshName("a"); val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      val d = ctx.freshName("d"); val rd = ctx.freshName("rd")
      val np = ctx.freshName("np"); val filled = ctx.freshName("filled")
      val bestCid = ctx.freshName("bestCid"); val bestRd = ctx.freshName("bestRd")
      val pos = ctx.freshName("pos"); val j = ctx.freshName("j")
      val last = ctx.freshName("last"); val cc = ctx.freshName("cc")
      s"""
         |final float[] $a = $v.toFloatArray();
         |final int $n = $a.length;
         |final int $np = Math.min($nprobe, $centsRef.length);
         |final long[] $bestCid = new long[$np];
         |final double[] $bestRd = new double[$np];
         |int $filled = 0;
         |for (int $c = 0; $c < $centsRef.length; $c++) {
         |  final float[] $cc = $centsRef[$c];
         |  if ($cc.length != $n) {
         |    throw new IllegalArgumentException("vector dimension mismatch: " + $n + " vs " + $cc.length);
         |  }
         |  final double $d = ${CodegenVec.distanceCall(metric, a, cc, n)};
         |  // NaN admits nothing (the ONE probe contract)
         |  if (!Double.isNaN($d) && ($filled < $np || $d < $bestRd[$filled - 1] + 1e-6 + 4.0 * Math.ulp($d))) {
         |    final double $rd = ${classOf[DistKernels].getName}.round6($d);
         |    int $pos = $filled;
         |    while ($pos > 0 && $rd < $bestRd[$pos - 1]) $pos--;
         |    if ($pos < $np) {
         |      final int $last = Math.min($filled, $np - 1);
         |      for (int $j = $last; $j > $pos; $j--) {
         |        $bestRd[$j] = $bestRd[$j - 1]; $bestCid[$j] = $bestCid[$j - 1];
         |      }
         |      $bestRd[$pos] = $rd; $bestCid[$pos] = $cidsRef[$c];
         |      if ($filled < $np) $filled++;
         |    }
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  java.util.Arrays.copyOf($bestCid, $filled));
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** l2_norm(v) = √Σvᵢ² */
case class VecL2Norm(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def prettyName: String = "l2_norm"
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    var acc = 0.0; var i = 0; val n = a.numElements()
    while (i < n) { val x = a.getFloat(i).toDouble; acc += x * x; i += 1 }
    math.sqrt(acc)
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i"); val acc = ctx.freshName("acc"); val n = ctx.freshName("n")
      s"""
         |final int $n = $a.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double x = (double) $a.getFloat($i);
         |  $acc += x * x;
         |}
         |${ev.value} = Math.sqrt($acc);
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** l2_normalize(v): v / ‖v‖ as float32, with the reference's zero-norm → zero
  * vector behavior (/root/reference/edge/vectorstore.go:173-189). Applied to
  * stored + query vectors when the collection distance is cosine. Interpreted
  * eval only (ingest-side, not the per-row scoring hot path). */
case class VecL2Normalize(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def prettyName: String = "l2_normalize"
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    // float32 norm accumulation to mirror the reference's float32 math
    var acc = 0.0f; var i = 0
    while (i < n) { val x = a.getFloat(i); acc += x * x; i += 1 }
    val norm = math.sqrt(acc.toDouble).toFloat
    val out = new Array[Float](n)
    if (norm != 0.0f) { i = 0; while (i < n) { out(i) = a.getFloat(i) / norm; i += 1 } }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
