package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Product quantization — the ANN memory-scale path beyond the scalar f16/f8
  * quantizers (F6-F8): split the vector into `m` subspaces, vector-quantize
  * each against a `ksub`-entry codebook, and store ONE BYTE per subspace
  * (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011 — public method). A 128-d float32 vector (512 B)
  * compresses to m=16 bytes: at 100 TB of embeddings the PQ codes for the
  * whole corpus fit in cluster memory, and search touches only codes + a
  * per-query lookup table (ADC), never the raw vectors.
  *
  * Both expressions keep the codebook/LUT as codegen reference objects, so
  * the generated code is constant-size in m and ksub (same design as
  * [[VecArgMinDistance]] — the expanded per-codeword expression tree would
  * fall out of whole-stage codegen past a few dozen codewords).
  */

/** pq_encode(v): the m-byte PQ code of a float32 vector. Per subspace, the
  * nearest (euclidean) sub-codeword wins, comparing on `round(dist, 6)` with
  * the LOWEST code index on ties — semantics identical per-subspace to
  * [[VecArgMinDistance]] over the sliced vector (pinned by PqSpec), so the
  * assignment is reproducible in any engine that can round a distance.
  *
  * `cents(j)(c)` = sub-codeword c of subspace j; subspace widths may vary,
  * their sum must equal the input dimension; ksub ≤ 256 (one byte).
  *
  * `asInts = true` returns the assignments as `array<int>` instead of the
  * packed m-byte binary — the trainer's form: Lloyd's aggregation explodes
  * per-element and needs `element_at` over the per-subspace cells, which
  * SQL can do on an array but not on a binary. Same argmin, same kernel. */
case class PqEncode(child: Expression, cents: Array[Array[Array[Float]]],
                    asInts: Boolean = false)
    extends UnaryExpression with ExpectsInputTypes {
  require(cents.nonEmpty, "empty codebook")
  require(cents.forall(cb => cb.nonEmpty && cb.length <= 256),
    s"each subspace needs 1..256 codewords (one byte per code)")
  require(cents.forall(cb => cb.forall(_.length == cb(0).length)),
    "ragged sub-codeword dimensions within a subspace")

  private val m = cents.length
  /** Start offset of each subspace within the full vector. */
  private val offs: Array[Int] = cents.scanLeft(0)((o, cb) => o + cb(0).length).init
  private val dim: Int = offs.last + cents.last(0).length
  /** Sub-codeword counts and widths per subspace (runtime loop bounds). */
  private val ksubs: Array[Int] = cents.map(_.length)
  private val dsubs: Array[Int] = cents.map(_(0).length)
  /** Per-subspace codebooks FLATTENED to one contiguous float[] each
    * (`flat(j)(c·dsub + i)`): the hot loop walks a single base pointer
    * instead of chasing float[][] rows — the same layout the scan kernels
    * use. Built once per expression instance; shipped as a codegen
    * reference object. */
  private val flat: Array[Array[Float]] = cents.map { cb =>
    val dn = cb(0).length
    val f = new Array[Float](cb.length * dn)
    var c = 0
    while (c < cb.length) { System.arraycopy(cb(c), 0, f, c * dn, dn); c += 1 }
    f
  }

  override def prettyName: String = "pq_encode"
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = if (asInts) ArrayType(IntegerType, containsNull = false) else BinaryType
  override def nullIntolerant: Boolean = true

  // Argmin semantics (identical to the round-4 per-codeword sqrt form and to
  // VecArgMinDistance over the slice, pinned in PqSpec): winner = lowest
  // round(dist, 6), ties to the lowest code index. One pass per subspace:
  // track the true (unrounded) squared minimum plus the SHORT ordered list
  // of band candidates — codewords whose rounded distance could still
  // beat-or-tie the minimum's, i.e. acc < (sqrt(minSq) + 2e-6 + 4·ulp)²
  // (the same margin algebra as the r6 running gate, anchored at the true
  // min — strictly safer). Admission checks against the gate current at
  // that index; every min improvement TIGHTENS the gate and prunes the
  // list, so the surviving list is exactly {c : acc_c < final gate²} in
  // index order. Decimal rounding then runs only over those survivors
  // (~1-2 on real data), and strict `<` in order is exactly
  // lowest-rounded-then-lowest-index.
  //
  // Why: the r6 form re-derived BigDecimal.valueOf(...).setScale(6) on
  // every RUNNING-MIN IMPROVEMENT (~H(256)≈6 per subspace ≈ 100/row); an
  // r9 Spark-free dissection (ProfPqEncode, parity-asserted against the r6
  // form) put that at HALF the kernel — 60 µs/row vs 31 µs/row for this
  // form, which sits at the pure squared-argmin floor. The ulp term
  // mirrors VecArgMinDistance's window: past d ≈ 1e9 the nearest-double
  // error of round6 exceeds the fixed margin, and a winner could otherwise
  // be banded out before rounding.
  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData].toFloatArray()
    if (a.length != dim)
      throw new IllegalArgumentException(s"vector dimension mismatch: ${a.length} vs $dim")
    val out = new Array[Int](m)
    val kmax = ksubs.max
    val candIdx = new Array[Int](kmax); val candAcc = new Array[Double](kmax)
    var j = 0
    while (j < m) {
      val f = flat(j); val off = offs(j); val dn = dsubs(j); val kk = ksubs(j)
      var minSq = Double.PositiveInfinity; var gateSq = Double.PositiveInfinity
      var nc = 0
      var c = 0; var base = 0
      while (c < kk) {
        var acc = 0.0; var i = 0
        while (i < dn) { val t = a(off + i).toDouble - f(base + i).toDouble; acc += t * t; i += 1 }
        if (acc < gateSq) {
          if (acc < minSq) {
            minSq = acc
            val sq = math.sqrt(acc)
            val g = sq + 2e-6 + 4.0 * Math.ulp(sq)
            gateSq = g * g
            var w = 0; var k = 0
            while (k < nc) {
              if (candAcc(k) < gateSq) { candIdx(w) = candIdx(k); candAcc(w) = candAcc(k); w += 1 }
              k += 1
            }
            nc = w
          }
          candIdx(nc) = c; candAcc(nc) = acc; nc += 1
        }
        c += 1; base += dn
      }
      var best = 0; var bestR = Double.PositiveInfinity
      var k = 0
      while (k < nc) {
        val rd = graft.functions.DistKernels.round6(math.sqrt(candAcc(k)))
        if (rd < bestR) { bestR = rd; best = candIdx(k) }
        k += 1
      }
      out(j) = best
      j += 1
    }
    if (asInts) new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    else { val b = new Array[Byte](m); var i = 0; while (i < m) { b(i) = out(i).toByte; i += 1 }; b }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val flatRef = ctx.addReferenceObj("pqFlat", flat, "float[][]")
      val offsRef = ctx.addReferenceObj("pqOffs", offs, "int[]")
      val ksubsRef = ctx.addReferenceObj("pqKsubs", ksubs, "int[]")
      val dsubsRef = ctx.addReferenceObj("pqDsubs", dsubs, "int[]")
      // band-candidate scratch, allocated ONCE per operator instance, not
      // per row — per-row arrays at ksub=256 would hand the encode pass to
      // the collector (sized for the worst case: every codeword ties)
      val candIdx = ctx.addMutableState("int[]", "pqCandIdx",
        bn => s"$bn = new int[${ksubs.max}];")
      val candAcc = ctx.addMutableState("double[]", "pqCandAcc",
        bn => s"$bn = new double[${ksubs.max}];")
      val a = ctx.freshName("a"); val out = ctx.freshName("out")
      val j = ctx.freshName("j"); val c = ctx.freshName("c"); val i = ctx.freshName("i")
      val f = ctx.freshName("f"); val off = ctx.freshName("off")
      val dn = ctx.freshName("dn"); val kk = ctx.freshName("kk")
      val acc = ctx.freshName("acc"); val rd = ctx.freshName("rd"); val g = ctx.freshName("g")
      val best = ctx.freshName("best"); val bestR = ctx.freshName("bestR")
      val minSq = ctx.freshName("minSq"); val sq = ctx.freshName("sq")
      val nc = ctx.freshName("nc"); val w = ctx.freshName("w"); val k = ctx.freshName("k")
      val gateSq = ctx.freshName("gateSq"); val base = ctx.freshName("base")
      // when every subspace has the same width/codeword count, emit them as
      // compile-time constants so C2 can unroll the short inner loop
      val dnInit = if (dsubs.distinct.length == 1) s"${dsubs(0)}" else s"$dsubsRef[$j]"
      val kkInit = if (ksubs.distinct.length == 1) s"${ksubs(0)}" else s"$ksubsRef[$j]"
      val (outType, outStore, outAssign) =
        if (asInts) ("int", s"$out[$j] = $best;",
          s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);")
        else ("byte", s"$out[$j] = (byte) $best;", s"${ev.value} = $out;")
      // same one-pass band shape as nullSafeEval (see the semantics comment
      // there): true squared min + pruned candidate list, decimal rounding
      // only over the final band survivors
      s"""
         |final float[] $a = $v.toFloatArray();
         |if ($a.length != $dim) {
         |  throw new IllegalArgumentException("vector dimension mismatch: " + $a.length + " vs " + $dim);
         |}
         |final $outType[] $out = new $outType[$m];
         |for (int $j = 0; $j < $m; $j++) {
         |  final float[] $f = $flatRef[$j];
         |  final int $off = $offsRef[$j];
         |  final int $dn = $dnInit;
         |  final int $kk = $kkInit;
         |  double $minSq = Double.POSITIVE_INFINITY;
         |  double $gateSq = Double.POSITIVE_INFINITY;
         |  int $nc = 0;
         |  int $base = 0;
         |  for (int $c = 0; $c < $kk; $c++, $base += $dn) {
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $dn; $i++) {
         |      final double t = (double) $a[$off + $i] - (double) $f[$base + $i];
         |      $acc += t * t;
         |    }
         |    if ($acc < $gateSq) {
         |      if ($acc < $minSq) {
         |        $minSq = $acc;
         |        final double $sq = Math.sqrt($acc);
         |        final double $g = $sq + 2e-6 + 4.0 * Math.ulp($sq);
         |        $gateSq = $g * $g;
         |        int $w = 0;
         |        for (int $k = 0; $k < $nc; $k++) {
         |          if ($candAcc[$k] < $gateSq) {
         |            $candIdx[$w] = $candIdx[$k]; $candAcc[$w] = $candAcc[$k]; $w++;
         |          }
         |        }
         |        $nc = $w;
         |      }
         |      $candIdx[$nc] = $c; $candAcc[$nc] = $acc; $nc++;
         |    }
         |  }
         |  int $best = 0;
         |  double $bestR = Double.POSITIVE_INFINITY;
         |  for (int $k = 0; $k < $nc; $k++) {
         |    final double $rd = graft.functions.DistKernels.round6(Math.sqrt($candAcc[$k]));
         |    if ($rd < $bestR) { $bestR = $rd; $best = $candIdx[$k]; }
         |  }
         |  $outStore
         |}
         |$outAssign
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** pq_adc_distance(code): asymmetric distance of a query against an m-byte
  * PQ code — `sqrt(Σⱼ lut[j·ksub + code[j]])` where `lut` holds the SQUARED
  * euclidean distances from the query's subvectors to every sub-codeword
  * (built once per query, driver-side). The scan is m byte-indexed table
  * lookups per row: no decode, no per-row allocation, and the cached input
  * is the m-byte code column, not the float vector. */
case class PqAdcDistance(child: Expression, lut: Array[Double], ksub: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(ksub >= 1 && ksub <= 256, s"ksub must be in 1..256, got $ksub")
  require(lut.nonEmpty && lut.length % ksub == 0,
    s"LUT length ${lut.length} is not a multiple of ksub=$ksub")

  private val m = lut.length / ksub

  override def prettyName: String = "pq_adc_distance"
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any = {
    val code = v.asInstanceOf[Array[Byte]]
    if (code.length != m)
      throw new IllegalArgumentException(s"code length mismatch: ${code.length} vs $m")
    var acc = 0.0; var j = 0
    while (j < m) { acc += lut(j * ksub + (code(j) & 0xFF)); j += 1 }
    math.sqrt(acc)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val lutRef = ctx.addReferenceObj("pqLut", lut, "double[]")
      val code = ctx.freshName("code"); val acc = ctx.freshName("acc")
      val j = ctx.freshName("j")
      s"""
         |final byte[] $code = $v;
         |if ($code.length != $m) {
         |  throw new IllegalArgumentException("code length mismatch: " + $code.length + " vs " + $m);
         |}
         |double $acc = 0.0;
         |for (int $j = 0; $j < $m; $j++) {
         |  $acc += $lutRef[$j * $ksub + ($code[$j] & 0xFF)];
         |}
         |${ev.value} = Math.sqrt($acc);
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** pq_adc_distance_cells(code, cell): ADC distance against RESIDUAL codes of
  * an IVF-PQ layout — each cell has its own lookup table (the query residual
  * `q − centroid(cell)` against every sub-codeword), so the scan picks the
  * row's table by its `cell` value and pays the same m byte-indexed lookups
  * as the single-LUT form plus one binary search over the (sorted, ≤ k)
  * probed-cell ids. `luts(i)` belongs to `cellIds(i)`; total table bytes are
  * cells·m·ksub doubles — k=256/m=16/ksub=256 is 8 MB, a broadcast-sized
  * plan constant, independent of corpus size. */
case class PqAdcDistanceCells(left: Expression, right: Expression,
                              cellIds: Array[Long], luts: Array[Array[Double]], ksub: Int)
    extends BinaryExpression with ExpectsInputTypes {
  require(ksub >= 1 && ksub <= 256, s"ksub must be in 1..256, got $ksub")
  require(cellIds.nonEmpty && cellIds.length == luts.length,
    s"${cellIds.length} cell ids vs ${luts.length} LUTs")
  require((1 until cellIds.length).forall(i => cellIds(i - 1) < cellIds(i)),
    "cellIds must be strictly ascending (binary-searched per row)")
  require(luts.forall(l => l.length == luts(0).length && l.length % ksub == 0),
    "ragged or non-ksub-multiple LUTs")

  private val m = luts(0).length / ksub

  override def prettyName: String = "pq_adc_distance_cells"
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, LongType)
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any, cell: Any): Any = {
    val code = v.asInstanceOf[Array[Byte]]
    if (code.length != m)
      throw new IllegalArgumentException(s"code length mismatch: ${code.length} vs $m")
    val idx = java.util.Arrays.binarySearch(cellIds, cell.asInstanceOf[Long])
    if (idx < 0)
      throw new IllegalArgumentException(s"row cell $cell is not among the probed cells")
    val lut = luts(idx)
    var acc = 0.0; var j = 0
    while (j < m) { acc += lut(j * ksub + (code(j) & 0xFF)); j += 1 }
    math.sqrt(acc)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cell) => {
      val idsRef = ctx.addReferenceObj("pqCellIds", cellIds, "long[]")
      val lutsRef = ctx.addReferenceObj("pqCellLuts", luts, "double[][]")
      val code = ctx.freshName("code"); val acc = ctx.freshName("acc")
      val j = ctx.freshName("j"); val idx = ctx.freshName("idx")
      val lut = ctx.freshName("lut")
      s"""
         |final byte[] $code = $v;
         |if ($code.length != $m) {
         |  throw new IllegalArgumentException("code length mismatch: " + $code.length + " vs " + $m);
         |}
         |final int $idx = java.util.Arrays.binarySearch($idsRef, $cell);
         |if ($idx < 0) {
         |  throw new IllegalArgumentException("row cell " + $cell + " is not among the probed cells");
         |}
         |final double[] $lut = $lutsRef[$idx];
         |double $acc = 0.0;
         |for (int $j = 0; $j < $m; $j++) {
         |  $acc += $lut[$j * $ksub + ($code[$j] & 0xFF)];
         |}
         |${ev.value} = Math.sqrt($acc);
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** pq_decode(code): the reconstruction x̂ = concat_j cents(j)(code_j) — the
  * decode side of [[PqEncode]]. Arithmetically, euclidean(q, pq_decode(code))
  * IS the ADC distance (√Σ_j ‖q_j − c_j‖²), which makes a MULTI-query ADC
  * ranking expressible without per-query LUT kernels: reconstruct once per
  * row (a column), distance per (row, query) pair — the shape the PQ-rung
  * recall audit needs, where the query side is a sampled table rather than
  * one plan-constant vector. Single-query serving stays on the LUT kernels
  * ([[PqAdcDistance]]): m table lookups beat dim multiply-adds. */
case class PqDecode(child: Expression, cents: Array[Array[Array[Float]]])
    extends UnaryExpression with ExpectsInputTypes {
  require(cents.nonEmpty && cents.forall(_.nonEmpty), "codebook must be non-empty")
  private val m = cents.length
  private val dim = cents.map(_(0).length).sum

  override def prettyName: String = "pq_decode"
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any = {
    val code = v.asInstanceOf[Array[Byte]]
    if (code.length != m)
      throw new IllegalArgumentException(s"code length mismatch: ${code.length} vs $m")
    val out = new Array[Float](dim)
    var off = 0; var j = 0
    while (j < m) {
      val cw = cents(j)(code(j) & 0xFF)
      System.arraycopy(cw, 0, out, off, cw.length)
      off += cw.length; j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val centsRef = ctx.addReferenceObj("pqCents", cents, "float[][][]")
      val code = ctx.freshName("code"); val out = ctx.freshName("out")
      val off = ctx.freshName("off"); val j = ctx.freshName("j")
      val cw = ctx.freshName("cw")
      s"""
         |final byte[] $code = $v;
         |if ($code.length != $m) {
         |  throw new IllegalArgumentException("code length mismatch: " + $code.length + " vs " + $m);
         |}
         |final float[] $out = new float[$dim];
         |int $off = 0;
         |for (int $j = 0; $j < $m; $j++) {
         |  final float[] $cw = $centsRef[$j][$code[$j] & 0xFF];
         |  System.arraycopy($cw, 0, $out, $off, $cw.length);
         |  $off += $cw.length;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The per-version IVF-PQ serving sidecar an executor needs to build ADC
  * tables ITSELF: sorted cell ids, their centroids, and the codebook —
  * broadcast ONCE per (collection, version), fetched once per executor via
  * the block manager. Total bytes: cells·dim + m·ksub·dsub floats (~256 KB
  * at the 256-cell/128-d serving config), independent of query traffic. */
case class PqBcSidecar(cellIds: Array[Long], cents: Array[Array[Float]],
                       cb: Array[Array[Array[Float]]], ksub: Int) {
  require(cellIds.length == cents.length, "cellIds/centroids length mismatch")
  require((1 until cellIds.length).forall(i => cellIds(i - 1) < cellIds(i)),
    "cellIds must be strictly ascending (binary-searched per row)")
  // the PqCodebook.adcLut contract, enforced ONCE at broadcast build: a
  // truncated/over-full sidecar subspace must refuse loudly here, not
  // leave zero (or corrupted) LUT regions that silently promote rows into
  // the served top-K
  require(cb.nonEmpty, "empty codebook")
  cb.zipWithIndex.foreach { case (sub, j) =>
    require(sub.length == ksub, s"subspace $j has ${sub.length} codewords, expected $ksub")
  }
}

object PqBcKernel {
  /** One cell's residual ADC table — REPLICATES `PqCodebook.adcLut` over
    * the float residual `q − cent` bit-for-bit (float subtraction first,
    * then double accumulation in array order), so the executor-built table
    * equals the driver-built one exactly (PqSpec pins it). */
  def residualLut(cb: Array[Array[Array[Float]]], cent: Array[Float],
                  q: Array[Float], ksub: Int): Array[Double] = {
    val m = cb.length
    var jv = 0 // adcLut's per-subspace count check (direct callers bypass
    while (jv < m) { // the sidecar constructor's validation)
      require(cb(jv).length == ksub,
        s"subspace $jv has ${cb(jv).length} codewords, expected $ksub")
      jv += 1
    }
    val rq = new Array[Float](q.length)
    var i0 = 0
    while (i0 < q.length) { rq(i0) = q(i0) - cent(i0); i0 += 1 }
    val lut = new Array[Double](m * ksub)
    var off = 0
    var j = 0
    while (j < m) {
      val sub = cb(j)
      var c = 0
      while (c < sub.length) {
        val cc = sub(c)
        var acc = 0.0; var i = 0
        while (i < cc.length) {
          val t = rq(off + i).toDouble - cc(i).toDouble; acc += t * t; i += 1
        }
        lut(j * ksub + c) = acc
        c += 1
      }
      off += sub(0).length
      j += 1
    }
    lut
  }
}

/** pq_adc_distance_cells_bc(code, cell, query): [[PqAdcDistanceCells]] with
  * the lookup tables computed EXECUTOR-SIDE — the 100 TB form. That kernel
  * ships cells·m·ksub doubles as a per-REQUEST plan constant (8 MB at the
  * 256/16/256 serving config, 128 MB at 4096 cells, serialized into every
  * query's task binary); this one ships the QUERY VECTOR (dim floats) and
  * reads the stable per-version sidecar from a broadcast (fetched once per
  * executor, ever), building each cell's table lazily on first touch per
  * partition-instance — with a cell-partitioned snapshot a task usually
  * touches ONE cell, so the per-task build is m·ksub·dsub flops, not
  * cells×that. Tables are bit-identical to the driver-built ones
  * ([[PqBcKernel.residualLut]]; PqSpec pins exact equality).
  *
  * `query` is an EXPRESSION — a literal on the plan-per-call path, a
  * swappable placeholder on the prepared one — resolved to float[] once
  * per partition-instance alongside the broadcast value. */
case class PqAdcDistanceCellsBc(code: Expression, cell: Expression, query: Expression,
                                bc: org.apache.spark.broadcast.Broadcast[PqBcSidecar])
    extends TernaryExpression with ExpectsInputTypes {
  // the query resolves ONCE per partition-instance — a per-row query column
  // would silently score every row against the first row's query. Checked
  // at ANALYSIS (construction may see an unresolved column-bridge wrapper
  // that only folds to a Literal during resolution).
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (base.isFailure) base
    else if (!query.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "pq_adc_distance_cells_bc requires a plan-constant query " +
          "(literal or prepared placeholder)")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }
  override def first: Expression = code
  override def second: Expression = cell
  override def third: Expression = query

  override def prettyName: String = "pq_adc_distance_cells_bc"
  override def inputTypes: Seq[AbstractDataType] =
    Seq(BinaryType, LongType, ArrayType(FloatType, containsNull = false))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  // interpreted fallback's per-INSTANCE caches, mirroring the codegen
  // path's mutable state — tasks deserialize their own expression tree, so
  // these are per-task, never shared across threads. Without them the
  // fallback rebuilds the full residual table per ROW (~33k flops at the
  // 16/256/8 config — minutes over 1M rows where the cached form is the
  // same m lookups as the plan-constant kernel). The query is enforced
  // plan-constant (checkInputDataTypes), so caching it is sound.
  @transient private[this] var evalLuts: Array[Array[Double]] = _

  override def nullSafeEval(v: Any, cellV: Any, qV: Any): Any = {
    val s = bc.value
    val code = v.asInstanceOf[Array[Byte]]
    val ksub = s.ksub
    val m = s.cb.length
    if (code.length != m)
      throw new IllegalArgumentException(s"code length mismatch: ${code.length} vs $m")
    val idx = java.util.Arrays.binarySearch(s.cellIds, cellV.asInstanceOf[Long])
    if (idx < 0)
      throw new IllegalArgumentException(
        s"row cell $cellV is not among the layout's cells")
    if (evalLuts == null) evalLuts = new Array[Array[Double]](s.cellIds.length)
    var lut = evalLuts(idx)
    if (lut == null) {
      lut = PqBcKernel.residualLut(s.cb, s.cents(idx),
        qV.asInstanceOf[ArrayData].toFloatArray(), ksub)
      evalLuts(idx) = lut
    }
    var acc = 0.0; var j = 0
    while (j < m) { acc += lut(j * ksub + (code(j) & 0xFF)); j += 1 }
    math.sqrt(acc)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("pqBc", bc,
      "org.apache.spark.broadcast.Broadcast")
    // per-partition-instance lazies: the broadcast value, the resolved
    // query floats, and the per-cell LUT cache (each entry built on first
    // touch — a new generated-class instance per execution, so a prepared
    // plan's swapped query literal re-resolves cleanly)
    val side = ctx.addMutableState("org.apache.spark.sql.graft.PqBcSidecar", "pqBcSide")
    val qArr = ctx.addMutableState("float[]", "pqBcQuery")
    val lutCache = ctx.addMutableState("double[][]", "pqBcLuts")
    nullSafeCodeGen(ctx, ev, (v, cellV, qV) => {
      val code = ctx.freshName("code"); val acc = ctx.freshName("acc")
      val j = ctx.freshName("j"); val idx = ctx.freshName("idx")
      val lut = ctx.freshName("lut"); val m = ctx.freshName("m")
      val ks = ctx.freshName("ks")
      s"""
         |if ($side == null) {
         |  $side = (org.apache.spark.sql.graft.PqBcSidecar) $bcRef.value();
         |  $qArr = $qV.toFloatArray();
         |  $lutCache = new double[$side.cellIds().length][];
         |}
         |final byte[] $code = $v;
         |final int $m = $side.cb().length;
         |final int $ks = $side.ksub();
         |if ($code.length != $m) {
         |  throw new IllegalArgumentException("code length mismatch: " + $code.length + " vs " + $m);
         |}
         |final int $idx = java.util.Arrays.binarySearch($side.cellIds(), $cellV);
         |if ($idx < 0) {
         |  throw new IllegalArgumentException("row cell " + $cellV + " is not among the layout's cells");
         |}
         |double[] $lut = $lutCache[$idx];
         |if ($lut == null) {
         |  $lut = org.apache.spark.sql.graft.PqBcKernel.residualLut(
         |    $side.cb(), $side.cents()[$idx], $qArr, $ks);
         |  $lutCache[$idx] = $lut;
         |}
         |double $acc = 0.0;
         |for (int $j = 0; $j < $m; $j++) {
         |  $acc += $lut[$j * $ks + ($code[$j] & 0xFF)];
         |}
         |${ev.value} = Math.sqrt($acc);
       """.stripMargin
    })
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                 t: Expression): Expression =
    copy(code = f, cell = s, query = t)
}
