// Same private[sql]-visibility rationale as VectorExpressions.scala.
package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._

import graft.functions.{DistKernels, QuantKernels}

/** Vector quantization (SURVEY.md §2.8 F6-F8): encode-on-write column
  * transforms + decode expressions. Storage mapping (§1.4): f16/bf16 →
  * `ArrayType(ShortType)`, f8 → `BinaryType` (1 byte/dim — the size the
  * reference's `LowerSize` miscounts as 2·dim, edge/f8_quantization.go:57-59).
  *
  * At 100 TB the quantized column is what's persisted (2-4× smaller scans);
  * decode runs inside whole-stage codegen during scoring, so a quantized
  * search is scan-bound, not decode-bound.
  */
object QuantFormats {
  val all = Seq("f16", "bf16", "f8")
  def storageType(format: String): DataType = format match {
    case "f16" | "bf16" => ArrayType(ShortType, containsNull = false)
    case "f8"           => BinaryType
    case other          => throw new IllegalArgumentException(s"unknown quantization: $other")
  }
}

case class QuantizeVector(child: Expression, format: String)
    extends UnaryExpression with ExpectsInputTypes {
  require(QuantFormats.all.contains(format), s"unknown quantization: $format")
  override def prettyName: String = s"quantize_$format"
  // declared like every sibling expression: without it an array<double>
  // child passes analysis and getFloat reads half of each 8-byte slot —
  // silently corrupt codes instead of an analysis error
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = QuantFormats.storageType(format)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    format match {
      case "f16" =>
        val out = new Array[Short](n); var i = 0
        while (i < n) { out(i) = QuantKernels.floatToF16(a.getFloat(i)); i += 1 }
        UnsafeArrayData.fromPrimitiveArray(out)
      case "bf16" =>
        val out = new Array[Short](n); var i = 0
        while (i < n) { out(i) = QuantKernels.floatToBf16(a.getFloat(i)); i += 1 }
        UnsafeArrayData.fromPrimitiveArray(out)
      case "f8" =>
        val out = new Array[Byte](n); var i = 0
        while (i < n) { out(i) = QuantKernels.floatToF8(a.getFloat(i)); i += 1 }
        out
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = classOf[QuantKernels].getName
    val (elemJava, kernel) = format match {
      case "f16"  => ("short", s"$k.floatToF16")
      case "bf16" => ("short", s"$k.floatToBf16")
      case "f8"   => ("byte", s"$k.floatToF8")
    }
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i"); val out = ctx.freshName("out")
      val wrap =
        if (format == "f8") s"${ev.value} = $out;"
        else s"${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);"
      s"""
         |final int $n = $a.numElements();
         |final $elemJava[] $out = new $elemJava[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = $kernel($a.getFloat($i));
         |}
         |$wrap
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Fused quantized distance: decodes the stored f16/bf16/f8 vector into a
  * reused float buffer and runs the shared [[DistKernels]] kernel over it,
  * instead of materializing an intermediate float array per row
  * (dequantize → ArrayData → copy is two allocations + two copies per row
  * on the scan hot path). The query side is a foldable pre-decoded float[]
  * hoisted at codegen time. Decode-to-float is exact and the kernel is the
  * one distance(dequantize(x), q, metric) calls, so results are
  * bit-identical to the unfused pipeline (QuantizationSpec pins this).
  * Metrics: cosine / euclidean / manhattan / dot (dist = −dot). */
case class VecDistanceQuant(left: Expression, right: Expression,
                            format: String, metric: String)
    extends BinaryExpression with ExpectsInputTypes {
  require(QuantFormats.all.contains(format), s"unknown quantization: $format")
  require(VecDistanceQuant.metrics.contains(metric), s"unknown metric: $metric")
  override def prettyName: String = s"${metric}_distance_$format"
  override def inputTypes: Seq[AbstractDataType] =
    Seq(QuantFormats.storageType(format), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  private val fmt = DistKernels.formatCode(format)
  private val kernel = DistKernels.metricCode(metric)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val q = b.asInstanceOf[ArrayData].toFloatArray()
    val src: AnyRef =
      if (fmt == DistKernels.F8) a.asInstanceOf[Array[Byte]]
      else a.asInstanceOf[ArrayData].toShortArray()
    val n = java.lang.reflect.Array.getLength(src)
    require(n == q.length, s"vector dimension mismatch: $n vs ${q.length}")
    val x = new Array[Float](n)
    DistKernels.decode(fmt, src, 0, x, n)
    DistKernels.distance(kernel, x, 0, q, 0, n)
  }

  /** Codegen uses LOOP FISSION: decode into a REUSED per-operator float[]
    * buffer first, then run the metric kernel over pure float[] accesses.
    * A single loop interleaving the branchy decode call with the multi-
    * accumulator math defeats HotSpot's unrolling/vectorization — measured
    * 0.23 s vs 0.08 s for the fissioned form on the 1M×128 cached scan
    * (PLANS.md "f16 fused kernel" entry). Same evaluation order per
    * element, so results stay bit-identical to the unfused pipeline. */
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = classOf[DistKernels].getName
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      // per-operator scratch buffer: one allocation per task, not per row
      val buf = ctx.addMutableState("float[]", "quantDecodeBuf", v => s"$v = new float[0];")
      val (sa, prepA) =
        if (fmt == DistKernels.F8) (a, "")
        else {
          val v = ctx.freshName("sa")
          (v, s"final short[] $v = $a.toShortArray();\n")
        }
      val (qv, prepB) = CodegenVec.floatSide(ctx, right, b, "Q")
      s"""
         |$prepA$prepB
         |final int $n = $sa.length;
         |if ($n != $qv.length) {
         |  throw new IllegalArgumentException("vector dimension mismatch: " + $n + " vs " + $qv.length);
         |}
         |if ($buf.length < $n) $buf = new float[$n];
         |$k.decode($fmt, $sa, 0, $buf, $n);
         |${ev.value} = ${CodegenVec.distanceCall(metric, buf, qv, n)};
       """.stripMargin
    })
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object VecDistanceQuant {
  val metrics = Set("cosine", "euclidean", "manhattan", "dot")
}

case class DequantizeVector(child: Expression, format: String)
    extends UnaryExpression with ExpectsInputTypes {
  require(QuantFormats.all.contains(format), s"unknown quantization: $format")
  override def prettyName: String = s"dequantize_$format"
  // analysis-time check (matches the storage type [[QuantizeVector]]
  // emits) instead of a runtime ClassCastException on wrong-typed input
  override def inputTypes: Seq[AbstractDataType] = Seq(QuantFormats.storageType(format))
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any = {
    format match {
      case "f8" =>
        val bytes = v.asInstanceOf[Array[Byte]]
        val out = new Array[Float](bytes.length); var i = 0
        while (i < bytes.length) { out(i) = QuantKernels.f8ToFloat(bytes(i)); i += 1 }
        UnsafeArrayData.fromPrimitiveArray(out)
      case f =>
        val a = v.asInstanceOf[ArrayData]
        val n = a.numElements()
        val out = new Array[Float](n); var i = 0
        val dec: Short => Float =
          if (f == "f16") QuantKernels.f16ToFloat else QuantKernels.bf16ToFloat
        while (i < n) { out(i) = dec(a.getShort(i)); i += 1 }
        UnsafeArrayData.fromPrimitiveArray(out)
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = classOf[QuantKernels].getName
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i"); val out = ctx.freshName("out")
      val (len, get, kernel) = format match {
        case "f16"  => (s"$a.numElements()", (j: String) => s"$a.getShort($j)", s"$k.f16ToFloat")
        case "bf16" => (s"$a.numElements()", (j: String) => s"$a.getShort($j)", s"$k.bf16ToFloat")
        case "f8"   => (s"$a.length", (j: String) => s"$a[$j]", s"$k.f8ToFloat")
      }
      s"""
         |final int $n = $len;
         |final float[] $out = new float[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = $kernel(${get(i)});
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
