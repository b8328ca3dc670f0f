package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ann.Ann
import graft.functions.{DistKernels, top_cells}

/** `DistKernels.round6` is Spark's `round(d, 6)`, and the probe paths share
  * one admission rule. */
class DistKernelsSpec extends SparkSpec {

  private val crafted = Seq(0.1234565, -0.1234565, 5e-7, -5e-7, 4.9999999e-7, 1.5e-6,
    0.9999995, 1.0000005, 2.0000005, 123456.0000005, 0.0, -0.0, 1e-300, 1e20, 3.14159265)

  test("round6 equals Spark's round(d, 6), folded and codegen'd, and passes NaN and ±∞ through") {
    val rnd = new scala.util.Random(7)
    val values = crafted ++ Seq.fill(200)((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(8) - 3))
    // Spark's literal path (constant-folded) ...
    val folded = spark.range(1).select(values.map(d => round(lit(d), 6)): _*).head()
    // ... and its per-row codegen path
    val schema = StructType(Seq(StructField("d", DoubleType)))
    val perRow = spark.createDataFrame(spark.sparkContext.parallelize(values.map(Row(_)), 2), schema)
      .select(round(col("d"), 6)).collect().map(_.getDouble(0))
    values.zipWithIndex.foreach { case (d, i) =>
      assert(DistKernels.round6(d) === folded.getDouble(i), s"folded round($d, 6)")
      assert(DistKernels.round6(d) === perRow(i), s"row round($d, 6)")
    }
    // the exact-binary form the local rungs used to round with disagrees
    // on a half-way value; Spark and round6 round it up
    assert(DistKernels.round6(0.1234565) === 0.123457)
    assert(new java.math.BigDecimal(0.1234565).setScale(6, java.math.RoundingMode.HALF_UP)
      .doubleValue() === 0.123456)
    assert(DistKernels.round6(5e-7) === 1e-6)
    assert(DistKernels.round6(Double.NaN).isNaN)
    assert(DistKernels.round6(Double.PositiveInfinity) === Double.PositiveInfinity)
    assert(DistKernels.round6(Double.NegativeInfinity) === Double.NegativeInfinity)
    assert(spark.range(1).select(round(lit(Double.NaN), 6)).head().getDouble(0).isNaN)
  }

  test("an infinite distance is admitted, after every finite one, by top_cells and probeCells alike") {
    import spark.implicits._
    val cents = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)), (2L, Array(2.0f, 2.0f)))
    // every euclidean distance of this query is +∞: the cid order decides
    val q = Array(Float.PositiveInfinity, 0.0f)
    val kernel = Seq(Tuple1(q.toSeq)).toDF("v")
      .select(top_cells(col("v"), cents, "euclidean", 2)).head().getSeq[Long](0)
    assert(kernel === Seq(0L, 1L))
    assert(Ann.probeCells(cents, q, 2, "euclidean") === Seq(0L, 1L))
  }

  test("probeCells refuses a query of the wrong dimension and an unknown metric") {
    val cents = Seq((0L, Array(1.0f, 0.0f, 0.0f)))
    val e = intercept[IllegalArgumentException](Ann.probeCells(cents, Array(1.0f, 0.0f), 1, "cosine"))
    assert(e.getMessage === "vector dimension mismatch: 2 vs 3")
    val m = intercept[IllegalArgumentException](Ann.probeCells(cents, Array(1f, 0f, 0f), 1, "hamming"))
    assert(m.getMessage === "unknown metric: hamming")
  }
}
