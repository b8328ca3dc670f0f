package servebench

/** Hand-checked cases for the oracle. Every run executes them first; a
  * failure stops the run before any timing. */
object SelfTest {
  private var n = 0
  private def check(ok: Boolean, what: => String): Unit = {
    if (!ok) throw new AssertionError(s"oracle self-test failed: $what")
    n += 1
  }
  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-12

  def run(): Int = {
    n = 0
    // binary16 encodings from the IEEE 754 tables
    Seq(1.0f -> 0x3c00, -2.0f -> 0xc000, 65504f -> 0x7bff, 65520f -> 0x7c00,
      0.1f -> 0x2e66, (1f / 3) -> 0x3555, math.pow(2, -14).toFloat -> 0x0400,
      math.pow(2, -24).toFloat -> 0x0001, math.pow(2, -25).toFloat -> 0x0000,
      (1 + math.pow(2, -11)).toFloat -> 0x3c00, // tie rounds to even
      (1 + 3 * math.pow(2, -11)).toFloat -> 0x3c02, // tie rounds to even (up)
      (1 + math.pow(2, -10)).toFloat -> 0x3c01, 0.0f -> 0x0000, -0.0f -> 0x8000
    ).foreach { case (f, h) => check(F16.toBits(f) == h, f"f16($f) = ${F16.toBits(f)}%04x, want $h%04x") }
    check(F16.fromBits(0x3555) == 0.33325195f, "f16 0x3555 decodes to 0.33325195")
    check(F16.fromBits(0x0001) == math.pow(2, -24).toFloat, "f16 smallest subnormal")
    check(F16.fromBits(0xc000) == -2.0f, "f16 -2")

    // Spark's round(x, 6) is HALF_UP on the exact binary value
    check(Oracle.round6(0.1234567) == 0.123457, "round6 up")
    check(Oracle.round6(-0.1234564) == -0.123456, "round6 negative")
    check(Oracle.round6(0.9999999) == 1.0, "round6 carry")
    check(Oracle.round6(0.25) == 0.25, "round6 exact")

    // cosine distance |1 - cos|, rounded like the engine's output
    val d = new LiveSet(2, Storage("none"))
    d.upsert("x", Array(1f, 0f), "", ""); d.upsert("p", Array(2f, 0f), "", "")
    d.upsert("o", Array(-1f, 0f), "", ""); d.upsert("t", Array(4f, 3f), "", "")
    val e = d.prepare(Array(1f, 0f))
    check(d.distanceTo(e, "p").contains(0.0), "parallel")
    check(d.distanceTo(e, "o").contains(2.0), "opposite")
    check(d.distanceTo(d.prepare(Array(0f, 1f)), "x").contains(1.0), "orthogonal")
    check(d.distanceTo(d.prepare(Array(3f, 4f)), "t").contains(0.04), "3-4-5")
    check(d.distanceTo(e, "nope").isEmpty, "unknown id")

    // storage: float32 normalisation, then the f16 round trip
    val st = Storage("f16")
    check(Storage("none").store(Array(3f, 4f)).sameElements(Array(0.6f, 0.8f)), "normalise 3-4")
    check(st.store(Array(1f, 1f)).sameElements(Array(0.70703125f, 0.70703125f)), "f16 of 1/sqrt(2)")
    check(st.store(Array(0f, 0f)).sameElements(Array(0f, 0f)), "zero vector stays zero")

    // live set: upserts replace, deletes by tag remove, filters restrict
    val m = new LiveSet(2, Storage("none"))
    m.upsert("a", Array(1f, 0f), "t1", "x")
    m.upsert("b", Array(0f, 1f), "t2", "y")
    m.upsert("c", Array(1f, 1f), "t1", "x")
    val q = m.prepare(Array(1f, 0.1f))
    check(m.topK(q, 2).map(_._1) == Seq("a", "c"), s"top2 ${m.topK(q, 2)}")
    check(m.topK(q, 5, Some("y")).map(_._1) == Seq("b"), "category filter")
    check(m.deleteTag("t1").toSet == Set("a", "c") && m.size == 1, "delete by tag")
    check(m.topK(q, 2).map(_._1) == Seq("b"), "deleted rows are gone")
    m.upsert("b", Array(1f, 0f), "t3", "y")
    check(m.topK(q, 1).head._1 == "b" && m.tagOf("b").contains("t3"), "upsert replaces vector and tag")
    m.upsert("a", Array(0f, 1f), "t4", "x")
    check(m.size == 2 && m.digest == LiveSet.digest(Seq(("b", "t3", "y"), ("a", "t4", "x"))), "re-insert after delete")
    check(m.digest != LiveSet.digest(Seq(("a", "t1", "x"), ("b", "t3", "y"))), "digest sees a stale tag")
    check(m.userBytes == 2 * (8 + 1 + 2 + 1), s"user bytes ${m.userBytes}")
    // equal distances order by id
    val t = new LiveSet(2, Storage("none"))
    t.upsert("z", Array(0f, 1f), "", ""); t.upsert("y", Array(0f, 1f), "", "")
    check(t.topK(t.prepare(Array(0f, 1f)), 2).map(_._1) == Seq("y", "z"), "tie order by id")

    // ranking comparison: ties may permute, wrong distances may not
    val want = Seq("p" -> 0.1, "q" -> 0.1, "r" -> 0.3)
    val exact = Map("p" -> 0.1, "q" -> 0.1, "r" -> 0.3, "s" -> 0.5)
    check(Oracle.compareTopK(Seq("q" -> 0.1, "p" -> 0.1, "r" -> 0.3), want, exact.get).isEmpty, "tie permutation")
    check(Oracle.compareTopK(Seq("p" -> 0.1, "q" -> 0.1, "s" -> 0.3), want, exact.get).nonEmpty, "misreported distance")
    check(Oracle.compareTopK(Seq("p" -> 0.1, "q" -> 0.1, "u" -> 0.3), want, exact.get).nonEmpty, "dead id")
    check(Oracle.compareTopK(Seq("p" -> 0.1, "q" -> 0.1), want, exact.get).nonEmpty, "short answer")
    check(near(Oracle.recall(Seq("p", "s", "r"), want, exact.get), 2.0 / 3), "recall")
    check(near(Oracle.recall(Seq("q", "p", "r"), want, exact.get), 1.0), "full recall")
    n
  }
}
