package servebench

import scala.collection.mutable

/** Half-precision conversion written for the benchmark: IEEE 754 binary16,
  * round to nearest, ties to even. The oracle stores an f16 collection's
  * vectors through this round trip, so the engine's own quantizer is checked
  * against it rather than reused. */
object F16 {
  def toBits(f: Float): Int = {
    val x = java.lang.Float.floatToRawIntBits(f)
    val sign = (x >>> 16) & 0x8000
    val exp = (x >>> 23) & 0xff
    val mant = x & 0x7fffff
    if (exp == 0xff) return sign | 0x7c00 | (if (mant != 0) 0x200 else 0)
    val e = exp - 127 + 15
    if (e >= 0x1f) return sign | 0x7c00 // overflow to infinity
    if (e <= 0) {
      if (e < -10) return sign // underflow to signed zero
      // subnormal: shift the implicit-one mantissa into place, round to even
      val m = mant | 0x800000
      val shift = 14 - e
      val half = 1 << (shift - 1)
      val rest = m & ((1 << shift) - 1)
      var out = m >>> shift
      if (rest > half || (rest == half && (out & 1) == 1)) out += 1
      return sign | out
    }
    val rest = mant & 0x1fff
    var out = (e << 10) | (mant >>> 13)
    if (rest > 0x1000 || (rest == 0x1000 && (out & 1) == 1)) out += 1 // may carry into the exponent
    sign | out
  }

  def fromBits(h: Int): Float = {
    val sign = if ((h & 0x8000) != 0) -1.0f else 1.0f
    val exp = (h >>> 10) & 0x1f
    val mant = h & 0x3ff
    if (exp == 0) sign * mant * math.pow(2, -24).toFloat
    else if (exp == 0x1f) (if (mant == 0) sign * Float.PositiveInfinity else Float.NaN)
    else sign * java.lang.Float.intBitsToFloat(((exp - 15 + 127) << 23) | (mant << 13))
  }

  def roundTrip(f: Float): Float = fromBits(toBits(f))
}

/** How a collection stores a user vector: float32 L2 normalisation (cosine
  * collections), then the declared quantisation's round trip. */
final case class Storage(quantization: String) {
  require(Set("none", "f16").contains(quantization), s"unsupported quantization $quantization")

  def normalize(v: Array[Float]): Array[Float] = {
    var acc = 0.0f
    var i = 0
    while (i < v.length) { acc += v(i) * v(i); i += 1 }
    val n = math.sqrt(acc.toDouble).toFloat
    if (n == 0.0f) new Array[Float](v.length) else v.map(_ / n)
  }

  def store(v: Array[Float]): Array[Float] = {
    val n = normalize(v)
    if (quantization == "f16") n.map(F16.roundTrip) else n
  }
}

object Oracle {
  /** Spark's round(d, 6): HALF_UP on the exact binary value. */
  def round6(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else new java.math.BigDecimal(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Two rankings agree when every rank's distance matches within `tol` and
    * every returned id really has the distance reported for it. Ids may
    * permute only among equal distances. Returns the first disagreement. */
  def compareTopK(got: Seq[(String, Double)], want: Seq[(String, Double)],
                  exactOf: String => Option[Double], tol: Double = 1.5e-6): Option[String] = {
    if (got.size != want.size) return Some(s"${got.size} rows, expected ${want.size}")
    if (got.map(_._1).distinct.size != got.size) return Some(s"duplicate ids in $got")
    got.zip(want).zipWithIndex.foreach { case (((gid, gd), (wid, wd)), r) =>
      if (math.abs(gd - wd) > tol) return Some(s"rank $r: $gid@$gd vs expected $wid@$wd")
      exactOf(gid) match {
        case None => return Some(s"rank $r: id $gid is not in the live set")
        case Some(d) if math.abs(d - gd) > tol => return Some(s"rank $r: $gid reported $gd, exact $d")
        case _ => ()
      }
    }
    None
  }

  /** |got ∩ want| / |want|, where a returned id counts as a hit when its
    * exact distance is no farther than the k-th expected distance (ties at
    * the boundary are interchangeable). */
  def recall(got: Seq[String], want: Seq[(String, Double)], exactOf: String => Option[Double]): Double =
    if (want.isEmpty) 1.0
    else {
      val kth = want.last._2
      val wantIds = want.map(_._1).toSet
      val hits = got.distinct.count(id => wantIds(id) || exactOf(id).exists(_ <= kth + 1e-12))
      math.min(hits, want.size).toDouble / want.size
    }
}

/** The benchmark's own model of a collection's live set: every row it
  * ingested or wrote, in stored form, with upserts replacing and deletes
  * removing rows. Brute-force top-k runs over it in double precision. */
final class LiveSet(dim: Int, storage: Storage) {
  private val slotOf = mutable.HashMap.empty[String, Int]
  private val ids = mutable.ArrayBuffer.empty[String]
  private val tags = mutable.ArrayBuffer.empty[String]
  private val cats = mutable.ArrayBuffer.empty[String]
  private var vecs = new Array[Float](1024 * dim)
  private var norms = new Array[Double](1024)
  private var alive = new Array[Boolean](1024)
  private var live = 0

  def size: Int = live

  private def grow(): Unit = if (ids.size == alive.length) {
    vecs = java.util.Arrays.copyOf(vecs, vecs.length * 2)
    norms = java.util.Arrays.copyOf(norms, norms.length * 2)
    alive = java.util.Arrays.copyOf(alive, alive.length * 2)
  }

  /** Upsert a user row; `raw` is the vector as the client sent it. */
  def upsert(id: String, raw: Array[Float], tag: String, cat: String): Unit = {
    val stored = storage.store(raw)
    val slot = slotOf.getOrElseUpdate(id, {
      grow(); ids += id; tags += ""; cats += ""; ids.size - 1
    })
    if (!alive(slot)) live += 1
    alive(slot) = true
    tags(slot) = tag; cats(slot) = cat
    System.arraycopy(stored, 0, vecs, slot * dim, dim)
    var nb = 0.0; var i = 0
    while (i < dim) { val y = stored(i).toDouble; nb += y * y; i += 1 }
    norms(slot) = nb
  }

  /** Delete every live row whose tag equals `tag`; returns the deleted ids. */
  def deleteTag(tag: String): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var s = 0
    while (s < ids.size) {
      if (alive(s) && tags(s) == tag) { alive(s) = false; live -= 1; out += ids(s) }
      s += 1
    }
    out.toSeq
  }

  def isLive(id: String): Boolean = slotOf.get(id).exists(alive(_))
  def catOf(id: String): Option[String] = slotOf.get(id).filter(alive(_)).map(cats(_))
  def tagOf(id: String): Option[String] = slotOf.get(id).filter(alive(_)).map(tags(_))
  /** The live rows' count and order-independent hash of (id, tag, cat): what
    * a reload must reproduce, small enough to outlive the model. */
  def digest: (Int, Int) = LiveSet.digest(ids.indices.filter(alive(_)).map(s => (ids(s), tags(s), cats(s))))

  /** Bytes a user stored for the live set: the float32 vector plus the UTF-8
    * scalar fields. */
  def userBytes: Long = ids.indices.filter(alive(_)).map(s =>
    4L * dim + ids(s).length + tags(s).length + cats(s).length).sum

  /** The query exactly as the engine scores it: stored form of the query. */
  def prepare(q: Array[Float]): Array[Float] = storage.store(q)

  /** Rounded exact distance from prepared query `pq` to a live row. */
  def distanceTo(pq: Array[Float], id: String): Option[Double] =
    slotOf.get(id).filter(alive(_)).map(s => Oracle.round6(dist(pq, qNorm(pq), s)))

  private def qNorm(pq: Array[Float]): Double = {
    var na = 0.0; var i = 0
    while (i < dim) { val x = pq(i).toDouble; na += x * x; i += 1 }
    na
  }

  /** |1 - cos(q, row)| accumulated in double, in index order. */
  private def dist(pq: Array[Float], na: Double, s: Int): Double = {
    var dot = 0.0; var i = 0; val off = s * dim
    while (i < dim) { dot += pq(i).toDouble * vecs(off + i).toDouble; i += 1 }
    math.abs(1.0 - dot / (math.sqrt(na) * math.sqrt(norms(s))))
  }

  /** Top-k live rows for prepared query `pq`, ordered by (rounded distance,
    * id), optionally restricted to one `cat` value. */
  def topK(pq: Array[Float], k: Int, cat: Option[String] = None): Seq[(String, Double)] = {
    val na = qNorm(pq)
    val heap = mutable.PriorityQueue.empty[(Double, String)] // max-heap on (dist, id)
    var s = 0
    while (s < ids.size) {
      if (alive(s) && cat.forall(_ == cats(s))) {
        val raw = dist(pq, na, s)
        // rounding moves a distance by at most 5e-7, so a row this far past
        // the current k-th cannot enter; skipping it avoids a BigDecimal
        if (heap.size < k || raw <= heap.head._1 + 1e-6) {
          val d = Oracle.round6(raw)
          if (heap.size < k) heap.enqueue((d, ids(s)))
          else {
            val (hd, hid) = heap.head
            if (d < hd || (d == hd && ids(s) < hid)) { heap.dequeue(); heap.enqueue((d, ids(s))) }
          }
        }
      }
      s += 1
    }
    heap.toSeq.sortBy(t => (t._1, t._2)).map(t => (t._2, t._1))
  }
}

object LiveSet {
  def digest(rows: Iterable[(String, String, String)]): (Int, Int) =
    (rows.size, scala.util.hashing.MurmurHash3.unorderedHash(rows))
}
