package graft.ann

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.col

/** The resident rows of a driver-local serving rung, grouped by cell: per
  * cell, the pk array, ONE flat stored-form array per field (float[] |
  * short[] | byte[] | long[] words, a fixed stride per field) and the typed
  * filter store ([[LocalMeta]]). [[LocalIvfIndex]], [[LocalMultiIndex]],
  * [[LocalPqIndex]] and [[LocalBinIndex]] keep only their layout sidecar
  * (centroids, codebook, thresholds) and their own scan loop over this
  * store; the cells-less PQ and binary layouts live in the one cell
  * [[CellStore.NoCell]]. The store owns the only load loop
  * ([[CellStore.load]]) and the only O(changes) fold ([[applyChanges]]), so
  * the four rungs' stored forms and fold costs cannot drift apart.
  *
  * Memory: rows stay in their STORED form — the serving node holds exactly
  * what disk holds (4·dim bytes per f32 vector, half on f16/bf16, a
  * quarter on f8, m bytes per PQ code, ceil(dim/8) bytes per sign code
  * rounded up to whole long words). */
private[ann] final class CellStore private (
    fields: Array[CellStore.Field],
    cellIds: java.util.HashMap[Long, Array[AnyRef]],
    cellData: java.util.HashMap[Long, Array[AnyRef]],
    cellMeta: java.util.HashMap[Long, LocalMeta],
    /** Zero-row store carrying the BUILT column spec — the validation
      * authority, so an unknown filter column refuses even when every cell
      * is empty (a delta chain can delete the whole collection; the typo
      * must not hide until data returns). */
    spec: LocalMeta,
    /** The stored form's name in refusals (the quantization, or pq / bin). */
    form: String) extends Serializable {
  import CellStore._

  def cellCount: Int = cellIds.size()
  def size: Long = {
    var n = 0L; cellIds.values.forEach(a => n += a.length); n
  }
  def filterableColumns: Set[String] = spec.columns

  /** Resident bytes of the stored payload across every field. */
  def payloadBytes: Long = {
    var n = 0L
    cellData.values.forEach(_.zip(fields).foreach { case (a, f) =>
      n += java.lang.reflect.Array.getLength(a).toLong * ElemBytes(f.kind) })
    n
  }

  /** Cell `cid`'s pks, or null when the cell holds no rows. */
  def ids(cid: Long): Array[AnyRef] = cellIds.get(cid)
  /** Cell `cid`'s flat stored-form arrays, one per field (cast once per
    * scanned cell, never per row). */
  def data(cid: Long): Array[AnyRef] = cellData.get(cid)

  /** Validate an EQ filter ONCE, synchronously, against the BUILT spec —
    * refuses unknown columns and bad value types even on an empty store (a
    * refusal raised inside the pool fan-out would surface wrapped in
    * CompletionException). */
  def checkFilter(eq: Seq[(String, Any)]): Unit = if (eq.nonEmpty) spec.predicate(eq)

  /** Cell `cid`'s compiled EQ row predicate — once per probed cell;
    * null = unfiltered (zero per-row cost beyond one predicted branch). */
  def predicate(cid: Long, eq: Seq[(String, Any)]): Int => Boolean =
    if (eq.isEmpty) null
    else Option(cellMeta.get(cid)).getOrElse(LocalMeta.Empty).predicate(eq)

  /** The one O(changes) fold ([[LocalRung.applyChanges]]'s contract): every
    * put is validated against the stored form first, then only touched
    * cells rebuild by copy, filter and append; untouched cells share their
    * arrays with this store. One pass over each cell's pks finds its first
    * struck row, and a touched cell's keep list starts there. */
  def applyChanges(struck: java.util.Set[AnyRef], puts: Seq[LocalRung.Put]): CellStore = {
    val specs = spec.specs
    puts.foreach { p =>
      require(p.payload.length == fields.length,
        s"put ${p.id}: expected ${fields.length} stored fields " +
          s"(${fields.map(_.label).mkString(", ")}), got ${p.payload.length}")
      p.payload.zip(fields).foreach { case (v, f) =>
        val len = (v, f.kind) match {
          case (a: Array[Float], Floats)          => a.length
          case (a: Array[Short], Shorts)          => a.length
          case (a: Array[Byte], Bytes | Words)    => a.length
          case (other, _) => throw new IllegalArgumentException(
            s"put ${p.id}: ${f.label} stored form " +
              s"${if (other == null) "null" else other.getClass.getSimpleName} " +
              s"does not match index quantization '$form'")
        }
        require(len == f.width, s"put ${p.id}: ${f.label} is $len${f.unit}, ${f.rule}")
      }
      require(p.metaValues.length == specs.length,
        s"put ${p.id}: expected ${specs.length} meta values " +
          s"(${specs.map(_._1).mkString(", ")}), got ${p.metaValues.length}")
    }
    val putsByCell = puts.groupBy(_.cell)
    // cell -> index of its first struck row (-1: touched by puts only)
    val touched = new java.util.LinkedHashMap[Long, Integer]()
    if (!struck.isEmpty) cellIds.forEach { (cid, ids) =>
      val first = ids.indexWhere(struck.contains)
      if (first >= 0) touched.put(cid, first)
    }
    putsByCell.keys.foreach(cid => touched.putIfAbsent(cid, -1))
    if (touched.isEmpty) return this
    val newIds = new java.util.HashMap[Long, Array[AnyRef]](cellIds)
    val newData = new java.util.HashMap[Long, Array[AnyRef]](cellData)
    val newMeta = new java.util.HashMap[Long, LocalMeta](cellMeta)
    touched.forEach { (cid, first) =>
      val oldIds = Option(cellIds.get(cid)).getOrElse(Array.empty[AnyRef])
      val kept: Array[Int] =
        if (first < 0) Array.range(0, oldIds.length)
        else {
          val keep = Array.newBuilder[Int]
          keep ++= Array.range(0, first)
          var i = first + 1
          while (i < oldIds.length) {
            if (!struck.contains(oldIds(i))) keep += i
            i += 1
          }
          keep.result()
        }
      val cellPuts = putsByCell.getOrElse(cid, Seq.empty)
      val n = kept.length + cellPuts.length
      if (n == 0) { newIds.remove(cid); newData.remove(cid); newMeta.remove(cid) }
      else {
        val ids2 = new Array[AnyRef](n)
        var j = 0
        while (j < kept.length) { ids2(j) = oldIds(kept(j)); j += 1 }
        cellPuts.zipWithIndex.foreach { case (p, k) => ids2(kept.length + k) = p.id }
        val oldData = cellData.get(cid)
        // rows move only via System.arraycopy — no element reads, no boxing
        val data2 = Array.tabulate[AnyRef](fields.length) { fi =>
          val f = fields(fi); val s = f.stride
          val out = newArray(f.kind, n * s)
          var r = 0
          while (r < kept.length) {
            System.arraycopy(oldData(fi), kept(r) * s, out, r * s, s); r += 1
          }
          var k = 0
          while (k < cellPuts.length) {
            val v = cellPuts(k).payload(fi)
            val stored = if (f.kind == Words) toWords(v.asInstanceOf[Array[Byte]]) else v
            System.arraycopy(stored, 0, out, (kept.length + k) * s, s)
            k += 1
          }
          out
        }
        newIds.put(cid, ids2)
        newData.put(cid, data2)
        if (specs.nonEmpty) {
          val mb = new LocalMeta.Builder(specs)
          val src = Option(cellMeta.get(cid)).getOrElse(LocalMeta.Empty)
          kept.foreach(r => mb.add(src.valuesAt(r)))
          cellPuts.foreach(p => mb.add(p.metaValues))
          newMeta.put(cid, mb.result())
        }
      }
    }
    new CellStore(fields, newIds, newData, newMeta, spec, form)
  }
}

private[ann] object CellStore {

  /** Cell key of the cells-less layouts (PQ without IVF cells, binary). */
  val NoCell = -1L

  // element type of a field's flat array
  final val Floats = 0
  final val Shorts = 1
  final val Bytes = 2
  /** byte[] codes on load and in puts, resident as big-endian long words */
  final val Words = 3
  private val ElemBytes = Array(4, 2, 1, 8)

  /** One stored field: `width` values per row (bytes for a [[Words]]
    * field); `label`, `unit` and `rule` word its refusals — e.g.
    * "vector is 3-dim, index dim is 4" or "code is 5 B, layout m=8". */
  final case class Field(label: String, kind: Int, width: Int, unit: String, rule: String) {
    /** Stored elements per row. */
    val stride: Int = if (kind == Words) (width + 7) >> 3 else width
  }

  /** The element type a quantized vector is stored as. */
  def vectorKind(quant: String): Int = quant match {
    case "none"         => Floats
    case "f16" | "bf16" => Shorts
    case "f8"           => Bytes
    case other => throw new IllegalArgumentException(s"unknown quantization: $other")
  }

  /** 0 = float-resident, 1 = f16 shorts, 2 = bf16 shorts, 3 = f8 bytes —
    * the decode mode of the vector rungs' scan loops. */
  def decodeMode(quant: String): Int = quant match {
    case "none" => 0; case "f16" => 1; case "bf16" => 2; case "f8" => 3
  }

  private def newArray(kind: Int, n: Int): AnyRef = kind match {
    case Floats => new Array[Float](n)
    case Shorts => new Array[Short](n)
    case Bytes  => new Array[Byte](n)
    case _      => new Array[Long](n)
  }

  private def newBuilder(kind: Int): ArrayBuilder[_] = kind match {
    case Floats => new ArrayBuilder.ofFloat
    case Shorts => new ArrayBuilder.ofShort
    case Bytes  => new ArrayBuilder.ofByte
    case _      => new ArrayBuilder.ofLong
  }

  /** Byte codes (MSB-first, BinEncode layout) → big-endian long words,
    * zero-padded — identical padding both sides, so tail bits never
    * contribute to the XOR. */
  def toWords(code: Array[Byte]): Array[Long] = {
    val out = new Array[Long]((code.length + 7) >> 3)
    var i = 0
    while (i < code.length) {
      out(i >> 3) |= (code(i) & 0xFFL) << ((7 - (i & 7)) << 3)
      i += 1
    }
    out
  }

  /** Build the store from `df` in ONE pass over
    * [[LocalLoad.boundedIterator]] (one parallel collect job for provably
    * small inputs; partition-streamed above the budget so the transient
    * footprint stays one partition). `cell` is the long cell column (a
    * literal [[NoCell]] for cells-less layouts), `payload` one column per
    * field in its stored form, and `metaCols` = (columnName, declared
    * fieldType) pairs loaded as typed per-cell arrays ([[LocalMeta]]). */
  def load(df: DataFrame, idCol: String, cell: Column, payload: Seq[Column],
           fields: Seq[Field], metaCols: Seq[(String, String)], form: String): CellStore = {
    val fs = fields.toArray
    val nf = fs.length
    val rows = df.select(col(idCol) +: cell +: payload ++: metaCols.map { case (n, _) => col(n) }: _*)
    val idsB = new java.util.HashMap[Long, ArrayBuilder[AnyRef]]()
    val dataB = new java.util.HashMap[Long, Array[ArrayBuilder[_]]]()
    val metaB = new java.util.HashMap[Long, LocalMeta.Builder]()
    val it = LocalLoad.boundedIterator(rows)
    while (it.hasNext) {
      val r = it.next()
      val cid = r.getLong(1)
      var ib = idsB.get(cid)
      if (ib == null) {
        ib = ArrayBuilder.make[AnyRef]
        idsB.put(cid, ib)
        dataB.put(cid, fs.map(f => newBuilder(f.kind)))
        if (metaCols.nonEmpty) metaB.put(cid, new LocalMeta.Builder(metaCols))
      }
      val db = dataB.get(cid)
      var fi = 0
      while (fi < nf) { append(fs(fi), r, 2 + fi, db(fi)); fi += 1 }
      ib += r.get(0).asInstanceOf[AnyRef]
      if (metaCols.nonEmpty)
        metaB.get(cid).add(metaCols.indices.map(j => r.get(2 + nf + j)))
    }
    val ids = new java.util.HashMap[Long, Array[AnyRef]]()
    val data = new java.util.HashMap[Long, Array[AnyRef]]()
    val metas = new java.util.HashMap[Long, LocalMeta]()
    idsB.forEach((k, b) => ids.put(k, b.result()))
    dataB.forEach((k, bs) => data.put(k, bs.map(_.result().asInstanceOf[AnyRef])))
    metaB.forEach((k, b) => metas.put(k, b.result()))
    new CellStore(fs, ids, data, metas, new LocalMeta.Builder(metaCols).result(), form)
  }

  /** Append row `r`'s column `i` to field `f`'s builder, refusing a null or
    * wrong-width value (the kind is a per-field int match — no string
    * dispatch in a load the bench times). */
  private def append(f: Field, r: Row, i: Int, b: ArrayBuilder[_]): Unit = {
    def check(len: Int): Unit =
      if (len != f.width) bad(s"$len${f.unit}")
    def bad(what: String): Nothing = throw new IllegalArgumentException(
      s"row ${r.get(0)}: ${f.label} is $what, ${f.rule}")
    if (r.isNullAt(i)) bad("null")
    f.kind match {
      case Floats =>
        val v = r.getSeq[Float](i); check(v.length)
        RowArrays.appendFloats(v, b.asInstanceOf[ArrayBuilder.ofFloat])
      case Shorts =>
        val v = r.getSeq[Short](i); check(v.length)
        RowArrays.appendShorts(v, b.asInstanceOf[ArrayBuilder.ofShort])
      case Bytes =>
        val v = r.getAs[Array[Byte]](i); check(v.length)
        b.asInstanceOf[ArrayBuilder.ofByte].addAll(v, 0, v.length)
      case _ =>
        val v = r.getAs[Array[Byte]](i); check(v.length)
        val w = toWords(v)
        b.asInstanceOf[ArrayBuilder.ofLong].addAll(w, 0, w.length)
    }
  }
}
