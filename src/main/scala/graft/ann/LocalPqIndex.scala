package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Driver-local ADC serving index — the MEMORY-scale rung of the serving
  * ladder that [[LocalIvfIndex]] starts: that index holds raw floats
  * (4·dim bytes/vector — 512 MB per 1M×128), this one holds the flushed PQ
  * CODE layout (m bytes/vector — 16 MB per 1M at m=16, 32× smaller), so a
  * serving node can keep far larger collections resident and answer probes
  * in-process with no Spark job. The trade is the PQ approximation: probes
  * rank by asymmetric distance (per-query lookup tables); exact top-k needs
  * the rerank repair over the candidates' stored floats, which stays a
  * (bounded, id-pruned) snapshot read — [[graft.collection.GraftCatalog.searchPq]]'s
  * rerank path, or a [[LocalIvfIndex]] kept beside this one when memory
  * allows.
  *
  * Layout awareness: built from an IVF-PQ snapshot the codes are RESIDUALS
  * (vec − cellCentroid, see GraftCatalog.flush) and each probed cell scans
  * against its own table (`adcLut(q − centroid)`); built from a cells-less
  * PQ snapshot everything lives in one implicit cell with the plain
  * query LUT. Ranking matches the distributed ADC scan's
  * `(round6(adc), id)` order — pinned against `searchPq(rerank = false)`
  * in LocalPqIndexSpec.
  */
final class LocalPqIndex private (
    centroids: Array[(Long, Array[Float])], // empty for a cells-less layout
    /** One m-byte code field per cell ([[CellStore.NoCell]] when cells-less). */
    store: CellStore,
    cb: PqCodebook,
    val dim: Int,
    metric: String,
    residual: Boolean) extends LocalRung with Serializable {

  def cellCount: Int = store.cellCount
  def size: Long = store.size
  /** Resident bytes of the code payload (the memory-scale claim). */
  def codeBytes: Long = store.payloadBytes
  /** Columns available to [[search]]'s EQ filter (empty unless the index
    * was built with `metaCols`). */
  def filterableColumns: Set[String] = store.filterableColumns

  /** O(1) centroid lookup for per-cell residual tables (the linear
    * `centroids.find` was O(k) per probed cell). */
  private val centroidByCid: java.util.HashMap[Long, Array[Float]] = {
    val h = new java.util.HashMap[Long, Array[Float]]()
    centroids.foreach { case (cid, cv) => h.put(cid, cv) }
    h
  }

  /** ADC top-k: probe the `nprobe` nearest cells (all, when the layout has
    * no cells), build each probed cell's lookup table once, scan its m-byte
    * codes with a bounded heap. Probed cells scan in parallel on the common
    * pool (one task per cell, local top-k, merged on the caller — the same
    * fan-out as [[LocalIvfIndex.search]]); inside the scan loop a
    * squared-ADC admission gate rejects codes that cannot make the heap
    * BEFORE the sqrt + tuple allocation — the hot loop allocates nothing
    * for the overwhelming majority of scanned codes. Returns
    * (id, adcDistance) best-first — candidates for an exact rerank, or
    * directly the approximate answer.
    *
    * `eqFilter` is the conjunctive-EQ pre-filter ([[LocalIvfIndex.search]]'s
    * contract, the reference's inverted-index fast path): rows failing any
    * (column = value) term skip BEFORE the ADC loop, so the result equals
    * the distributed `searchPq(rerank = false, filter)` over the same
    * snapshot at the same nprobe (the filter never changes WHICH cells are
    * probed). Needs the index built with the named columns
    * ([[LocalPqIndex.fromCodes]]'s `metaCols`) — unknown columns refuse
    * loudly, never scan unfiltered. */
  def search(q: Array[Float], topK: Int, nprobe: Int,
             eqFilter: Seq[(String, Any)] = Nil): Seq[(AnyRef, Double)] = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(q.length == dim, s"vector dimension mismatch: expected $dim, got ${q.length}")
    store.checkFilter(eqFilter)
    val m = cb.m
    val ksub = cb.ksub
    val probed: Seq[Long] =
      if (centroids.isEmpty) Seq(CellStore.NoCell)
      else LocalIvfIndex.selectCells(centroids, q, nprobe, metric)
    def scanCell(cid: Long): Array[(AnyRef, Double)] = {
      val ids = store.ids(cid)
      if (ids == null) return Array.empty
      val codes = store.data(cid)(0).asInstanceOf[Array[Byte]]
      val lut = lutFor(cid, q)
      val pred = store.predicate(cid, eqFilter)
      val heap = LocalTopK.newHeap(topK)
      // Admission bound in the SQUARED domain: an element can only displace
      // the heap head if dist <= head + 2e-6 (beyond that, cmp resolves on
      // the raw doubles — see cmp's fast path), so acc > (head + 2e-6)²
      // can be skipped without sqrt, tuple, or comparator work.
      var gate = Double.MaxValue
      var i = 0
      while (i < ids.length) {
        if (pred == null || pred(i)) {
          var acc = 0.0; var j = 0; val base = i * m; var lutOff = 0
          while (j < m) {
            acc += lut(lutOff + (codes(base + j) & 0xFF)); lutOff += ksub; j += 1
          }
          if (acc <= gate) {
            val e = (ids(i), math.sqrt(acc))
            if (heap.size < topK) {
              heap.add(e)
              if (heap.size == topK) { val w = heap.peek()._2 + 2e-6; gate = w * w }
            } else if (LocalTopK.cmp(e, heap.peek()) < 0) {
              heap.poll(); heap.add(e)
              val w = heap.peek()._2 + 2e-6; gate = w * w
            }
          }
        }
        i += 1
      }
      heap.toArray(new Array[(AnyRef, Double)](0))
    }
    LocalTopK.scanAndMerge(probed, scanCell, topK)
  }

  private def lutFor(cid: Long, q: Array[Float]): Array[Double] =
    if (!residual) cb.adcLut(q)
    else {
      val cv = centroidByCid.get(cid)
      cb.adcLut(Array.tabulate(q.length)(i => q(i) - cv(i)))
    }

  /** [[LocalRung.applyChanges]]: puts carry their segment-encoded m-byte
    * code, already raw/residual per THIS layout (decorateSegment encodes
    * against the chain base's codebook, the sidecar this index holds); the
    * cell is ignored on a cells-less layout. */
  def applyChanges(struck: java.util.Set[AnyRef], puts: Seq[LocalRung.Put]): LocalPqIndex =
    new LocalPqIndex(centroids, store.applyChanges(struck,
      if (centroids.isEmpty) puts.map(_.copy(cell = CellStore.NoCell)) else puts),
      cb, dim, metric, residual)
}

object LocalPqIndex {

  /** Build from a flushed PQ snapshot's (id, code[, cell]) columns + the
    * codebook sidecar — via [[LocalLoad.boundedIterator]] (small inputs
    * collect in one parallel job; large ones stream so the transient
    * footprint is one partition). `centroids` empty ⇒ cells-less layout.
    * `residual` is the SNAPSHOT'S recorded code layout (the pq sidecar's
    * flag — see GraftCatalog.flush): true ⇒ codes quantize
    * vec − cellCentroid and probes use per-cell tables; false ⇒ raw codes,
    * one plain query LUT (cells, when present, still direct probing).
    * Defaults to the flush convention (cells ⇒ residual) for callers
    * outside the catalog.
    *
    * `metaCols` = (columnName, declared fieldType) pairs loaded as typed
    * per-cell arrays ([[LocalMeta]]) for [[LocalPqIndex.search]]'s
    * conjunctive-EQ filter — ~9 bytes/row/column next to the m bytes the
    * codes cost. */
  def fromCodes(snapshot: DataFrame, idCol: String, codeCol: String,
                cb: PqCodebook, centroids: Seq[(Long, Array[Float])],
                metric: String, cellCol: Option[String],
                residual: Boolean = true,
                metaCols: Seq[(String, String)] = Nil): LocalPqIndex = {
    val m = cb.m
    val store = CellStore.load(snapshot, idCol,
      cellCol.fold(lit(CellStore.NoCell))(col(_).cast("long")), Seq(col(codeCol)),
      Seq(CellStore.Field("code", CellStore.Bytes, m, " B", s"layout m=$m")), metaCols, "pq")
    // residual tables need centroids; a cells-less layout is always raw
    new LocalPqIndex(centroids.sortBy(_._1).toArray, store, cb, cb.dim, metric,
      residual = residual && centroids.nonEmpty)
  }
}
