package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.DistKernels

/** Driver-local IVF serving index — the point-latency answer to the
  * reference's in-process HNSW (core/vectorindex/hnsw.go:243-278, ~0.87 ms
  * per 1M-vector search, UPDATE-LOG.md:142). The Spark-first split: the
  * CLUSTER builds the index (k-means centroids + cell-partitioned snapshot,
  * `GraftCatalog.flush` with `ivfCells`), and this class loads that batch
  * artifact into flat primitive arrays for in-process probes — no Spark job,
  * no ~40-60 ms dispatch floor, sub-millisecond at 1M×128 with nprobe=8
  * (measured in LocalIvfIndexSpec / BENCH `ivf_local_search_1m`).
  *
  * Memory: vectors stay resident in their STORED form — one flat array per
  * cell: float[] (4 B/dim — 512 MB per 1M×128) for unquantized collections,
  * short[] (2 B/dim) for f16/bf16 storage, byte[] (1 B/dim) for f8 — so the
  * serving node holds exactly what disk holds, like [[LocalMultiIndex]].
  * Quantized rows decode per probe into a per-scan scratch buffer before the
  * shared distance kernel (loop fission, the fused kernel's discipline);
  * decode-to-float is exact, so results are bit-identical to the
  * decoded-resident form (LocalIvfIndexSpec pins all three modes). Beyond
  * what a serving node holds, shard cells across serving replicas or fall
  * back to the distributed probe (`GraftCatalog.searchIvf`).
  *
  * Exactness contract: inside the probed cells the scan is exact (same
  * double-accumulation distance as the engine expressions); recall vs the
  * full exact scan is the IVF nprobe/k trade, identical to the distributed
  * probe over the same layout.
  */
final class LocalIvfIndex private (
    centroids: Array[(Long, Array[Float])],
    /** One stored-form field per cell: float[] | short[] | byte[] by `quant`. */
    store: CellStore,
    val dim: Int,
    metric: String,
    quant: String) extends LocalRung with Serializable {

  private val kernel = DistKernels.metricCode(metric)
  private val format = CellStore.decodeFormat(quant)

  def cellCount: Int = store.cellCount
  def size: Long = store.size
  /** Columns available to [[search]]'s EQ filter (empty unless the index
    * was built with `metaCols`). */
  def filterableColumns: Set[String] = store.filterableColumns

  /** Probe the `nprobe` nearest cells, exact top-k inside — all in-process.
    * Probed cells scan in parallel on the common pool (one task per cell,
    * local top-k, merged on the caller) — the in-process analog of the
    * reference's per-shard goroutine fan-out
    * (edge/none_vectorstore.go:148-178).
    *
    * `eqFilter` is the conjunctive-EQ pre-filter (S3 semantics, the
    * reference's inverted-index fast path, pkg/inverted/search.go:32-46):
    * rows failing any (column = value) term are skipped BEFORE scoring, so
    * the result equals the distributed `searchIvf(filter)` over the same
    * snapshot at the same nprobe (probed cells depend only on the query —
    * the filter never changes WHICH cells are probed, exactly like the
    * distributed pre-filter conjunct). Requires the index to have been
    * built with the named columns ([[LocalIvfIndex.fromAssigned]]'s
    * `metaCols`) — an unknown column refuses loudly, never scans
    * unfiltered. */
  def search(q: Array[Float], topK: Int, nprobe: Int,
             eqFilter: Seq[(String, Any)] = Nil): Seq[(AnyRef, Double)] = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(q.length == dim, s"vector dimension mismatch: expected $dim, got ${q.length}")
    store.checkFilter(eqFilter)
    val probed = LocalIvfIndex.selectCells(centroids, q, nprobe, kernel)
    def scanCell(cid: Long): Array[(AnyRef, Double)] = {
      val ids = store.ids(cid)
      if (ids == null) return Array.empty
      // typed view + scratch resolved ONCE per cell: the unquantized hot
      // path indexes a plain float array with no per-row dispatch or cast;
      // quantized rows decode into the scratch before the shared float
      // kernel (loop fission — decode-to-float is exact, so the result is
      // bit-identical to the decoded-resident form)
      val raw = store.data(cid)(0)
      val fvecs: Array[Float] = if (format == 0) raw.asInstanceOf[Array[Float]] else null
      val scratch: Array[Float] = if (format == 0) null else new Array[Float](dim)
      def rowDist(i: Int): Double =
        if (format == 0) DistKernels.distance(kernel, fvecs, i * dim, q, 0, dim)
        else {
          DistKernels.decode(format, raw, i * dim, scratch, dim)
          DistKernels.distance(kernel, scratch, 0, q, 0, dim)
        }
      val pred = store.predicate(cid, eqFilter)
      val heap = LocalTopK.newHeap(topK)
      // Admission gate: once the heap is full, a vector can only displace
      // the head if d <= head + 2e-6 (beyond that, cmp resolves on the raw
      // doubles — see cmp's fast path), so the overwhelming majority of
      // scanned vectors skip the tuple allocation and comparator call.
      var gate = Double.MaxValue
      var i = 0
      while (i < ids.length) {
        if (pred == null || pred(i)) {
          val d = rowDist(i)
          if (d <= gate) {
            val e = (ids(i), d)
            if (heap.size < topK) {
              heap.add(e)
              if (heap.size == topK) gate = heap.peek()._2 + 2e-6
            } else if (LocalTopK.cmp(e, heap.peek()) < 0) {
              heap.poll(); heap.add(e)
              gate = heap.peek()._2 + 2e-6
            }
          }
        }
        i += 1
      }
      heap.toArray(new Array[(AnyRef, Double)](0))
    }
    LocalTopK.scanAndMerge(probed, scanCell, topK)
  }

  /** [[LocalRung.applyChanges]]: puts carry their segment-decorated cell
    * and ONE stored-form vector matching the index quantization. */
  def applyChanges(struck: java.util.Set[AnyRef], puts: Seq[LocalRung.Put]): LocalIvfIndex =
    new LocalIvfIndex(centroids, store.applyChanges(struck, puts), dim, metric, quant)
}

object LocalIvfIndex {

  /** The `nprobe` nearest cell ids by insertion into primitive parallel
    * arrays — no tuple boxing, no full sort of k cells; the
    * `(round(dist, 6), cid)` order of the `top_cells` kernel (the ONE probe
    * contract, also behind [[graft.ann.Ann.probeCells]]). A NaN distance
    * (a corrupt query) admits no cell; `metric` is a [[DistKernels]] code. */
  private[ann] def selectCells(centroids: Array[(Long, Array[Float])],
                               q: Array[Float], nprobe: Int, metric: Int): Seq[Long] = {
    val np = math.min(nprobe, centroids.length)
    if (np <= 0) return Seq.empty
    val bestIds = new Array[Long](np)
    val bestD = new Array[Double](np)
    var filled = 0
    def before(d: Double, cid: Long, slot: Int): Boolean =
      d < bestD(slot) || (d == bestD(slot) && cid < bestIds(slot))
    var ci = 0
    while (ci < centroids.length) {
      val (cid, cv) = centroids(ci)
      if (cv.length != q.length)
        throw new IllegalArgumentException(s"vector dimension mismatch: ${q.length} vs ${cv.length}")
      val d = DistKernels.round6(DistKernels.distance(metric, cv, 0, q, 0, q.length))
      if (!d.isNaN && (filled < np || before(d, cid, np - 1))) {
        var ins = math.min(filled, np - 1)
        while (ins > 0 && before(d, cid, ins - 1)) {
          bestD(ins) = bestD(ins - 1); bestIds(ins) = bestIds(ins - 1); ins -= 1
        }
        bestD(ins) = d; bestIds(ins) = cid
        if (filled < np) filled += 1
      }
      ci += 1
    }
    bestIds.take(filled).toSeq
  }

  // ordering + heap + fan-out live in [[LocalTopK]], shared with
  // LocalPqIndex so the two serving rungs cannot drift apart

  /** Build from an assigned DataFrame (columns: id, vector in its STORED
    * form — array<float>, f16/bf16 shorts, or f8 bytes per `quant` —, cell)
    * + the trained centroids — brought to the driver via
    * [[LocalLoad.boundedIterator]] (one parallel collect job for provably
    * small inputs; partition-streamed above the threshold so the transient
    * footprint stays one partition, not the whole collection).
    *
    * `metaCols` = (columnName, declared fieldType) pairs to load as typed
    * per-cell arrays ([[LocalMeta]]) so [[LocalIvfIndex.search]]'s
    * conjunctive-EQ filter can serve in-process — ~9 bytes/row/column next
    * to the ≤4·dim the vectors cost. Quantized loads take PRE-PREPARED
    * query vectors at search time like every local rung. */
  def fromAssigned(assigned: DataFrame, idCol: String, vecCol: String,
                   centroids: Seq[(Long, Array[Float])], metric: String,
                   metaCols: Seq[(String, String)] = Nil,
                   quant: String = "none"): LocalIvfIndex = {
    val kind = CellStore.vectorKind(quant)
    // dim comes from the trained centroids, not the first data row — an
    // empty (or fully-filtered) assigned set must build a searchable empty
    // index, not one whose every probe fails with "expected -1".
    require(centroids.nonEmpty, "fromAssigned requires at least one centroid")
    val dim = centroids.head._2.length
    // `cell` comes back as Int when read from a partitionBy directory —
    // normalize to long
    val store = CellStore.load(assigned, idCol, col("cell").cast("long"),
      Seq(LocalRung.storedCol(vecCol, quant)),
      Seq(CellStore.Field("vector", kind, dim, "-dim", s"index dim is $dim")), metaCols, quant)
    new LocalIvfIndex(centroids.sortBy(_._1).toArray, store, dim, metric, quant)
  }
}
