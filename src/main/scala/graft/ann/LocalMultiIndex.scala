package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Driver-local multi-vector (CFLAT) serving index — the point-latency rung
  * for collections with several named vector fields, completing the serving
  * ladder the single-vector layouts already have ([[LocalIvfIndex]] /
  * [[LocalPqIndex]] / [[LocalBinIndex]]). The reference's experimental
  * engine answers these queries from an in-process linear scan over every
  * vertex (multi_vector_vertex.go:111-124); here the CLUSTER builds the
  * routed IVF layout (`GraftCatalog.flush` on a multi-vector collection
  * with `ivfCells`) and this class loads the snapshot into flat primitive
  * arrays — probes select cells by the ROUTING field, the weighted
  * multi-field score runs exactly only inside them, no Spark job, no
  * dispatch floor.
  *
  * Ranking parity: the same total order as the distributed
  * [[graft.operators.MultiVectorSearch]] — weighted display score summed in
  * included-field order with double accumulation, ranked on its 8-dp
  * rounding DESCENDING with the id ascending tiebreak ([[LocalTopK.cmp8]]
  * over the NEGATED score), displayed at 4 dp. Recall vs the exact scan is
  * the routing-field nprobe/k trade, identical to
  * `GraftCatalog.searchMultiIvf` over the same layout (and certified by
  * `auditRecallMulti`).
  *
  * Memory: vectors stay resident in their STORED form — one flat array per
  * (cell, field): float[] (4 B/dim) for unquantized collections, short[]
  * (2 B/dim) for f16/bf16 storage, byte[] (1 B/dim) for f8 — so the
  * serving node holds exactly what disk holds (1 GB per 1M rows × two
  * 128-d float fields; half that on f16). Quantized rows decode per probe
  * into a per-scan scratch buffer before the shared distance kernel (the
  * distributed fused kernel's loop-fission discipline) — decode-to-float
  * is exact, so results stay bit-identical to the decoded-resident form. */
final class LocalMultiIndex private (
    centroids: Array[(Long, Array[Float])],
    fieldNames: Array[String],
    fieldDims: Array[Int],
    routingIdx: Int,
    /** Per cell: one stored-form flat array per field (float[] | short[] |
      * byte[], by `quant`). */
    store: CellStore,
    quant: String,
    metric: String) extends LocalRung with Serializable {

  def cellCount: Int = store.cellCount
  def size: Long = store.size
  /** The CFLAT rung loads no EQ store. */
  def filterableColumns: Set[String] = Set.empty
  def routingField: String = fieldNames(routingIdx)

  /** Probe the `nprobe` cells nearest the ROUTING field's query, exact
    * weighted top-k inside — all in-process. `fields` mirrors the
    * searchMulti request: every queried field needs a declared name and a
    * dim-matched vector; only `include = true` fields score, and their
    * ratios must sum to 100 (experimental_analyzer.go:143-154). The
    * routing field must be among the queried fields — probing needs its
    * query vector (same contract as searchMultiIvf). Query vectors must
    * be PRE-PREPARED (`GraftCatalog.prepareQueryVector`) like every local
    * rung. Output: (id, score) best-first, score at 4 dp. */
  def search(fields: Seq[LocalMultiIndex.FieldQ], topK: Int, nprobe: Int)
      : Seq[(AnyRef, Double)] = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val byName = fieldNames.zipWithIndex.toMap
    fields.foreach { f =>
      val idx = byName.getOrElse(f.name, throw new IllegalArgumentException(
        s"${f.name} is not a declared vector field of this index"))
      require(f.query.length == fieldDims(idx),
        s"vector dimension mismatch on ${f.name}: expected ${fieldDims(idx)}, " +
          s"got ${f.query.length}")
    }
    val included = fields.filter(_.include)
    require(included.nonEmpty, "at least one field must be included")
    val ratioSum = included.map(_.ratio).sum
    require(math.abs(ratioSum - 100.0) < 1e-9,
      s"included ratios must sum to 100, got $ratioSum")
    val routingQ = fields.find(_.name == fieldNames(routingIdx)).getOrElse(
      throw new IllegalArgumentException(
        s"probed multi-vector search needs a query for the routing field " +
          fieldNames(routingIdx))).query
    // resolved once per request: (field slot, query, weight) in INCLUDED
    // order — the summation order of the distributed expression
    val slots = included.map(f => byName(f.name)).toArray
    val queries = included.map(_.query).toArray
    val weights = included.map(_.ratio / 100.0).toArray
    val scoreMetric = if (metric == "cosine") "cosine" else "euclidean"
    val probed = LocalIvfIndex.selectCells(centroids, routingQ, nprobe, metric)
    val qmode = CellStore.decodeMode(quant)
    def scanCell(cid: Long): Array[(AnyRef, Double)] = {
      val ids = store.ids(cid)
      if (ids == null) return Array.empty
      val vecs = store.data(cid)
      // typed views + scratch resolved ONCE per cell: the unquantized hot
      // path indexes plain float arrays with no per-row dispatch or cast;
      // quantized rows decode into the scratch before the shared float
      // kernel (loop fission — the fused kernel's codegen discipline;
      // decode-to-float is exact so the result is bit-identical)
      val fvecs: Array[Array[Float]] =
        if (qmode == 0) vecs.map(_.asInstanceOf[Array[Float]]) else null
      val svecs: Array[Array[Short]] =
        if (qmode == 1 || qmode == 2) vecs.map(_.asInstanceOf[Array[Short]]) else null
      val bvecs: Array[Array[Byte]] =
        if (qmode == 3) vecs.map(_.asInstanceOf[Array[Byte]]) else null
      val scratch: Array[Array[Float]] =
        if (qmode == 0) null else fieldDims.map(new Array[Float](_))
      import graft.functions.QuantKernels
      def fieldDist(slot: Int, i: Int, q: Array[Float]): Double = {
        val dimF = fieldDims(slot)
        if (qmode == 0)
          LocalIvfIndex.dist(fvecs(slot), i * dimF, q, metric)
        else {
          val buf = scratch(slot); val off = i * dimF
          var j = 0
          qmode match {
            case 1 =>
              val ss = svecs(slot)
              while (j < dimF) { buf(j) = QuantKernels.f16ToFloat(ss(off + j)); j += 1 }
            case 2 =>
              val ss = svecs(slot)
              while (j < dimF) { buf(j) = QuantKernels.bf16ToFloat(ss(off + j)); j += 1 }
            case _ =>
              val bs = bvecs(slot)
              while (j < dimF) { buf(j) = QuantKernels.f8ToFloat(bs(off + j)); j += 1 }
          }
          LocalIvfIndex.dist(buf, 0, q, metric)
        }
      }
      val heap = LocalTopK.newHeap(topK, LocalTopK.cmp8)
      // admission gate on the NEGATED score (lower = better), same
      // discipline as LocalIvfIndex but at the 8-dp near-tie window
      var gate = Double.MaxValue
      var i = 0
      while (i < ids.length) {
        var s = 0.0
        var fi = 0
        while (fi < slots.length) {
          val d = fieldDist(slots(fi), i, queries(fi))
          val term = scoreMetric match {
            case "cosine" => (2.0 - d) / 2.0 * 100.0
            case _        => math.max(0.0, 100.0 - d)
          }
          s += term * weights(fi)
          fi += 1
        }
        val neg = -s
        if (neg <= gate) {
          val e = (ids(i), neg)
          if (heap.size < topK) {
            heap.add(e)
            if (heap.size == topK) gate = heap.peek()._2 + 2e-8
          } else if (LocalTopK.cmp8(e, heap.peek()) < 0) {
            heap.poll(); heap.add(e)
            gate = heap.peek()._2 + 2e-8
          }
        }
        i += 1
      }
      heap.toArray(new Array[(AnyRef, Double)](0))
    }
    LocalTopK.scanAndMerge(probed, scanCell, topK, LocalTopK.cmp8)
      .map { case (id, neg) => (id, LocalMultiIndex.round4(-neg)) }
  }

  /** [[LocalRung.applyChanges]]: puts carry the ROUTING field's
    * segment-assigned cell plus one stored-form vector per declared field
    * (aligned with this index's field order). */
  def applyChanges(struck: java.util.Set[AnyRef], puts: Seq[LocalRung.Put]): LocalMultiIndex =
    new LocalMultiIndex(centroids, fieldNames, fieldDims, routingIdx,
      store.applyChanges(struck, puts), quant, metric)
}

object LocalMultiIndex {

  /** One queried field: name, PRE-PREPARED query vector, weight ratio —
    * the [[graft.operators.MultiVectorSearch.FieldQuery]] shape without a
    * dependency on the operators package. */
  case class FieldQ(name: String, query: Array[Float], ratio: Double,
                    include: Boolean = true)

  /** Spark's `round(x, 8)` — BigDecimal HALF_UP, the rank rounding of
    * MultiVectorSearch's `__rank` column. */
  def round8(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else new java.math.BigDecimal(d).setScale(8, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Spark's `round(x, 4)` — the display-score rounding. */
  def round4(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else new java.math.BigDecimal(d).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Build from the assigned snapshot (columns: id, cell, one vector
    * column per declared field in its STORED form — array<float>,
    * f16/bf16 shorts, or f8 bytes per `quant`) + the routing-field
    * centroids — via [[LocalLoad.boundedIterator]] like every local-rung
    * loader (small inputs collect in one parallel job; large ones stream
    * at a one-partition transient footprint). `fields`
    * gives (name, dim) in DECLARED order; `routingName` must be one of
    * them. */
  def fromAssigned(assigned: DataFrame, idCol: String,
                   fields: Seq[(String, Int)],
                   centroids: Seq[(Long, Array[Float])], metric: String,
                   routingName: String, quant: String = "none"): LocalMultiIndex = {
    require(centroids.nonEmpty, "fromAssigned requires at least one centroid")
    require(fields.nonEmpty, "fromAssigned requires at least one vector field")
    val routingIdx = fields.indexWhere(_._1 == routingName)
    require(routingIdx >= 0, s"routing field $routingName is not among ${fields.map(_._1)}")
    val names = fields.map(_._1).toArray
    val dims = fields.map(_._2).toArray
    // a mismatched centroid sidecar must refuse at build time, not surface
    // as an index error (or a silently truncated distance) inside
    // selectCells — LocalIvfIndex.fromAssigned gets this for free by
    // deriving dim from the centroids
    require(centroids.head._2.length == dims(routingIdx),
      s"centroid dim ${centroids.head._2.length} does not match routing field " +
        s"$routingName's declared dim ${dims(routingIdx)}")
    val kind = CellStore.vectorKind(quant)
    val store = CellStore.load(assigned, idCol, col("cell").cast("long"),
      names.toSeq.map(LocalRung.storedCol(_, quant)),
      fields.map { case (n, d) => CellStore.Field(s"field $n", kind, d, "-dim", s"declared $d") },
      Nil, quant)
    new LocalMultiIndex(centroids.sortBy(_._1).toArray, names, dims, routingIdx,
      store, quant, metric)
  }
}
