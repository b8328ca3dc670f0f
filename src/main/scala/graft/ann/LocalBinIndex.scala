package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Driver-local binary serving index — the DENSITY-scale rung below
  * [[LocalPqIndex]] on the serving ladder: that index holds m-byte PQ codes
  * (16 MB per 1M at m=16), this one holds the packed SIGN-BIT layout
  * (ceil(dim/8) bytes — 8 MB per 1M at 64 d, 16 MB at 128 d) and the scan
  * is pure integer work: per vector, `w` XOR+POPCNT word operations and one
  * compare, no FP pipeline, no lookup tables, no allocation. The trade is
  * the coarsest approximation on the ladder: Hamming over sign bits ranks
  * candidates for an exact rerank ([[graft.collection.GraftCatalog.searchBinary]]'s
  * second pass), it is not a distance estimate like ADC.
  *
  * Concurrency: the contiguous code array splits into fixed stripes that
  * scan on the common pool through the shared [[LocalTopK]] fan-out/merge —
  * the same order contract as every other serving rung, so `(round6(dist),
  * id)` ranking cannot drift from the distributed Hamming scan (Hamming
  * distances are exact small integers, so round6 is the identity and ties
  * resolve purely on id).
  */
final class LocalBinIndex private (
    /** One cell ([[CellStore.NoCell]]) of packed code words: n·w longs,
      * vector i at [i·w, i·w+w). */
    store: CellStore,
    val dim: Int,
    thresholds: Array[Double],
    stripes: Int) extends LocalRung with Serializable {

  private val w = LocalBinIndex.wordsPerVec(dim)

  def size: Long = store.size
  /** Resident bytes of the code payload (the density-scale claim). */
  def codeBytes: Long = store.payloadBytes
  /** Columns available to [[search]]'s EQ filter (empty unless the index
    * was built with `metaCols`). */
  def filterableColumns: Set[String] = store.filterableColumns

  /** Hamming top-k over all vectors (no cells — the whole scan is cheaper
    * than one ADC cell probe). Returns (id, hammingDistance) best-first:
    * candidates for an exact rerank, or the approximate answer. The query
    * is a FLOAT vector — encoded here against the trained thresholds, the
    * same both-sides-quantized contract as the distributed scan.
    *
    * `eqFilter` is the conjunctive-EQ pre-filter ([[LocalIvfIndex.search]]'s
    * contract): failing rows skip BEFORE the XOR+POPCNT loop, so the result
    * equals the distributed `searchBinary(filter)`'s pass 1 over the same
    * snapshot. Needs the index built with the named columns — unknown
    * columns refuse loudly. */
  def search(q: Array[Float], topK: Int,
             eqFilter: Seq[(String, Any)] = Nil): Seq[(AnyRef, Double)] = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(q.length == dim, s"vector dimension mismatch: expected $dim, got ${q.length}")
    val qw = CellStore.toWords(
      org.apache.spark.sql.graft.BinEncode.pack(q, thresholds))
    // the filter validates (an unknown column REFUSES) even when the store
    // is empty — never a silently-unfiltered answer
    store.checkFilter(eqFilter)
    val ids = store.ids(CellStore.NoCell)
    if (ids == null) return Seq.empty
    val words = store.data(CellStore.NoCell)(0).asInstanceOf[Array[Long]]
    val pred = store.predicate(CellStore.NoCell, eqFilter)
    val n = ids.length
    val per = math.max(1, (n + stripes - 1) / stripes)
    def scanStripe(s: Long): Array[(AnyRef, Double)] = {
      val start = s.toInt * per
      val end = math.min(n, start + per)
      val heap = LocalTopK.newHeap(topK)
      // integer admission gate: Hamming values are exact ints, so a code
      // can only displace the heap head when acc <= head (ties resolve on
      // id) — no sqrt/rounding window needed
      var gate = Long.MaxValue
      var i = start
      while (i < end) {
        if (pred == null || pred(i)) {
          var acc = 0L; var j = 0; val base = i * w
          while (j < w) {
            acc += java.lang.Long.bitCount(words(base + j) ^ qw(j)); j += 1
          }
          if (acc <= gate) {
            val e = (ids(i), acc.toDouble)
            if (heap.size < topK) {
              heap.add(e)
              if (heap.size == topK) gate = heap.peek()._2.toLong
            } else if (LocalTopK.cmp(e, heap.peek()) < 0) {
              heap.poll(); heap.add(e)
              gate = heap.peek()._2.toLong
            }
          }
        }
        i += 1
      }
      heap.toArray(new Array[(AnyRef, Double)](0))
    }
    val nStripes = math.min(stripes, ((n + per - 1) / per))
    LocalTopK.scanAndMerge((0 until nStripes).map(_.toLong), scanStripe, topK)
  }

  /** [[LocalRung.applyChanges]] on the one-cell store: puts carry the
    * segment-encoded packed byte code (ceil(dim/8) B, the chain base's
    * thresholds — the sidecar this index already holds); the cell is
    * ignored. Cost is one O(corpus) pass with no Spark read or re-encode,
    * vs the full reload's snapshot stream. */
  def applyChanges(struck: java.util.Set[AnyRef], puts: Seq[LocalRung.Put]): LocalBinIndex =
    new LocalBinIndex(store.applyChanges(struck, puts.map(_.copy(cell = CellStore.NoCell))),
      dim, thresholds, stripes)
}

object LocalBinIndex {

  private[ann] def wordsPerVec(dim: Int): Int = (((dim + 7) >> 3) + 7) >> 3

  /** Build from a flushed binary snapshot's (id, packedCode) columns + the
    * threshold sidecar — via [[LocalLoad.boundedIterator]] (small inputs
    * collect in one parallel job; large ones stream so the transient
    * footprint is one partition). `stripes` bounds the scan fan-out
    * (default: the common-pool parallelism). `metaCols` = (columnName,
    * declared fieldType) pairs loaded as typed arrays ([[LocalMeta]]) for
    * [[LocalBinIndex.search]]'s conjunctive-EQ filter. */
  def fromCodes(snapshot: DataFrame, idCol: String, codeCol: String,
                dim: Int, thresholds: Array[Double],
                stripes: Int = Runtime.getRuntime.availableProcessors(),
                metaCols: Seq[(String, String)] = Nil): LocalBinIndex = {
    require(thresholds.length == dim,
      s"thresholds dimension mismatch: ${thresholds.length} vs $dim")
    require(stripes >= 1, "stripes must be >= 1")
    val nb = (dim + 7) >> 3
    val store = CellStore.load(snapshot, idCol, lit(CellStore.NoCell), Seq(col(codeCol)),
      Seq(CellStore.Field("code", CellStore.Words, nb, " B", s"layout needs ceil($dim/8)=$nb")),
      metaCols, "bin")
    new LocalBinIndex(store, dim, thresholds, stripes)
  }
}
