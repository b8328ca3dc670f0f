package graft.ann

/** The ordering/heap/fan-out contract SHARED by the driver-local serving
  * indexes ([[LocalIvfIndex]] floats, [[LocalPqIndex]] ADC codes): one
  * definition of the `(round6(dist), id)` total order that both must keep
  * identical to the distributed scans they stand in for — a tweak to the
  * near-tie window or the merge lives here once, so the two serving rungs
  * and the distributed ordering cannot drift apart silently. */
private[ann] object LocalTopK {

  /** (round6(dist), id) ordering — the SAME total order as the distributed
    * probes (`orderBy round(dist,6) asc, id asc`). Fast path: when the raw
    * distances differ by more than 2e-6 the rounded values are guaranteed
    * to differ in the same direction (rounding moves each value < 0.5e-6),
    * so BigDecimal rounding only runs on genuine near-ties. */
  def cmp(a: (AnyRef, Double), b: (AnyRef, Double)): Int =
    cmpAt(a, b, 2e-6, graft.functions.DistKernels.round6)

  /** The multi-vector rung's (round8(−score), id) order — the mirror of
    * MultiVectorSearch's `orderBy round(weighted, 8) desc, id asc` with the
    * score carried NEGATED (so lower = better, like the distance rungs). */
  def cmp8(a: (AnyRef, Double), b: (AnyRef, Double)): Int =
    cmpAt(a, b, 2e-8, LocalMultiIndex.round8)

  private def cmpAt(a: (AnyRef, Double), b: (AnyRef, Double),
                    tol: Double, round: Double => Double): Int = {
    val c =
      if (math.abs(a._2 - b._2) > tol) java.lang.Double.compare(a._2, b._2)
      else java.lang.Double.compare(round(a._2), round(b._2))
    if (c != 0) c
    else a._1 match {
      case x: Comparable[_] => x.asInstanceOf[Comparable[AnyRef]].compareTo(b._1)
      case _ => 0
    }
  }

  /** Bounded max-heap on (dist, id) (worst of the best k at the head). */
  def newHeap(topK: Int,
              order: ((AnyRef, Double), (AnyRef, Double)) => Int = cmp) =
    new java.util.PriorityQueue[(AnyRef, Double)](
      math.max(topK, 1),
      (a: (AnyRef, Double), b: (AnyRef, Double)) => order(b, a))

  /** Per-cell fan-out + k-way merge: scan each probed cell on the common
    * pool (one task per cell, local top-k), merge the per-cell sets into
    * one best-first Seq — the in-process analog of the reference's
    * per-shard goroutine fan-out (edge/none_vectorstore.go:148-178). */
  def scanAndMerge(probed: Seq[Long], scanCell: Long => Array[(AnyRef, Double)],
                   topK: Int,
                   order: ((AnyRef, Double), (AnyRef, Double)) => Int = cmp)
      : Seq[(AnyRef, Double)] = {
    val perCell: Seq[Array[(AnyRef, Double)]] =
      if (probed.length <= 1) probed.map(scanCell)
      else {
        import java.util.concurrent.CompletableFuture
        probed
          .map(cid => CompletableFuture.supplyAsync(() => scanCell(cid)))
          .map(_.join())
      }
    val heap = newHeap(topK, order)
    perCell.foreach(_.foreach { e =>
      if (heap.size < topK) heap.add(e)
      else if (order(e, heap.peek()) < 0) { heap.poll(); heap.add(e) }
    })
    val out = new Array[(AnyRef, Double)](heap.size)
    var i = out.length - 1
    while (i >= 0) { out(i) = heap.poll(); i -= 1 }
    out.toSeq
  }
}
