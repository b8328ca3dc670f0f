package graft.ann

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col

/** What the catalog's one refresh path ([[graft.collection.GraftCatalog.refreshLocal]])
  * and the server's one rung cache need of a driver-local serving rung
  * ([[LocalIvfIndex]], [[LocalPqIndex]], [[LocalBinIndex]],
  * [[LocalMultiIndex]]): its size, its loaded filter columns, and the
  * O(changes) fold of one delta window — every rung folds through the
  * shared [[CellStore.applyChanges]]. Each rung overrides `applyChanges`
  * with its own type. */
trait LocalRung {
  def size: Long
  /** Columns available to the rung's EQ filter (empty unless built with
    * filter columns; always empty on the multi-vector rung). */
  def filterableColumns: Set[String]

  /** O(changes) refresh (r13, r12 VERDICT #2): fold one delta window's LWW
    * winners into the resident rung instead of re-streaming the corpus —
    * the in-process analog of the reference HNSW's online inserts
    * (core/vectorindex/hnsw.go:104-167), rebuilt-index-identical
    * (LocalRefreshSpec pins parity per rung and storage mode).
    *
    * `struck` = EVERY winner pk of the window (dels AND puts — a put
    * strikes its stale copy wherever it lives, including another cell when
    * the row moved); `puts` = the put winners. Only cells holding a struck
    * pk or receiving a put rebuild (copy-filter-append of flat arrays);
    * untouched cells SHARE their arrays with the old rung, so cost is
    * O(corpus) hash probes + O(touched cells) copy — no Spark read, no
    * decode. The layout sidecars (centroids / codebook / thresholds) are
    * the chain base's, which is exactly why the caller must only fold
    * windows within one chain (the catalog's refresh seam enforces it). */
  def applyChanges(struck: java.util.Set[AnyRef], puts: Seq[LocalRung.Put]): LocalRung
}

object LocalRung {

  /** One put winner: pk, its segment-assigned cell (the ROUTING field's on
    * the multi-vector rung; ignored by the cells-less PQ and binary
    * layouts), one stored-form payload per stored field — float[] |
    * short[] | byte[] vectors per quantization, byte[] PQ codes or packed
    * sign codes — and filter-column values aligned with the rung's
    * name-sorted [[LocalMeta.specs]]. */
  case class Put(id: AnyRef, cell: Long, payload: Seq[AnyRef], metaValues: Seq[Any])

  /** The stored-form read of a vector column — floats, f16/bf16 shorts or
    * f8 bytes — shared by the vector rungs' loads and the catalog's fold. */
  def storedCol(name: String, quant: String): Column = quant match {
    case "none"         => col(name).cast("array<float>")
    case "f16" | "bf16" => col(name).cast("array<short>")
    case _              => col(name)
  }
}
