package servebench

import java.util.SplittableRandom

import graft.collection.{CollectionMeta, IndexField}

/** Seeded input generator. Rows and queries are points of a mixture of
  * clusters, each spread along a few random directions of its own plus a
  * little isotropic noise: the IVF cells have clusters to find, and near
  * neighbours stay distinguishable (isotropic 128-d noise would make every
  * point of a cluster nearly equidistant). Every value derives from
  * (seed, index), so the same seed gives the same inputs in the Spark driver and
  * in Spark tasks. */
final case class DataGen(seed: Long) {
  import DataGen._

  @transient lazy val centers: Array[Array[Float]] = {
    val r = new SplittableRandom(seed)
    Array.fill(Clusters)(Array.fill(Dim)((r.nextDouble() * 2 - 1).toFloat))
  }

  @transient lazy val bases: Array[Array[Array[Float]]] = {
    val r = new SplittableRandom(seed + 1)
    val s = 1.0 / math.sqrt(Dim)
    Array.fill(Clusters, Directions)(Array.fill(Dim)((r.nextGaussian() * s).toFloat))
  }

  def point(r: SplittableRandom): Array[Float] = {
    val k = r.nextInt(Clusters)
    val v = centers(k).map(_.toDouble)
    bases(k).foreach { b =>
      val z = Spread * r.nextGaussian()
      var d = 0
      while (d < Dim) { v(d) += z * b(d); d += 1 }
    }
    Array.tabulate(Dim)(d => (v(d) + Noise * r.nextGaussian()).toFloat)
  }

  /** Base row `i`: id, vector, delete tag (one of `DeleteTags`), category. */
  def row(i: Long): (String, Array[Float], String, String) = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i + 1)
    val v = point(r)
    (f"r$i%07d", v, s"b${i % DeleteTags}", s"c${r.nextInt(Cats)}")
  }
}

object DataGen {
  val Dim = 128
  val Clusters = 64
  val Spread = 0.6
  val Directions = 8
  val Noise = 0.02
  val DeleteTags = 256
  val Cats = 4
}

/** One workload: a collection layout, the rung its searches use, and the
  * sizes of its round. */
final case class Workload(
    name: String,
    quantization: String,
    ivfCells: Option[Int],
    pq: Boolean,
    searchRoute: String,
    filtered: Boolean,
    nprobe: Int,
    batchQueries: Int,
    recallFloor: Double) {

  def storage: Storage = Storage(quantization)
  def exact: Boolean = ivfCells.isEmpty

  def meta(collection: String): CollectionMeta = CollectionMeta(
    name = collection, dim = Workload.Dim, distance = "cosine", quantization = quantization,
    fields = Seq(
      IndexField("id", "string", primaryKey = true),
      IndexField("tag", "string"),
      IndexField("cat", "string")),
    ivfCells = ivfCells,
    ivfTrainIterations = ivfCells.map(_ => 2),
    ivfTrainSampleMod = ivfCells.map(_ => 10L),
    pqSubspaces = if (pq) Some(16) else None,
    pqCodewords = if (pq) Some(64) else None,
    pqTrainIterations = if (pq) Some(4) else None,
    pqTrainSampleMod = if (pq) Some(10L) else None)
}

object Workload {
  val Dim: Int = DataGen.Dim
  val TopK = 10
  val Rows = 30000
  val SearchesPerRound = 10
  /** Each write round inserts this many new ids and upserts as many live base ids. */
  val NewPerRound = 3
  val UpsertsPerRound = 3

  /** Mutations per write round: one insert and one delete. The catalog cuts
    * resident lineage every 8 mutations, so 4 rounds make one cycle. */
  val MutationsPerRound = 2
  val LineageCycle = 8
  val RoundsPerCycle: Int = LineageCycle / MutationsPerRound

  val all: Seq[Workload] = Seq(
    Workload("resident-exact", quantization = "none", ivfCells = None, pq = false,
      searchRoute = "search", filtered = false, nprobe = 0,
      batchQueries = 8, recallFloor = 1.0),
    Workload("local-ivf", quantization = "f16", ivfCells = Some(32), pq = false,
      searchRoute = "searchLocal", filtered = true, nprobe = 8,
      batchQueries = 8, recallFloor = 0.9),
    Workload("snapshot-pq", quantization = "none", ivfCells = Some(64), pq = true,
      searchRoute = "searchPq", filtered = false, nprobe = 8,
      batchQueries = 64, recallFloor = 0.7))

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))
}

/** One round's inputs, drawn from the seeded stream before the round runs.
  * A warm-up round (`full` false) has only its write. */
final case class RoundPlan(
    index: Int,
    full: Boolean,
    writes: Seq[(String, Array[Float], String, String)], // id, vector, tag, cat
    deleteTag: String,
    queries: Seq[(Array[Float], String)], // vector, category filter
    batch: Seq[(String, Array[Float])]) { // qid, vector
  def newRow: (String, Array[Float], String, String) = writes.head
}

/** Timings of one collection set-up: create and ingest, flush, server load,
  * first request on the rung. */
final case class Build(createS: Double, flushS: Double, loadS: Double, rungS: Double, totalS: Double)
