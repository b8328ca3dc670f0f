package servebench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.FilterExpr
import graft.collection.GraftCatalog

/** In-process timings of the calls the server makes for each operation. */
final class CallTimes {
  val search = new Samples
  val insert = new Samples
  val delete = new Samples
  val flushDelta = new Samples
  val write = new Samples
  val firstSearch = new Samples
  val refreshLocal = new Samples
  val localSearchUs = new Samples
  var batchQueries = 0
  var batchNanos = 0L
  var loadS = 0.0
  var rungS = 0.0
}

/** Replays the HTTP pass's rounds, warm-up included, through the engine's
  * public functions (`GraftCatalog.*`, `LocalIvfIndex.search`) on the
  * second, identically built collection, with no server in between; only
  * the rounds after the first `warmup` are timed. The difference between
  * the two passes is the serving layer's own cost. */
final class InProcessPass(spark: SparkSession, cat: GraftCatalog, w: Workload, name: String,
                          plans: Seq[RoundPlan], warmup: Int, tracer: Tracer) {
  private val schema = StructType(Seq(
    StructField("id", StringType), StructField("vector", ArrayType(FloatType)),
    StructField("tag", StringType), StructField("cat", StringType)))
  // the server loads every declared scalar field into the local rung's EQ store
  private val localCols = Seq("cat", "id", "tag")
  private var local: Option[(graft.ann.LocalIvfIndex, Int)] = None

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def search(q: Array[Float], c: String): Seq[(String, Double)] = w.searchRoute match {
    case "search" => rows(cat.searchPrepared(name, q, Workload.TopK))
    case "searchPq" => rows(cat.searchPqPrepared(name, q, Workload.TopK, rerank = true, overFetch = 4, nprobe = Some(w.nprobe)))
    case "searchLocal" =>
      // the route's own steps: one meta read, the query prep, the probe
      val pq = GraftCatalog.prepareQueryVector(q, cat.getMeta(name))
      val t0 = System.nanoTime()
      val hits = local.get._1.search(pq, Workload.TopK, w.nprobe, Seq("cat" -> c))
      lastProbeNs = System.nanoTime() - t0
      hits.map { case (id, d) => (id.toString, d) }
  }
  private var lastProbeNs = 0L

  private def rows(r: (StructType, Seq[Row])): Seq[(String, Double)] = {
    val (sc, rs) = r
    val (i, d) = (sc.fieldIndex("id"), sc.fieldIndex("dist"))
    rs.map(x => (x.getString(i), x.getDouble(d)))
  }

  def run(): CallTimes = {
    val t = new CallTimes
    var t0 = System.nanoTime()
    cat.loadCollection(name)
    t.loadS = ms(t0) / 1e3
    t0 = System.nanoTime()
    if (w.searchRoute == "searchLocal") {
      val v = cat.getMeta(name).currentVersion
      local = Some((cat.localIvfIndex(name, localCols), v))
    }
    search(plans.find(_.full).get.queries.head._1, "c0")
    t.rungS = ms(t0) / 1e3
    plans.foreach(round(_, t))
    cat.releaseCollection(name)
    t
  }

  private def round(p: RoundPlan, t: CallTimes): Unit = {
    val timed = p.index >= warmup
    def rec(s: Samples, x: Double): Unit = if (timed) s += x
    def op[A](kind: String, call: String)(body: => A): A =
      if (timed) tracer.op(s"ip.$kind", call)(body) else body
    val df = spark.createDataFrame(
      java.util.Arrays.asList(p.writes.map { case (id, v, tg, c) => Row(id, v.toSeq, tg, c) }: _*), schema)
    val w0 = System.nanoTime()
    var t0 = System.nanoTime()
    op("write", "insert+delete+flushDelta") {
      cat.insert(name, df)
      rec(t.insert, ms(t0)); t0 = System.nanoTime()
      cat.delete(name, FilterExpr.Single("tag", FilterExpr.Eq, p.deleteTag))
      rec(t.delete, ms(t0)); t0 = System.nanoTime()
      cat.flushDelta(name)
      rec(t.flushDelta, ms(t0))
    }
    rec(t.write, ms(w0))

    val (nid, nv, _, ncat) = p.newRow
    val first = op("fresh", "refresh+first search") {
      local.foreach { case (idx, v) =>
        t0 = System.nanoTime()
        local = Some(cat.refreshLocalIvfIndex(name, idx, v, localCols, oversizeRebuilds = false))
        rec(t.refreshLocal, ms(t0))
      }
      t0 = System.nanoTime()
      val hits = search(nv, ncat)
      rec(t.firstSearch, ms(t0))
      hits
    }
    require(first.headOption.exists(_._1 == nid) || first.exists(h => h._1 == nid && h._2 == 0.0),
      s"in-process pass: written row $nid not at rank 1 after its write")

    p.queries.foreach { case (q, c) =>
      val s0 = System.nanoTime()
      op("search", w.searchRoute)(search(q, c))
      rec(t.search, ms(s0))
      if (w.searchRoute == "searchLocal") rec(t.localSearchUs, lastProbeNs / 1e3)
    }
    if (p.full) {
      t0 = System.nanoTime()
      op("batch", "searchBatch")(cat.searchBatch(name, p.batch, Workload.TopK, w.nprobe).collect())
      if (timed) {
        t.batchNanos += System.nanoTime() - t0
        t.batchQueries += p.batch.size
      }
    }
  }
}
