package graft

import java.nio.file.Files

import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.DataFrame

import graft.collection.{CollectionMeta, GraftCatalog, IndexField}

/** Pins the Spark job count of the recall audits and the batch routes: one
  * cold call (a new catalog instance over a freshly written collection, so
  * no sidecar or snapshot is cached) plus its collect(). A count that moves
  * means a plan or a sidecar read changed shape. */
class AuditBatchJobsSpec extends SparkSpec {
  import spark.implicits._

  private def rows(n: Int, from: Int = 0) =
    (from until from + n).map { i =>
      val v = Array.tabulate(16)(j => ((i * 31 + j * 7) % 13 - 6).toFloat / 6f)
      (f"$i%03d", i % 3, v.toSeq)
    }.toDF("id", "label", "vector")

  private def meta(ivf: Option[Int] = None, pq: Boolean = false, bin: Boolean = false) =
    CollectionMeta("c", dim = 16, distance = "euclidean",
      fields = Seq(IndexField("id", "string", primaryKey = true),
        IndexField("label", "integer")),
      ivfCells = ivf, ivfTrainIterations = ivf.map(_ => 1),
      pqSubspaces = if (pq) Some(4) else None, pqCodewords = if (pq) Some(8) else None,
      pqTrainIterations = if (pq) Some(1) else None,
      binaryIndex = if (bin) Some(true) else None)

  private val label: FilterExpr = FilterExpr.Single("label", FilterExpr.Eq, 1)
  private lazy val queries = Seq("q1" -> rows(1, 5).head.getSeq[Float](2).toArray,
    "q2" -> rows(1, 40).head.getSeq[Float](2).toArray)

  /** A flushed collection of `n` rows (plus `segments` delta segments of 3
    * rows each), returned as a NEW catalog instance over its root: cold. */
  private def flushed(m: CollectionMeta, n: Int, segments: Int = 0,
                      data: (Int, Int) => DataFrame = rows): GraftCatalog = {
    val root = Files.createTempDirectory("graft-jobs").toString
    val w = new GraftCatalog(spark, root)
    w.createCollection(m)
    w.loadCollection("c")
    if (n > 0) w.insert("c", data(n, 0))
    w.flush("c")
    (1 to segments).foreach { s =>
      w.insert("c", data(3, n + 3 * s))
      w.flushDelta("c")
    }
    w.releaseCollection("c")
    new GraftCatalog(spark, root)
  }

  /** Jobs of one route call on `cat` plus its collect(), with adaptive
    * execution off: under AQE the count of a multi-stage plan varies by ±2
    * between identical runs (stages finish in a timing-dependent order and
    * the re-planned joins start different jobs), so only the static plan
    * gives a count worth pinning. `cat` is built before the count starts,
    * so its fixture's writes are not counted. */
  private def jobs(cat: GraftCatalog)(call: GraftCatalog => DataFrame): Int = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try JobCounter.jobsOf(spark.sparkContext)(call(cat).collect())._2
    finally spark.conf.set(key, prev)
  }

  test("job counts of the four recall audits and the batch routes") {
    def multiData(n: Int, from: Int) = (from until from + n).map { i =>
      def v(s: Int) = Array.tabulate(4)(j => ((i * s + j * 7) % 13 - 6).toFloat).toSeq
      (f"$i%03d", v(31), v(17))
    }.toDF("id", "v0", "v1")
    val multiMeta = CollectionMeta("c", dim = 4, distance = "euclidean",
      fields = Seq(IndexField("id", "string", primaryKey = true),
        IndexField("v0", "vector"), IndexField("v1", "vector")),
      ivfCells = Some(4), ivfTrainIterations = Some(1))
    val weights = Seq("v0" -> 60.0, "v1" -> 40.0)
    val q4 = Array(1f, 0f, 0f, 1f)
    val flat = {
      val cat = new GraftCatalog(spark, Files.createTempDirectory("graft-jobs").toString)
      cat.createCollection(meta())
      cat.loadCollection("c")
      cat.insert("c", rows(60))
      cat
    }
    val measured = Seq(
      "auditRecall" -> jobs(flushed(meta(Some(4)), 60))(_.auditRecall("c", 5, 1, 5)),
      "auditRecall(filter)" ->
        jobs(flushed(meta(Some(4)), 60))(_.auditRecall("c", 5, 1, 5, Some(label))),
      "auditRecall(delta chain)" ->
        jobs(flushed(meta(Some(4)), 60, segments = 2))(_.auditRecall("c", 5, 1, 5)),
      "auditRecallBin" -> jobs(flushed(meta(bin = true), 60))(_.auditRecallBin("c", 5, 5)),
      "auditRecallBin(filter)" ->
        jobs(flushed(meta(bin = true), 60))(_.auditRecallBin("c", 5, 5, filter = Some(label))),
      "auditRecallPq" -> jobs(flushed(meta(pq = true), 60))(_.auditRecallPq("c", 5, 5)),
      "auditRecallPq(filter)" ->
        jobs(flushed(meta(pq = true), 60))(_.auditRecallPq("c", 5, 5, filter = Some(label))),
      "auditRecallPq(residual, nprobe)" ->
        jobs(flushed(meta(Some(4), pq = true), 60))(_.auditRecallPq("c", 5, 5, nprobe = Some(2))),
      "auditRecallMulti" ->
        jobs(flushed(multiMeta, 60, data = multiData))(_.auditRecallMulti("c", 5, 1, weights, 5)),
      "searchBatch(flat)" -> jobs(flat)(_.searchBatch("c", queries, 5, 1)),
      "searchBatch(IVF, delta chain)" ->
        jobs(flushed(meta(Some(4)), 60, segments = 2))(_.searchBatch("c", queries, 5, 2)),
      "searchBatchMulti" -> jobs(flushed(multiMeta, 60, data = multiData))(
        _.searchBatchMulti("c", weights, Seq("a" -> Map("v0" -> q4, "v1" -> q4),
          "b" -> Map("v0" -> q4.reverse, "v1" -> q4)), 5, 2)),
      // an empty flush is told from a missing sidecar by parquet footers
      // read on the driver: no emptiness job
      "searchBinary(empty flush)" ->
        jobs(flushed(meta(bin = true), 0))(_.searchBinary("c", queries.head._2, 5)))
    val expected = Seq(
      "auditRecall" -> 5, "auditRecall(filter)" -> 5, "auditRecall(delta chain)" -> 7,
      "auditRecallBin" -> 6, "auditRecallBin(filter)" -> 6,
      "auditRecallPq" -> 7, "auditRecallPq(filter)" -> 7,
      "auditRecallPq(residual, nprobe)" -> 8, "auditRecallMulti" -> 4,
      "searchBatch(flat)" -> 3, "searchBatch(IVF, delta chain)" -> 5,
      "searchBatchMulti" -> 4, "searchBinary(empty flush)" -> 0)
    assert(measured === expected, s"measured: ${measured.mkString(", ")}")
  }
}
