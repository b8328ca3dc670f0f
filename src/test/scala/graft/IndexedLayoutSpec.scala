package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

import graft.collection.{CollectionMeta, GraftCatalog, IndexField}
import graft.operators.MultiVectorSearch.FieldQuery

/** One rule for the indexed rungs' sidecars (IVF centroids, PQ codebook,
  * binary thresholds): a declared sidecar missing on a chain base that
  * holds rows refuses loudly on every read route, while an empty flush —
  * which writes no sidecar — answers empty. Covers IVF, raw PQ, residual
  * IVF-PQ, binary and multi-vector IVF. */
class IndexedLayoutSpec extends SparkSpec {
  import spark.implicits._

  private val q = Array.tabulate(16)(j => (j % 5).toFloat / 5f)

  private def rows(n: Int, from: Int = 0) =
    (from until from + n).map { i =>
      val v = Array.tabulate(16)(j => ((i * 31 + j * 7) % 13 - 6).toFloat / 6f)
      (f"$i%03d", i % 3, v.toSeq)
    }.toDF("id", "label", "vector")

  private def multiRows(n: Int, from: Int = 0) =
    (from until from + n).map { i =>
      def v(s: Int) = Array.tabulate(4)(j => ((i * s + j * 7) % 13 - 6).toFloat).toSeq
      (f"$i%03d", v(31), v(17))
    }.toDF("id", "v0", "v1")

  private val label: FilterExpr = FilterExpr.Single("label", FilterExpr.Eq, 1)

  /** A rung under test: its meta, its rows, and every read route over it. */
  private case class Rung(tag: String, meta: CollectionMeta, data: Int => DataFrame,
                          sidecar: String, routes: Seq[(String, GraftCatalog => Any)])

  private def single(name: String, ivf: Option[Int] = None, pq: Boolean = false,
                     bin: Boolean = false) =
    CollectionMeta(name, dim = 16, distance = "euclidean",
      fields = Seq(IndexField("id", "string", primaryKey = true),
        IndexField("label", "integer")),
      ivfCells = ivf,
      pqSubspaces = if (pq) Some(4) else None, pqCodewords = if (pq) Some(8) else None,
      pqTrainIterations = if (pq) Some(1) else None,
      binaryIndex = if (bin) Some(true) else None)

  private val ivfRoutes: Seq[(String, GraftCatalog => Any)] = Seq(
    "searchIvf" -> (_.searchIvf("c", q, 5, 2)),
    "searchIvfPrepared" -> (_.searchIvfPrepared("c", q, 5, 2)),
    "ivfPreparedProbedFiles" -> (_.ivfPreparedProbedFiles("c", q, 5, 2)),
    "ivfProbedFiles" -> (_.ivfProbedFiles("c", q, 2)),
    "searchBatch" -> (_.searchBatch("c", Seq("a" -> q), 5, 2)),
    "auditRecall" -> (_.auditRecall("c", 7, 2, 5)),
    "auditRecall(filter)" -> (_.auditRecall("c", 7, 2, 5, Some(label))),
    "localIvfIndex" -> (_.localIvfIndex("c")))
  private val pqRoutes: Seq[(String, GraftCatalog => Any)] = Seq(
    "searchPq" -> (_.searchPq("c", q, 5)),
    "searchPqPrepared" -> (_.searchPqPrepared("c", q, 5)),
    "auditRecallPq" -> (_.auditRecallPq("c", 7, 5)),
    "localPqIndex" -> (_.localPqIndex("c")))
  private val commonRoutes: Seq[(String, GraftCatalog => Any)] = Seq(
    "warmCells" -> (_.warmCells("c")),
    "requireDeltaReady" -> (_.requireDeltaReady("c")))

  private val rungs = Seq(
    Rung("IVF", single("c", ivf = Some(4)), rows(_), "centroids", ivfRoutes),
    Rung("raw PQ", single("c", pq = true), rows(_), "pq", pqRoutes),
    Rung("residual PQ", single("c", ivf = Some(4), pq = true), rows(_), "pq",
      pqRoutes ++ ivfRoutes :+
        ("auditRecallPq(nprobe)" -> ((c: GraftCatalog) => c.auditRecallPq("c", 7, 5,
          nprobe = Some(2))))),
    Rung("binary", single("c", bin = true), rows(_), "bin", Seq(
      "searchBinary" -> (_.searchBinary("c", q, 5)),
      "searchBinaryPrepared" -> (_.searchBinaryPrepared("c", q, 5)),
      "auditRecallBin" -> (_.auditRecallBin("c", 7, 5)),
      "auditRecallBin(filter)" -> (_.auditRecallBin("c", 7, 5, filter = Some(label))),
      "localBinIndex" -> (_.localBinIndex("c")))),
    Rung("multi-IVF", CollectionMeta("c", dim = 4, distance = "euclidean",
        fields = Seq(IndexField("id", "string", primaryKey = true),
          IndexField("v0", "vector"), IndexField("v1", "vector")),
        ivfCells = Some(4)), multiRows(_), "centroids", {
      val q4 = Array(1f, 0f, 0f, 1f)
      val fields = Seq(FieldQuery("v0", q4, ratio = 60), FieldQuery("v1", q4, ratio = 40))
      Seq(
        "searchMultiIvf" -> (_.searchMultiIvf("c", fields, 5, 2)),
        "searchMultiIvfPrepared" -> (_.searchMultiIvfPrepared("c", fields, 5, 2)),
        "auditRecallMulti" -> (_.auditRecallMulti("c", 7, 2, Seq("v0" -> 60.0, "v1" -> 40.0), 5)),
        "searchBatchMulti" -> (_.searchBatchMulti("c", Seq("v0" -> 60.0, "v1" -> 40.0),
          Seq("a" -> Map("v0" -> q4, "v1" -> q4)), 5, 2)),
        "localMultiIndex" -> (_.localMultiIndex("c")))
    }))

  /** Run a route to completion: DataFrames are collected. */
  private def run(route: GraftCatalog => Any, cat: GraftCatalog): Any = route(cat) match {
    case df: DataFrame => df.collect()
    case other         => other
  }

  private def outcome(body: => Any): String =
    try { body; "answered" }
    catch {
      case e: IllegalStateException if e.getMessage.contains("sidecar missing for version 1") =>
        "refused"
      case e: Exception => s"${e.getClass.getSimpleName}: ${e.getMessage}"
    }

  private def catalogWith(r: Rung, n: Int): (GraftCatalog, String) = {
    val root = Files.createTempDirectory("graft-layout").toString
    val cat = new GraftCatalog(spark, root)
    cat.createCollection(r.meta)
    cat.loadCollection("c")
    if (n > 0) cat.insert("c", r.data(n))
    cat.flush("c")
    (cat, root)
  }

  test("a populated head whose sidecar is missing refuses on every read route") {
    val wrong = rungs.flatMap { r =>
      val (cat, root) = catalogWith(r, 60)
      // a delta segment over the base, so the refusal covers chain heads
      cat.insert("c", r.data(4).limit(2))
      assert(cat.flushDelta("c") === 2)
      val dir = new Path(s"$root/c/v1_${r.sidecar}")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.delete(dir, true), s"${r.tag}: no $dir to delete")
      val outcomes = (r.routes ++ commonRoutes).map { case (route, call) =>
        route -> outcome(run(call, cat))
      }
      // the delta write path refuses the same way
      cat.insert("c", r.data(2).limit(1))
      val flushDelta = outcome(cat.flushDelta("c"))
      (outcomes :+ ("flushDelta" -> flushDelta)).collect {
        case (route, outcome) if outcome != "refused" => s"${r.tag} $route: $outcome"
      }
    }
    assert(wrong.isEmpty, s"routes that did not refuse:\n${wrong.mkString("\n")}")
  }

  test("an empty flush answers empty on every search and audit route, loaders refuse") {
    rungs.foreach { r =>
      val (cat, _) = catalogWith(r, 0)
      r.routes.foreach { case (route, call) =>
        if (route.startsWith("local")) {
          val e = intercept[IllegalArgumentException](run(call, cat))
          assert(e.getMessage.contains("flushed empty"), s"${r.tag} $route: ${e.getMessage}")
        } else run(call, cat) match {
          case rows: Array[_]    => assert(rows.isEmpty, s"${r.tag} $route")
          case (_, rows: Seq[_]) => assert(rows.isEmpty, s"${r.tag} $route")
          case other             => fail(s"${r.tag} $route answered $other")
        }
      }
      assert(cat.warmCells("c") === 0L, r.tag)
      val e = intercept[IllegalStateException](cat.requireDeltaReady("c"))
      assert(e.getMessage.contains("sidecar missing"), s"${r.tag}: ${e.getMessage}")
    }
  }
}
