package graft

import java.nio.file.Files

import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.collection.{CollectionMeta, GraftCatalog, IndexField}

/** What a mutation does to the catalog's resident state and caches: the
  * resident frame's partition count stays bounded however many batches are
  * unioned onto it, and the chain base's index sidecars stay cached, so an
  * indexed flushDelta runs only its segment write. */
class ResidentMutationSpec extends SparkSpec {
  import spark.implicits._

  private def rows(n: Int, from: Int = 0) =
    (from until from + n).map { i =>
      val v = Array.tabulate(16)(j => math.sin(i * 0.618 + j * 1.7).toFloat)
      (f"$i%05d", i % 5, v.toSeq)
    }.toDF("id", "label", "vector")

  private def meta(ivf: Option[Int] = None) =
    CollectionMeta("c", dim = 16, distance = "euclidean",
      fields = Seq(IndexField("id", "string", primaryKey = true),
        IndexField("label", "integer")),
      ivfCells = ivf, ivfTrainIterations = ivf.map(_ => 1))

  private def catalog(m: CollectionMeta): GraftCatalog = {
    val cat = new GraftCatalog(spark, Files.createTempDirectory("graft-resident").toString)
    cat.createCollection(m)
    cat.loadCollection("c")
    cat
  }

  private def parts(df: DataFrame): Int = df.rdd.getNumPartitions

  test("resident partitions stay within max(anchor, defaultParallelism) and " +
      "balanced across inserts, deletes and applyChanges") {
    val dp = spark.sparkContext.defaultParallelism
    val cat = catalog(meta())
    cat.insert("c", rows(2000).repartition(dp))
    cat.flush("c")
    cat.loadCollection("c")
    val bound = math.max(parts(cat.resident("c")), dp)
    var live = (0 until 2000).toSet
    (1 to 12).foreach { r =>
      val from = 2000 + 10 * r
      cat.insert("c", rows(6, from).repartition(3))
      live ++= (from until from + 6)
      cat.delete("c", FilterExpr.Single("id", FilterExpr.Eq, f"${r * 7}%05d"))
      live -= r * 7
      val changes = rows(4, from + 6).withColumn("op", lit("put")).withColumn("ver", lit(1L))
        .unionByName(rows(1, r * 11).withColumn("op", lit("del")).withColumn("ver", lit(1L)))
        .repartition(2)
      cat.applyChanges("c", changes, "ver")
      live = live ++ (from + 6 until from + 10) - r * 11
      if (r % 3 == 0) cat.flushDelta("c")
      val p = parts(cat.resident("c"))
      assert(p <= bound, s"round $r: $p resident partitions, bound $bound")
    }
    assert(cat.resident("c").select("id").as[String].collect().map(_.toInt).toSet === live)
    // each batch's rows spread over the partitions: a contiguous-range
    // coalesce merges the anchor's partitions pairwise instead, until one
    // partition holds nearly every row
    val sizes = cat.resident("c").rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(sizes.max <= 1.25 * sizes.sum / sizes.length, sizes.mkString(","))

    // loaded EMPTY at v0 and filled only by inserts: the anchor has no
    // partitions, and the defaultParallelism floor keeps the frame from
    // collapsing to one partition
    val empty = catalog(meta())
    (0 until 6).foreach(r => empty.insert("c", rows(50, 50 * r).repartition(3)))
    assert(parts(empty.resident("c")) === dp)
    assert(empty.resident("c").count() === 300L)
  }

  test("an IVF flushDelta after a mutation runs only its segment write: the " +
      "base's sidecars stay cached") {
    val cat = catalog(meta(ivf = Some(4)))
    cat.insert("c", rows(200))
    cat.flush("c")
    // the first delta after the flush reads the centroid sidecar once
    cat.insert("c", rows(3, 300))
    cat.flushDelta("c")
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    (1 to 2).foreach { r =>
      cat.insert("c", rows(3, 300 + 10 * r))
      spark.conf.set(key, "false")
      val jobs =
        try JobCounter.jobsOf(spark.sparkContext)(cat.flushDelta("c"))._2
        finally spark.conf.set(key, prev)
      assert(jobs === 1, s"round $r: flushDelta ran $jobs jobs")
    }
    // the chain still serves every write
    val q = rows(1, 320).head.getSeq[Float](2).toArray
    val hit = cat.searchIvf("c", q, topK = 1, nprobe = 4).collect()
    assert(hit.map(_.getAs[String]("id")).toSeq === Seq("00320"))
  }
}
