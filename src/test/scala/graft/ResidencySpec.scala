package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.collection.{CollectionMeta, GraftCatalog, IndexField}

/** A loaded collection's residency is one record: an operation that throws
  * leaves the frame AND its pending-change ledger as they were, so a later
  * flushDelta publishes every mutation the resident frame serves. Each case
  * checks that a fresh catalog's load of the published head equals the
  * writer's resident state. */
class ResidencySpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: Int*) = ids.map { i =>
    (f"$i%05d", i % 5, Array.tabulate(8)(j => math.sin(i * 0.618 + j * 1.7).toFloat).toSeq)
  }.toDF("id", "label", "vector")

  private val meta = CollectionMeta("c", dim = 8, distance = "euclidean",
    fields = Seq(IndexField("id", "string", primaryKey = true), IndexField("label", "integer")))

  /** A catalog over a new root holding `c` at v1 (rows 0-19, full flush)
    * and v2 (rows 20-22, flushDelta), loaded. */
  private def chain(): (GraftCatalog, Path) = {
    val root = Files.createTempDirectory("graft-residency")
    val cat = new GraftCatalog(spark, root.toString)
    cat.createCollection(meta)
    cat.loadCollection("c")
    cat.insert("c", rows(0 until 20: _*))
    cat.flush("c")
    cat.insert("c", rows(20, 21, 22))
    cat.flushDelta("c")
    (cat, root)
  }

  private def sorted(df: DataFrame): (Seq[String], Seq[Seq[Any]]) =
    (df.columns.toSeq, df.orderBy("id").collect().map(_.toSeq).toSeq)

  /** The published head as a fresh catalog loads it equals `cat`'s resident
    * state, rows and columns. */
  private def assertPublished(cat: GraftCatalog, root: Path): Unit = {
    val fresh = new GraftCatalog(spark, root.toString)
    assert(sorted(fresh.loadCollection("c")) === sorted(cat.resident("c")))
    fresh.releaseCollection("c")
  }

  /** Runs `body` with version `v` of `c` moved aside, so a load of the head
    * cannot fold the chain. */
  private def withVersionMissing[A](root: Path, v: Int)(body: => A): A = {
    val dir = root.resolve("c").resolve(s"v$v")
    val aside = root.resolve(s"v$v-aside")
    Files.move(dir, aside)
    try body finally Files.move(aside, dir)
  }

  private def ids(cat: GraftCatalog): Set[String] =
    cat.resident("c").select("id").as[String].collect().toSet

  test("a re-load that fails keeps the ledger: the next flushDelta publishes " +
      "the row inserted before the failure") {
    val (cat, root) = chain()
    cat.insert("c", rows(200))
    withVersionMissing(root, 2) {
      intercept[IllegalStateException](cat.loadCollection("c"))
    }
    assert(ids(cat).contains("00200"))
    cat.insert("c", rows(300))
    assert(cat.flushDelta("c") === 3)
    assertPublished(cat, root)
  }

  test("vacuum-race recovery whose re-load fails keeps the collection loaded " +
      "with every mutation made before the failure") {
    val (cat, root) = chain()
    cat.insert("c", rows(200))
    cat.delete("c", FilterExpr.Single("id", FilterExpr.Eq, "00003"))
    withVersionMissing(root, 1) {
      intercept[IllegalStateException](cat.recoverAfterVacuumRace("c"))
    }
    assert(cat.isLoaded("c"))
    assert(cat.flushDelta("c") === 3)
    assertPublished(cat, root)
    assert(ids(cat).contains("00200") && !ids(cat).contains("00003"))
  }

  test("a mutation whose lineage cut fails leaves the frame and the ledger " +
      "as they were") {
    val (cat, root) = chain()
    // the 8th mutation since the full flush (the fixture's delta insert,
    // six here, then the bad batch) cuts the frame's lineage eagerly, which
    // evaluates the lazily validated batch: its wrong-dimension vector
    // fails there. The batch is a scan, not a local relation, so the
    // optimizer cannot evaluate it early.
    (100 until 106).foreach(i => cat.insert("c", rows(i)))
    val bad = spark.range(999, 1000).select(format_string("%05d", col("id")).as("id"),
      lit(4).as("label"), array(col("id").cast("float"), lit(2f)).as("vector"))
    assert(intercept[Exception](cat.insert("c", bad)).getMessage.contains("dimension mismatch"))
    assert(!ids(cat).contains("00999"))
    assert(cat.flushDelta("c") === 3)
    assertPublished(cat, root)
  }
}
