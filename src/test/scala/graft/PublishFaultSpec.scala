package graft

import java.net.URI
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame

import graft.FilterExpr._
import graft.collection._

/** The publish step under a filesystem that fails partway through: the
  * rename of the i-th dir staged under `.staging-*` fails, once by
  * returning `false` and once by throwing. Every failure must surface as a
  * typed exception with the published head, the resident rows and the
  * delta ledger untouched and no `v<N>` dir, sidecar, claim or staging dir
  * left behind; with the fault disarmed the retry publishes `v<N>` and a
  * fresh catalog loads it. `flush` of an IVF+PQ+binary collection stages
  * four dirs (data, centroids, PQ codebook, binary thresholds), `flushDelta`
  * one. */
class PublishFaultSpec extends SparkSpec {
  import spark.implicits._

  private def faultRoot(): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mockfail.impl", classOf[RenameFaultFs].getName)
    // the meta replace goes through FileContext, which resolves the
    // AbstractFileSystem side of the scheme
    conf.set("fs.AbstractFileSystem.mockfail.impl", classOf[RenameFaultAbstractFs].getName)
    GraftCatalog.registerClaimProtocol("mockfail", GraftCatalog.NioExclusiveCreate)
    "mockfail://" + Files.createTempDirectory("graft-pubfault").toString
  }

  private def meta(name: String) = CollectionMeta(name, dim = 8, distance = "euclidean",
    fields = Seq(IndexField("id", "string", primaryKey = true)),
    ivfCells = Some(2), ivfTrainIterations = Some(0),
    pqSubspaces = Some(2), pqCodewords = Some(4), pqTrainIterations = Some(0),
    binaryIndex = Some(true))

  private def rows(ids: Range): DataFrame = ids.map { i =>
    val rnd = new scala.util.Random(i)
    (s"id-$i", Array.fill(8)(rnd.nextFloat()))
  }.toDF("id", "vector")

  private def idSet(df: DataFrame): Set[String] =
    df.select("id").collect().map(_.getString(0)).toSet

  /** What an aborted publish of version `v` may not leave behind. */
  private def leftovers(root: String, name: String, v: Int): Seq[String] = {
    val dir = new Path(s"$root/$name")
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(n => n == s"v$v" || n.startsWith(s"v${v}_") || n == s"v$v.claim" ||
        n.startsWith(".staging-"))
  }

  /** Run `publish` with the i-th staged rename failing; check the failure
    * left nothing behind, then retry with the fault disarmed. */
  private def failThenRetry(root: String, cat: GraftCatalog, name: String, i: Int,
                            throws: Boolean, live: Set[String])(publish: => Int): Unit = {
    val v0 = cat.getMeta(name).currentVersion
    RenameFault.arm(i, throws)
    val ex = try intercept[java.io.IOException](publish) finally RenameFault.disarm()
    assert(RenameFault.fired, s"rename $i never ran")
    assert(ex.getMessage.contains(
      if (throws) "injected rename fault" else s"failed while publishing v${v0 + 1}"))
    assert(cat.getMeta(name).currentVersion === v0)
    assert(leftovers(root, name, v0 + 1).isEmpty)
    assert(idSet(cat.resident(name)) === live)
    assert(publish === v0 + 1)
    val fresh = new GraftCatalog(spark, root)
    assert(idSet(fresh.loadCollection(name)) === live)
    fresh.releaseCollection(name)
  }

  test("flush: a failed rename of any staged dir leaves no version, claim or staging dir; " +
    "the retry publishes") {
    val root = faultRoot()
    val cat = new GraftCatalog(spark, root)
    cat.createCollection(meta("f"))
    cat.loadCollection("f")
    var live = Set.empty[String]
    for (((i, throws), n) <- (for (i <- 1 to 4; t <- Seq(false, true)) yield (i, t)).zipWithIndex) {
      val batch = n * 6 until n * 6 + 6
      cat.insert("f", rows(batch))
      live ++= batch.map(j => s"id-$j")
      failThenRetry(root, cat, "f", i, throws, live)(cat.flush("f"))
    }
    // the last retry published every layout the collection declares
    val dir = new Path(s"$root/f")
    val names = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(dir).map(_.getPath.getName).toSet
    assert(Set("v8", "v8_centroids", "v8_pq", "v8_bin").subsetOf(names))
  }

  test("flushDelta: a failed segment rename leaves no version, claim or staging dir and " +
    "keeps the ledger; the retry publishes it") {
    val root = faultRoot()
    val cat = new GraftCatalog(spark, root)
    cat.createCollection(meta("d"))
    cat.loadCollection("d")
    cat.insert("d", rows(0 until 20))
    cat.flush("d")
    var live = (0 until 20).map(j => s"id-$j").toSet
    for ((throws, n) <- Seq(false, true).zipWithIndex) {
      cat.insert("d", rows(100 + n * 3 until 103 + n * 3))
      cat.delete("d", Single("id", FilterExpr.Eq, s"id-$n"))
      live = live ++ (100 + n * 3 until 103 + n * 3).map(j => s"id-$j") - s"id-$n"
      failThenRetry(root, cat, "d", 1, throws, live)(cat.flushDelta("d"))
      assert(cat.segmentCount("d") === n + 1)
    }
  }
}

/** Arms [[RenameFaultFs]]: the `at`-th rename of a dir staged directly
  * under a `.staging-*` dir fails — by throwing an IOException when
  * `throws`, else by returning `false`. */
object RenameFault {
  @volatile private var at = 0
  @volatile private var throws = false
  @volatile var fired = false
  private val seen = new AtomicInteger

  def arm(i: Int, throwIt: Boolean): Unit = {
    seen.set(0); fired = false; throws = throwIt; at = i
  }
  def disarm(): Unit = at = 0

  /** Some(throws) when this staged rename is the armed one. */
  private[graft] def hit(): Option[Boolean] =
    if (at > 0 && seen.incrementAndGet() == at) { fired = true; Some(throws) } else None
}

/** Local disk under the `mockfail:` scheme with [[RenameFault]]'s
  * injected rename failures. */
class RenameFaultFs extends RawLocalFileSystem {
  override def getScheme: String = "mockfail"
  override def getUri: URI = URI.create("mockfail:///")
  override def rename(src: Path, dst: Path): Boolean = {
    val staged = Option(src.getParent).exists(_.getName.startsWith(".staging-"))
    (if (staged) RenameFault.hit() else None) match {
      case Some(true)  => throw new java.io.IOException(s"injected rename fault: $src")
      case Some(false) => false
      case None        => super.rename(src, dst)
    }
  }
}

/** FileContext-side binding for `mockfail:`. */
class RenameFaultAbstractFs(uri: URI, conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, new RenameFaultFs, conf, "mockfail", false)
