package graft

import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, MinHashLSH, SimHashDedup}

/** Dedup module semantics (exact, blocked Jaccard, MinHash+LSH) on small
  * synthetic fixtures — the reference-style unit layer under the
  * oracle-checked queries in PipelineQueries. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    (1L, "the quick brown fox jumps", "en", "a"),
    (2L, "the quick brown fox jumps", "en", "b"), // exact dup of 1
    (3L, "the quick brown fox leaps", "en", "a"), // near dup of 1 (one word)
    (4L, "completely different text here now", "en", "a"),
    (5L, "short", "en", "a")
  ).toDF("id", "text", "lang", "src")

  test("exactGroups: one group per distinct text, min id kept, copies counted") {
    val g = Dedup.exactGroups(df, "id", "text").collect()
    assert(g.length === 4)
    val dup = g.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dup.getAs[Long]("keep_id") === 1L)
  }

  test("dropExactDuplicates keeps exactly the min-id representative per text") {
    val ids = Dedup.dropExactDuplicates(df, "id", "text")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === Seq(1L, 3L, 4L, 5L))
  }

  test("jaccard: known shingle-set overlap; short text falls back to whole text") {
    val sh = df.select(col("id"), Dedup.shingles("text").as("sh"))
    // id=5 'short' has < 3 tokens -> single whole-text shingle
    val s5 = sh.where(col("id") === 5).head().getSeq[String](1)
    assert(s5 === Seq("short"))
    // 1 vs 3: shingles {tqb,qbf,bfj/bfl} -> inter 2 of 4 distinct -> 0.5
    val j = df.as("a").where(col("id") === 1)
      .crossJoin(df.as("b").where(col("id") === 3))
      .select(Dedup.jaccard(Dedup.shingles("a.text"), Dedup.shingles("b.text")).as("j"))
      .head().getDouble(0)
    assert(j === 0.5)
  }

  test("prefix-filtered blockedJaccardPairs equals brute force on random corpora (seeded)") {
    import spark.implicits._
    val r = new scala.util.Random(7)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    def text() = Seq.fill(2 + r.nextInt(9))(vocab(r.nextInt(vocab.length))).mkString(" ")
    val rows = (0 until 60).map(i => (i.toLong, text(), if (i % 2 == 0) "x" else "y"))
    val corpus = rows.toDF("id", "text", "blk")
    val t = 0.3
    val got = Dedup.blockedJaccardPairs(corpus, "id", "text", Seq("blk"), t)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
    // brute force mirror: 3-word shingles (whole text if < 3 tokens),
    // distinct sets, all pairs within a block
    def sh(s: String): Set[String] = {
      val tk = s.split(" ")
      if (tk.length >= 3) tk.sliding(3).map(_.mkString(" ")).toSet else Set(s)
    }
    val byBlock = rows.groupBy(_._3)
    val want = byBlock.values.flatMap { docs =>
      for {
        a <- docs; b <- docs if a._1 < b._1
        sa = sh(a._2); sb = sh(b._2)
        inter = (sa & sb).size
        j = inter.toDouble / (sa.size + sb.size - inter)
        jr = BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if jr >= t
      } yield (a._1, b._1, jr)
    }.toSet
    assert(got === want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("minhash_sig kernel is bit-identical to the conv(substr(md5)) SQL formulation") {
    val sh = df.select(col("id"), Dedup.shingles("text").as("sh"))
    (0 until 4).foreach { j =>
      val diverged = sh.select(
          graft.functions.minhash_sig(col("sh"), j).as("kernel"),
          expr(s"array_min(transform(sh, s -> " +
            s"cast(conv(substr(md5(cast(concat('$j|', s) as binary)), 1, 15), 16, 10) as bigint)))")
            .as("sql"))
        .where(!(col("kernel") <=> col("sql"))) // null-safe: NULL≠value diverges too
      assert(diverged.count() === 0L, s"seed $j diverged")
    }
  }

  test("minhash_sigs (array kernel) is bit-identical to k scalar minhash_sig columns") {
    val sh = df.select(col("id"), Dedup.shingles("text").as("sh"))
    val k = 8
    val rows = sh.select(
        graft.functions.minhash_sigs(col("sh"), k).as("arr"),
        array((0 until k).map(j => graft.functions.minhash_sig(col("sh"), j)): _*).as("scalars"))
      .collect()
    rows.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1), r.toString))
    // NULL parity on empty input
    val empty = spark.sql("SELECT cast(array() as array<string>) AS sh")
      .select(graft.functions.minhash_sigs(col("sh"), 4)).head()
    assert(empty.isNullAt(0))
  }

  test("minhash_sig is NULL on empty / all-null / null shingle arrays, like array_min") {
    val cases = spark.sql(
      """SELECT sh FROM VALUES
        |  (array('a','b')),
        |  (cast(array() as array<string>)),
        |  (array(cast(null as string), cast(null as string))),
        |  (cast(null as array<string>)) AS t(sh)""".stripMargin)
    val rows = cases.select(
        graft.functions.minhash_sig(col("sh"), 0).as("kernel"),
        expr("array_min(transform(sh, s -> " +
          "cast(conv(substr(md5(cast(concat('0|', s) as binary)), 1, 15), 16, 10) as bigint)))")
          .as("sql"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1), s"nullability diverged: $r")
      if (!r.isNullAt(0)) assert(r.getLong(0) === r.getLong(1), s"value diverged: $r")
    }
    assert(rows.count(_.isNullAt(0)) === 3) // only the real shingle row hashes
  }

  test("duplicateClusters: transitive chains collapse to one min-id cluster per component") {
    import spark.implicits._
    // component 1: path 1-2-3-4 (diameter 3, needs propagation, not one hop)
    // component 2: pair 10-11; ids 2,3 also pair directly (cycle edge)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 3L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("dropClusterDuplicates keeps the min-id representative and unpaired rows") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Dedup.dropClusterDuplicates(df, "id", pairs)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(1L, 4L, 5L)) // 2,3 dropped; 4,5 unpaired survive
  }

  test("duplicateClusters: empty pair set yields an empty labeling") {
    import spark.implicits._
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.duplicateClusters(pairs).count() === 0L)
  }

  test("duplicateClusters: long chain converges exactly (r14 accumulator " +
    "convergence check + edge-count-derived loop partitions), string ids too") {
    import spark.implicits._
    // diameter-12 chain: forces many propagation rounds through the
    // accumulator-counted convergence path (a wrong 'changed' count either
    // stops early — wrong labels — or never stops — maxIter labels wrong)
    val chain = (0 until 12).map(i => (i.toLong, i.toLong + 1)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (0L to 12L).map(_ -> 0L).toMap)
    // the generic row-equality compare must hold for non-primitive id types
    val sPairs = Seq(("b", "c"), ("a", "b"), ("x", "y")).toDF("id_a", "id_b")
    val sGot = Dedup.duplicateClusters(sPairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sGot === Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("duplicateClusters: hot-label star graph (near-clique shape, r14 VERDICT #6) " +
      "converges exactly; conf scope restores; a cap-sized graph keeps AQE available") {
    import spark.implicits._
    val partsKey = "spark.sql.shuffle.partitions"
    val aqeKey = "spark.sql.adaptive.enabled"
    val prevParts = spark.conf.get(partsKey)
    val prevAqe = spark.conf.get(aqeKey)
    // star: node 0 pairs with every other node — ONE maximally hot label,
    // the skew shape the loop's AQE-scope comment documents
    val pairs = (1L to 3000L).map(i => (0L, i)).toDF("id_a", "id_b")
    val labels = Dedup.duplicateClusters(pairs)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length === 3001 && got.forall(_._2 == 0L))
    assert(spark.conf.get(partsKey) === prevParts)
    assert(spark.conf.get(aqeKey) === prevAqe)
    // r15 skew gate: a graph whose derived partition count hits the session
    // default must KEEP AQE inside the loop (skew-join splitting stays
    // armed for exactly the graphs big enough to have a hot partition).
    // Pin it by shrinking the session default so the cap bites.
    spark.conf.set(partsKey, "2")
    try {
      val observedAqe = scala.collection.mutable.Set.empty[String]
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          observedAqe += spark.conf.get(aqeKey); ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val big = (1L to 250000L).map(i => (i % 500, 500L + i % 499)).toDF("id_a", "id_b")
        Dedup.duplicateClusters(big).count() // 250k edges / 100k per part + 1 => cap (2)
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(!observedAqe.contains("false"),
        s"AQE must stay ON when the loop runs at the session-default cap: $observedAqe")
    } finally spark.conf.set(partsKey, prevParts)
  }

  test("duplicateClusters: the loop's AQE gate is an absolute edge bound, not relative " +
      "to the session default") {
    import spark.implicits._
    val partsKey = "spark.sql.shuffle.partitions"
    val aqeKey = "spark.sql.adaptive.enabled"
    val prevParts = spark.conf.get(partsKey)
    /** The AQE values jobs started with while `body` ran. */
    def aqeDuring(body: => Unit): Set[String] = {
      val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          seen.add(spark.conf.get(aqeKey)); ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try body finally spark.sparkContext.removeSparkListener(listener)
      scala.jdk.CollectionConverters.SetHasAsScala(seen).asScala.toSet
    }
    spark.conf.set(partsKey, "200")
    try {
      // 150k two-node components = 300k directed edges: past the floor
      // (2 × 100k), far under the 200-partition default. A gate relative
      // to that default turned AQE off here.
      val mid = (0L until 150000L).map(i => (2 * i, 2 * i + 1)).toDF("id_a", "id_b")
      val onMid = aqeDuring(assert(Dedup.duplicateClusters(mid).count() === 300000L))
      assert(!onMid.contains("false"), s"a 300k-edge graph must keep AQE on: $onMid")
      // a floor-sized graph still runs its loop with AQE off
      val small = (0L until 3000L).map(i => (2 * i, 2 * i + 1)).toDF("id_a", "id_b")
      val onSmall = aqeDuring(assert(Dedup.duplicateClusters(small).count() === 6000L))
      assert(onSmall.contains("false"), s"a 6k-edge graph runs its loop with AQE off: $onSmall")
    } finally spark.conf.set(partsKey, prevParts)
  }

  test("simhash banded pairs EQUAL brute-force hamming pairs (lossless for h ≤ bands−1)") {
    // 15 groups × {base, exact copy, one-token variant}: copies give
    // hamming 0 (guaranteed pairs), variants give small-but-varied hamming
    val docs = for { g <- 0 until 15; v <- 0 until 3 } yield {
      val toks = (0 until 30).map(j => s"g${g}w${(j * 7 + g) % 11}x$j")
      val t = v match {
        case 2 => toks.updated(5, s"mutated$g")
        case _ => toks
      }
      (g * 10 + v, t.mkString(" "))
    }
    val d = docs.toDF("id", "text")
    val got = SimHashDedup.nearDuplicatePairs(d, "id", "text", maxHamming = 3)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
    val fps = SimHashDedup.withFingerprint(d, "text")
      .select("id", "__fp").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val ids = fps.keys.toSeq.sorted
    val want = (for {
      a <- ids; b <- ids if a < b
      h = java.lang.Long.bitCount(fps(a) ^ fps(b)) if h <= 3
    } yield (a, b, h)).toSet
    assert(want.nonEmpty) // the exact copies guarantee hamming-0 pairs
    assert(got === want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("sorted_intersect_count equals size(array_intersect) on sorted-distinct inputs") {
    import spark.implicits._
    val cases = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")),        // partial overlap
      (Seq("a", "b"), Seq("a", "b")),                  // identical
      (Seq("a"), Seq("z")),                            // disjoint
      (Seq.empty[String], Seq("a")),                   // empty side
      (Seq.empty[String], Seq.empty[String]),          // both empty
      (Seq("á", "ß", "中"), Seq("ß", "中", "ﬂ"))      // non-ascii binary order
    ).toDF("a", "b")
    val rows = cases.select(
        graft.functions.sorted_intersect_count(
          array_sort(col("a")), array_sort(col("b"))).as("merge"),
        size(array_intersect(col("a"), col("b"))).as("hash"))
      .collect()
    rows.foreach(r => assert(r.getInt(0) === r.getInt(1), r.toString))
  }

  test("blockedJaccardPairs never compares across blocks") {
    // 1 and 2 are identical but in different src blocks -> not a pair
    val pairs = Dedup.blockedJaccardPairs(df, "id", "text", Seq("lang", "src"), 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L))) // same block, jaccard 0.5
  }

  test("blockedJaccardPairs: NULL blocking values form their own block " +
       "(not silently dropped), and NULL != non-NULL") {
    val withNulls = Seq(
      (10L, "the quick brown fox jumps", null.asInstanceOf[String], "a"),
      (11L, "the quick brown fox jumps", null.asInstanceOf[String], "a"), // dup, NULL lang
      (12L, "the quick brown fox jumps", "en", "a")  // same text, lang set
    ).toDF("id", "text", "lang", "src")
    val pairs = Dedup.blockedJaccardPairs(withNulls, "id", "text", Seq("lang", "src"), 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((10L, 11L)), "identical docs in the NULL-lang block must pair")
    assert(!pairs.contains((10L, 12L)) && !pairs.contains((11L, 12L)),
      "NULL block must not match the 'en' block")
  }

  test("SimHash bands=1: the full-64-bit band key works (no mask wrap to zero)") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again"),
      (2L, "the quick brown fox jumps over the lazy dog again"), // identical
      (3L, "entirely unrelated content with different words throughout here")
    ).toDF("id", "text")
    val pairs = SimHashDedup.nearDuplicatePairs(docs, "id", "text",
        maxHamming = 0, bands = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs === Set((1L, 2L, 0)),
      "bands=1 must band on the full fingerprint: identical docs pair, others don't")
  }

  test("minhash signatures: identical texts get identical signatures") {
    val sigs = MinHashLSH.withSignatures(df.where(col("id") <= 2), "text", 8)
      .select((0 until 8).map(j => col(s"sig_$j")): _*).collect()
    assert(sigs(0).toSeq === sigs(1).toSeq)
  }

  test("hot bands are SALTED into sub-buckets: duplicates still found, work bounded") {
    import spark.implicits._
    // 30 identical docs = one white-hot band family; 2 near-dups elsewhere
    val hot = (1 to 30).map(i => (100L + i, "mass produced boilerplate text block"))
    val pair = Seq((1L, "the quick brown fox jumps today"), (2L, "the quick brown fox jumps tonight"))
    val corpus = (hot ++ pair).toDF("id", "text")
    val salted = MinHashLSH.nearDuplicates(corpus, "id", "text",
      k = 8, bandSize = 2, threshold = 0.4, maxBandSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(salted.contains((1L, 2L)))                        // small band unaffected
    val hotPairs = salted.filter { case (a, b) => a > 100L && b > 100L }
    // round-2 dropped the band entirely (zero pairs); salting keeps every
    // copy linked into the duplicate group through its sub-bucket …
    val covered = hotPairs.flatMap { case (a, b) => Seq(a, b) }
    assert(covered === hot.map(_._1).toSet, "every hot-band doc must appear in some pair")
    // … while doing strictly less than the full m² work
    assert(hotPairs.size < 30 * 29 / 2, "salting must not degenerate to all-pairs")
    // default cap: 30 < 10000, no salting, full pair set
    val uncapped = MinHashLSH.nearDuplicates(corpus, "id", "text", threshold = 0.4)
      .where(col("id_a") > 100).count()
    assert(uncapped === 30L * 29 / 2)
  }

  test("bands past maxBandSize² are dropped — the final backstop") {
    import spark.implicits._
    val hot = (1 to 12).map(i => (100L + i, "mass produced boilerplate text block"))
    val corpus = (hot :+ (1L, "the quick brown fox jumps today")).toDF("id", "text")
    // cap 3 → backstop at 9 members; 12 > 9 → dropped entirely
    val pairs = MinHashLSH.nearDuplicates(corpus, "id", "text",
      k = 8, bandSize = 2, threshold = 0.4, maxBandSize = 3)
    assert(pairs.count() === 0L)
  }

  test("10k+-copy boilerplate: salted LSH still links every copy (round-2 dropped them all)") {
    import spark.implicits._
    val n = 10050 // just past the default 10000 cap
    val corpus = (1 to n).map(i => (i.toLong, "mass produced boilerplate text block that repeats"))
      .toDF("id", "text").repartition(8)
    val sigs = MinHashLSH.withSignatures(corpus, "text", 8)
    val cands = MinHashLSH.candidatePairs(sigs, "id", 8, 2) // default cap 10000 < n
    val covered = cands.select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct().count()
    assert(covered === n.toLong, "every copy must appear in at least one candidate pair")
    // bounded: ~m^1.5 pairs (within ceil(√m) sub-buckets), far below m²/2
    val total = cands.count()
    assert(total < n.toLong * n / 20, s"pair count $total suggests all-pairs degeneration")
  }

  test("hot blocks are salted in blockedJaccardPairs: big-block dups found, small block intact") {
    import spark.implicits._
    val big = (1 to 20).map(i => (i.toLong, "some shared text block repeated verbatim", "en", "hot"))
    val small = Seq((100L, "the quick brown fox jumps today", "en", "cold"),
      (101L, "the quick brown fox jumps tonight", "en", "cold"))
    val corpus = (big ++ small).toDF("id", "text", "lang", "src")
    val pairs = Dedup.blockedJaccardPairs(corpus, "id", "text", Seq("lang", "src"),
      threshold = 0.1, maxBlockSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((100L, 101L)))
    val hotPairs = pairs.filter { case (a, b) => a < 100L && b < 100L }
    assert(hotPairs.flatMap { case (a, b) => Seq(a, b) } === big.map(_._1).toSet,
      "every hot-block doc must appear in some pair")
    assert(hotPairs.size < 20 * 19 / 2)
  }

  test("nearDuplicates finds exact and one-word-off pairs, not unrelated docs") {
    val pairs = MinHashLSH.nearDuplicates(df, "id", "text", k = 8, bandSize = 2, threshold = 0.4)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L))) // identical -> all bands collide, jaccard 1.0
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L }) // unrelated never verified in
    val j12 = MinHashLSH.nearDuplicates(df, "id", "text", threshold = 0.4)
      .where(col("id_a") === 1 && col("id_b") === 2).head().getAs[Double]("jaccard")
    assert(j12 === 1.0)
  }

  test("xx family: same verified duplicate pairs as the md5 family on the fixture") {
    // the verify step pins precision for both families; this asserts the
    // fast family's banding recall matches on a realistic dup mix
    def run(family: String): Set[(Long, Long, Double)] =
      MinHashLSH.nearDuplicates(df, "id", "text", k = 8, bandSize = 2,
          threshold = 0.4, family = family)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
          r.getAs[Double]("jaccard"))).toSet
    assert(run("xx") === run("md5"))
    intercept[IllegalArgumentException](
      MinHashLSH.withSignatures(df, "text", 8, family = "sha9000"))
  }

  test("stripBoilerplateLines: cross-doc lines struck, rare/blank/within-doc-repeat lines kept, order preserved") {
    val pages = Seq(
      (1L, "BANNER\nalpha one\n\nalpha two"),   // banner + blank line
      (2L, "BANNER\nbeta one\nbeta one"),        // banner + a WITHIN-doc repeat
      (3L, "BANNER\ngamma one\nrare pair"),      // banner + a 2-doc line
      (4L, "rare pair\ndelta one"),              // 2-doc line, no banner
      (5L, "BANNER")                             // banner only -> fully stripped
    ).toDF("id", "text")
    val out = Dedup.stripBoilerplateLines(pages, "id", "text", minDocs = 4)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("text_clean"), r.getAs[Long]("lines_kept"),
          r.getAs[Long]("lines_dropped")))).toMap
    assert(out(1L) === (("alpha one\n\nalpha two", 3L, 1L))) // blank kept, order intact
    assert(out(2L) === (("beta one\nbeta one", 2L, 1L)))     // repeat counts doc ONCE -> kept
    assert(out(3L) === (("gamma one\nrare pair", 2L, 1L)))   // 2 docs < minDocs -> kept
    assert(out(4L) === (("rare pair\ndelta one", 2L, 0L)))
    assert(out(5L) === (("", 0L, 1L)))                       // stripped doc still present
    // at minDocs=2 the rare pair goes too, and the trimmed-form match
    // ("  BANNER  " === "BANNER") strikes the padded variant as well
    val out2 = Dedup.stripBoilerplateLines(
        pages.unionByName(Seq((6L, "  BANNER  \nzeta one")).toDF("id", "text")),
        "id", "text", minDocs = 2)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("text_clean")).toMap
    assert(out2(6L) === "zeta one")
    assert(out2(3L) === "gamma one")
    assert(out2(4L) === "delta one")
    intercept[IllegalArgumentException](
      Dedup.stripBoilerplateLines(pages, "id", "text", minDocs = 1))
    // a null text row must come back whole with zero counts, never a
    // negative lines_dropped from size(split(null)) = -1
    val withNull = pages.unionByName(
      Seq((7L, Option.empty[String])).toDF("id", "text"))
    val outNull = Dedup.stripBoilerplateLines(withNull, "id", "text", minDocs = 4)
      .where(col("id") === 7L).collect()
    assert(outNull.length === 1)
    assert(outNull(0).getAs[String]("text_clean") === "")
    assert(outNull(0).getAs[Long]("lines_kept") === 0L)
    assert(outNull(0).getAs[Long]("lines_dropped") === 0L)
  }

  test("stripBoilerplateLines matches the naive per-line computation on a random corpus") {
    val rnd = new scala.util.Random(20260813)
    val vocabLine = (0 until 12).map(i => s"line$i")
    val corpus = (0L until 60L).map { id =>
      val n = 1 + rnd.nextInt(6)
      id -> (0 until n).map(_ => vocabLine(rnd.nextInt(vocabLine.size))).mkString("\n")
    }
    val minDocs = 3
    val counts = corpus.flatMap { case (id, t) => t.split("\n", -1).map(_.trim).filter(_.nonEmpty).distinct.map(_ -> id) }
      .groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).distinct.size }
    val boiler = counts.filter(_._2 >= minDocs).keySet
    val expected = corpus.map { case (id, t) =>
      val kept = t.split("\n", -1).filterNot(l => boiler(l.trim))
      id -> ((kept.mkString("\n"), kept.length.toLong,
        (t.split("\n", -1).length - kept.length).toLong))
    }.toMap
    val got = Dedup.stripBoilerplateLines(corpus.toDF("id", "text"), "id", "text", minDocs)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("text_clean"),
          r.getAs[Long]("lines_kept"), r.getAs[Long]("lines_dropped")))).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (id, e) => assert(got(id) === e, s"doc $id") }
  }

  test("strikeRepeatedSpans: cross-doc windows struck at any offset, overlaps merge, short/rare/null docs survive") {
    val corpus = Seq(
      (1L, "x a b c y"),        // span mid-doc
      (2L, "a b c z w"),        // same span at offset 0
      (3L, "p q r s t"),        // unique -> untouched
      (4L, "a b c"),            // exactly the span -> fully struck
      (5L, "a b a b a b c"),    // within-doc repeats count once; tail span struck
      (6L, "a b c d a b c"),    // overlapping struck windows merge; lone 'd' kept
      (7L, "a b")               // shorter than n -> no windows, untouched
    ).toDF("id", "text")
    val out = Dedup.strikeRepeatedSpans(corpus, "id", "text", n = 3, minDocs = 2)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("text_clean"), r.getAs[Long]("tokens_kept"),
          r.getAs[Long]("tokens_dropped")))).toMap
    assert(out(1L) === (("x y", 2L, 3L)))
    assert(out(2L) === (("z w", 2L, 3L)))
    assert(out(3L) === (("p q r s t", 5L, 0L)))
    assert(out(4L) === (("", 0L, 3L)))             // struck doc still present
    assert(out(5L) === (("a b a b", 4L, 3L)))      // "a b a" repeats WITHIN doc 5 only -> kept
    assert(out(6L) === (("d", 1L, 6L)))            // covered {0..2} ∪ {4..6}
    assert(out(7L) === (("a b", 2L, 0L)))
    intercept[IllegalArgumentException](
      Dedup.strikeRepeatedSpans(corpus, "id", "text", n = 1, minDocs = 2))
    intercept[IllegalArgumentException](
      Dedup.strikeRepeatedSpans(corpus, "id", "text", n = 3, minDocs = 1))
    val withNull = corpus.unionByName(Seq((8L, Option.empty[String])).toDF("id", "text"))
    val outNull = Dedup.strikeRepeatedSpans(withNull, "id", "text", n = 3, minDocs = 2)
      .where(col("id") === 8L).collect()
    assert(outNull.length === 1)
    assert(outNull(0).getAs[String]("text_clean") === "")
    assert(outNull(0).getAs[Long]("tokens_kept") === 0L)
    assert(outNull(0).getAs[Long]("tokens_dropped") === 0L)
  }

  test("strikeRepeatedSpans matches the naive per-window computation on a random corpus") {
    val rnd = new scala.util.Random(20260813)
    val vocab = Array("a", "b", "c", "d", "e", "f")
    val corpus = (0L until 50L).map { id =>
      val len = 2 + rnd.nextInt(11)
      id -> (0 until len).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val n = 3; val minDocs = 3
    def windows(t: String): Seq[(Int, String)] = {
      val tk = t.split(" ", -1)
      if (tk.length < n) Seq.empty
      else (0 to tk.length - n).map(i => i -> tk.slice(i, i + n).mkString(" "))
    }
    val support = corpus.flatMap { case (id, t) => windows(t).map(_._2).distinct.map(_ -> id) }
      .groupBy(_._1).map { case (w, xs) => w -> xs.map(_._2).distinct.size }
    val repeated = support.filter(_._2 >= minDocs).keySet
    val expected = corpus.map { case (id, t) =>
      val tk = t.split(" ", -1)
      val covered = windows(t).collect { case (i, w) if repeated(w) => i until (i + n) }
        .flatten.toSet
      val kept = tk.indices.filterNot(covered).map(tk)
      id -> ((kept.mkString(" "), kept.length.toLong, (tk.length - kept.length).toLong))
    }.toMap
    val got = Dedup.strikeRepeatedSpans(corpus.toDF("id", "text"), "id", "text", n, minDocs)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("text_clean"),
          r.getAs[Long]("tokens_kept"), r.getAs[Long]("tokens_dropped")))).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (id, e) => assert(got(id) === e, s"doc $id") }
  }
}
