package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines.
  *
  * Scale design: every method is a bounded number of shuffles keyed by
  * content (hash/band/block keys), never an all-pairs cross join —
  * the only quadratic step (exact Jaccard verification) runs on LSH/block
  * candidates, whose size is controlled by the banding parameters.
  */
object Dedup {

  /** Exact duplicates by content hash-groupBy: per distinct `textCol`, the
    * surviving id (min) and the duplicate count. One shuffle on the text
    * hash; map-side partial aggregation halves traffic. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Drop exact duplicates, keeping the min-id representative. */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.join(
      exactGroups(df, idCol, textCol).select(col("keep_id").as(idCol)),
      Seq(idCol), "left_semi")

  /** Exact Jaccard similarity of distinct 3-word-shingle sets between two
    * shingle-array columns. The intersection is bound to a lambda variable
    * (single-element transform) so it is computed ONCE per row, not once per
    * reference — Catalyst does not hoist common subexpressions out of
    * complex array expressions. */
  def jaccard(a: Column, b: Column): Column =
    element_at(
      transform(array(array_intersect(a, b)), inter =>
        size(inter).cast("double") /
          (size(array_distinct(a)) + size(array_distinct(b)) - size(inter))),
      1)

  /** 3-word shingles of a text column (whitespace tokens); short texts fall
    * back to the whole text as a single shingle.
    *
    * The token array is bound once as a lambda variable: writing
    * `split(text)[i]` inside the per-shingle lambda would re-split the WHOLE
    * text for every element reference — O(len²) per document, the round-1
    * sf0.1 bench killer (55 s for the MinHash pipeline, now ~2 s).
    * Built from Column combinators (`get` is 0-based like SQL `t[i]`), not
    * interpolated SQL text, so any column expression is safe input. */
  def shingles(text: Column): Column =
    element_at(
      transform(array(split(text, " ")), t =>
        when(size(t) >= 3,
          transform(sequence(lit(0), size(t) - 3),
            i => concat_ws(" ", get(t, i), get(t, i + 1), get(t, i + 2))))
          .otherwise(array(text))),
      1)

  /** Name-based convenience overload. */
  def shingles(textColName: String): Column = shingles(col(textColName))

  /** Deterministic sub-bucket salt for hot-key splitting: 0 when the
    * bucket is within `cap`, else FNV-1a(bucketKey|id) (sign-masked) mod
    * ceil(√m) — engine-independent, so any oracle can replicate it. Seeding
    * with the bucket key makes each hot band/block bucket its members
    * DIFFERENTLY, so a doc landing in a thin sub-bucket of one band still
    * meets companions in the others. */
  private[dedup] def subBucketSalt(id: Column, bucketKey: Column,
                                   bucketN: Column, cap: Long): Column =
    when(bucketN <= cap, lit(0L))
      .otherwise(pmod(
        graft.functions.fnv64(concat_ws("|", bucketKey.cast("string"), id.cast("string")))
          .bitwiseAND(lit(Long.MaxValue)),
        ceil(sqrt(bucketN)).cast("long")))

  /** Pairwise n-gram Jaccard within blocking keys (e.g. same lang+source),
    * candidate-generated by PREFIX FILTERING (the AllPairs/ppjoin family):
    * with shingle sets sorted by one global order, any pair with
    * J(A,B) ≥ t must share a token among each side's first
    * |X| − ⌈t·|X|⌉ + 1 elements — so candidates come from an EQUI-join on
    * (block, salt, prefix-token) instead of the m²-per-block cross
    * product, and only candidates pay the exact verify. Provably lossless
    * (prefix-filtering lemma; the DuckDB oracle pins the full m² semantics
    * and stays green).
    *
    * Hot-key handling unchanged: blocks over `maxBlockSize` split into
    * ceil(√m) deterministic sub-buckets ([[subBucketSalt]]) — mass-
    * duplicated members share ALL their tokens, so candidate counts are
    * quadratic in the duplicate-group size no matter how candidates are
    * generated; the salt bounds that — and blocks past maxBlockSize² are
    * dropped as the final backstop. Emits pairs with jaccard ≥ threshold. */
  def blockedJaccardPairs(
      df: DataFrame, idCol: String, textColName: String,
      blockCols: Seq[String], threshold: Double,
      maxBlockSize: Long = 10000L): DataFrame = {
    // NULL-safe block keys: an equi-join can never match NULL = NULL, so
    // rows with a NULL blocking value (missing lang/source metadata is
    // routine in crawl data) would silently skip candidate generation.
    // Encode each block column as a non-null string key — 'n' for NULL,
    // 'v'+value otherwise (prefix keeps the mapping injective) — so NULL
    // forms its own block, matching SQL's IS NOT DISTINCT FROM grouping.
    val blockKeys = blockCols.indices.map(i => s"__bk$i")
    val keyExprs = blockCols.zip(blockKeys).map { case (c, k) =>
      when(col(c).isNull, lit("n"))
        .otherwise(concat(lit("v"), col(c).cast("string"))).as(k)
    }
    val withSh0 = df.select(
      (col(idCol) +: keyExprs) :+ shingles(textColName).as("__sh"): _*)
    val counts = withSh0.groupBy(blockKeys.map(col): _*).agg(count(lit(1)).as("__bn"))
    // Pre-distinct + sort the shingle sets ONCE PER ROW: the sorted array
    // is both the prefix-token source and the zero-allocation merge input
    // of the verify (sorted_intersect_count).
    val withSh = withSh0.join(counts, blockKeys)
      .where(col("__bn") <= lit(maxBlockSize) * lit(maxBlockSize))
      .withColumn("__salt", subBucketSalt(col(idCol),
        concat_ws("|", blockKeys.map(col): _*), col("__bn"), maxBlockSize))
      .withColumn("__shd", array_sort(array_distinct(col("__sh"))))
      .withColumn("__nd", size(col("__shd")))
      .drop("__sh", "__bn")
    // prefix length |X| − ⌈t·|X|⌉ + 1 (≥ 1 for t ≤ 1)
    val prefixLen = (col("__nd") - ceil(col("__nd") * lit(threshold)) + 1).cast("int")
    val tokens = withSh.select(
      (col(idCol) +: col("__salt") +: blockKeys.map(col)) :+
        explode(slice(col("__shd"), lit(1), prefixLen)).as("__tok"): _*)
    val ta = tokens.select(col(idCol).as("id_a") +: col("__salt") +:
      col("__tok") +: blockKeys.map(col): _*)
    val tb = tokens.select(col(idCol).as("id_b") +: col("__salt") +:
      col("__tok") +: blockKeys.map(col): _*)
    val cands = ta.join(tb, Seq("__salt", "__tok") ++ blockKeys)
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // hydrate candidates with the sorted sets; the size prefilter
    // (J ≤ min/max of sizes) still prunes before the merge-intersect
    val sa = withSh.select(col(idCol).as("id_a"), col("__shd").as("shd_a"), col("__nd").as("nd_a"))
    val sb = withSh.select(col(idCol).as("id_b"), col("__shd").as("shd_b"), col("__nd").as("nd_b"))
    cands.join(sa, "id_a").join(sb, "id_b")
      .where(least(col("nd_a"), col("nd_b")).cast("double") >=
        lit(threshold) * greatest(col("nd_a"), col("nd_b")))
      .select(col("id_a"), col("id_b"),
        jaccardPreDistinct(col("shd_a"), col("shd_b"), col("nd_a"), col("nd_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Jaccard over PRE-SORTED, PRE-DISTINCT sets with precomputed sizes:
    * one zero-allocation merge-intersect per pair, lambda-bound so it
    * evaluates once (Catalyst does not CSE across the two references). */
  private[dedup] def jaccardPreDistinct(da: Column, db: Column, na: Column, nb: Column): Column =
    element_at(
      transform(array(graft.functions.sorted_intersect_count(da, db)), inter =>
        round(inter.cast("double") / (na + nb - inter), 6)),
      1)

  /** [[duplicateClusters]]' loop runs one partition per this many directed
    * edges, between [[LoopFloorParts]] and the session default. */
  private val EdgesPerLoopPart = 100000L
  private val LoopFloorParts = 2L

  /** Connected components over a duplicate-pair graph — the step that turns
    * a pair list (from MinHash/SimHash/Jaccard/embedding dedup) into
    * keep/drop decisions: every id is labeled with the smallest id reachable
    * through duplicate edges (= its cluster representative).
    *
    * Min-label propagation: each round every node takes the minimum label
    * among itself and its neighbors — one equi-join + one groupBy-min per
    * round, converging in graph-diameter rounds. Duplicate graphs are
    * near-cliques (copies of one content all link each other), so the
    * diameter is small; `maxIter` bounds adversarial chains. Lineage is cut
    * every round (eager localCheckpoint) so the plan stays flat — the
    * iterative-join scale trap. Only ids that appear in some pair are
    * emitted (singletons are their own trivial cluster). */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // Materialize the pair source ONCE before symmetrizing: the two union
    // branches are separate subtrees to Spark, so a non-trivial `pairs`
    // lineage (the MinHash/sign-LSH candidate+verify pipeline in the dedup
    // family) was evaluated twice on the first pass over `edges` (r14,
    // guide §2.4 — share one evaluation instead of recomputing).
    val p = pairs.localCheckpoint(true)
    val edges = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(p.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct().persist()
    // Scale-adaptive loop parallelism (r14, guide §2.2): every round's
    // join/agg shuffles — and the checkpointed RDDs that carry partitioning
    // into the NEXT round — default to the session's shuffle partitions,
    // so a small duplicate graph pays rounds × stages × partitions of task
    // dispatch for microseconds of work each (measured ~20 task-seconds on
    // a 2.6k-edge graph at 32 partitions). Derive the loop's partition
    // count from the materialized edge count (~100k edges per partition),
    // capped at the session default so big graphs keep full parallelism.
    val s = pairs.sparkSession
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val nEdges = edges.count()
    val wantedParts = nEdges / EdgesPerLoopPart + 1L
    val loopParts = math.max(LoopFloorParts, math.min(prevParts.toLong, wantedParts))
    s.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    // AQE off inside the loop ONLY while the graph is floor-bound (r14,
    // guide §1.2; scope narrowed r15, r14 VERDICT #6): each round's single
    // action (the checkpoint materialization) was split by AQE into 2-3
    // stage jobs — on right-sized micro-shuffles AQE has nothing left to
    // adapt, so every extra stage job is pure dispatch floor × rounds. But
    // AQE is also the skew-join splitter: a near-clique cluster makes one
    // label hot in the propagation join, and the upstream LSH cap² backstop
    // bounds edges per node only for LSH-sourced pair graphs. So AQE turns
    // off only while the whole graph fits the loop's floor partition count
    // (fewer than LoopFloorParts × EdgesPerLoopPart directed edges), where a
    // partition holding every edge of one hot label is still small. The
    // bound is absolute, not relative to the session default: at the
    // default 200 partitions a relative gate left AQE off for graphs of up
    // to ~20M edges. Larger graphs keep AQE and its skew splitting (pinned
    // by DedupSpec).
    //
    // Conf scoping (r15, r14 VERDICT #8): this scope MUTATES the shared
    // session and restores in a finally — a concurrent query on the same
    // session during the loop can observe the scoped values. The clone-
    // session alternative was implemented and MEASURED (interleaved A/B,
    // quiet host): running the loop on a cloneSession() cost a consistent
    // +50% task-CPU and +13% wall on dedup_clusters/dedup_embedding at
    // identical job counts and partitioning (taskSec 8.0→11.5-12.3; the
    // overhead is per-action session machinery on the clone, not the
    // view/RDD crossing — both crossings measured the same). The engine's
    // declared query paths run this loop single-threaded, so the trade
    // goes to wall time; the replay scopes (Tables.withReplayPartitions),
    // where the clone is free, DO use it.
    val aqeKey = "spark.sql.adaptive.enabled"
    val prevAqe = s.conf.get(aqeKey)
    if (wantedParts <= LoopFloorParts) s.conf.set(aqeKey, "false")
    try {
      // init = the first propagation round folded into one aggregation:
      // label(id) = min(id, min neighbor) — saves a full checkpointed round
      var labels = edges.groupBy(col("src").as("id"))
        .agg(min(col("dst")).as("__mn"))
        .select(col("id"), least(col("id"), col("__mn")).as("cluster"))
        .localCheckpoint(true)
      var changed = 1L
      var i = 0
      // r14: the per-round convergence count rides the SAME job that
      // materializes the round's checkpoint, via an accumulator — formerly
      // a separate count() job per round (the loop is round-count bound at
      // small partition counts, and near-clique duplicate graphs still run
      // several rounds). The accumulator is exact on a clean run:
      // localCheckpoint's materialization evaluates every partition exactly
      // once. Under task RETRY or speculation (spark.speculation) a
      // partition can evaluate twice and OVERCOUNT — which only ever ADDS
      // loop rounds (changed > 0 stays true one round longer), never
      // early-exits, so labels are unaffected; the safe direction by
      // construction (r15, r14 VERDICT #4 note).
      while (changed > 0 && i < maxIter) {
        val nbrMin = edges
          .join(labels.select(col("id").as("dst"), col("cluster").as("nl")), "dst")
          .groupBy(col("src").as("id")).agg(min("nl").as("mn"))
        // carry the old label through instead of re-joining to detect change:
        // one checkpointed pass yields both the new labeling and the delta
        val prop = labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("cluster"), coalesce(col("mn"), col("cluster"))).as("cluster"),
            col("cluster").as("__old"))
        val acc = s.sparkContext.longAccumulator
        val marked = prop.mapPartitions { it =>
          it.map { r =>
            if (!java.util.Objects.equals(r.get(1), r.get(2))) acc.add(1L)
            r
          }
        }(org.apache.spark.sql.Encoders.row(prop.schema))
        val next = marked.localCheckpoint(true)
        changed = acc.value
        labels = next.drop("__old")
        i += 1
      }
      edges.unpersist()
      labels
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.conf.set(aqeKey, prevAqe)
    }
  }

  /** Apply near-dup clustering: drop every row whose id is a non-canonical
    * member of some duplicate cluster (keep the min-id representative and
    * all unpaired rows). */
  def dropClusterDuplicates(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    df.join(
      duplicateClusters(pairs).where(col("id") =!= col("cluster"))
        .select(col("id").as(idCol)),
      Seq(idCol), "left_anti")

  /** Candidate pairs from an exploded (id, band) relation, with the shared
    * hot-band discipline: band membership counted on the same key the join
    * needs, bands over `cap` split into ceil(√m) salted sub-buckets
    * ([[subBucketSalt]]), bands past cap² dropped as the final backstop.
    * One equi-join shuffle on (band, salt); never all-pairs. */
  private[dedup] def bandedCandidatePairs(exploded: DataFrame, idCol: String,
                                          maxBandSize: Long): DataFrame = {
    val counts = exploded.groupBy("band").agg(count(lit(1)).as("__bn"))
    val salted = exploded.join(counts, Seq("band"))
      .where(col("__bn") <= lit(maxBandSize) * lit(maxBandSize))
      .withColumn("__salt", subBucketSalt(col(idCol), col("band"), col("__bn"), maxBandSize))
    val l = salted.select(col(idCol).as("id_a"), col("band"), col("__salt"))
    val r = salted.select(col(idCol).as("id_b"), col("band"), col("__salt"))
    l.join(r, Seq("band", "__salt")).where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Incremental exact dedup: the rows of `batch` whose `textCol` content
    * does NOT already appear in the historical `corpus` — the "new crawl
    * against the existing 100 TB" step, run on every ingest.
    *
    * Scale shape (the same machinery AQE's runtime row-level filtering
    * injects, made an explicit operator, applied SYMMETRICALLY):
    *
    *  1. A bloom sketch of the corpus content hashes is aggregated ONCE
    *     (map-side partial blooms, driver merge — `optimalNumOfBits/8`
    *     bytes, ~0.9 MB at 1M items / 3% fpp) and re-embedded as a plan
    *     constant on the batch side. Bloom NEGATIVES are definitely new
    *     and skip the join entirely; only bloom POSITIVES — true
    *     duplicates plus an fpp sliver of the batch — continue.
    *  2. The corpus side of the anti-join is pruned the same way in
    *     reverse: a second, tighter sketch (fpp 1e-4, sized by the counted
    *     maybe-set) of the SMALL maybe-dup side filters the corpus scan,
    *     so the join shuffles ~|dups| + 1e-4·|corpus| rows instead of the
    *     whole corpus text column — at 100 TB that second filter is the
    *     difference between shuffling terabytes and shuffling the
    *     duplicate set. If the maybe set outgrows the session's bloom
    *     caps (`spark.sql.optimizer.runtime.bloomFilter.maxNumItems` /
    *     `maxNumBits`), the fpp backs off to what still fits, and past
    *     that the reverse filter is skipped — the unpruned join is the
    *     correct graceful floor, never a silently undersized sketch.
    *
    * Exactness at any fpp: sketches have no false negatives, so no true
    * duplicate can skip the join (step 1) and no corpus partner of a
    * surviving maybe-row can be pruned away (step 2); false positives on
    * either side only add rows to the exact left-anti, which settles them.
    * `expectedItems` sizes the corpus sketch: overshoot is safe, undershoot
    * only degrades the pruning rate, never correctness. Within-batch
    * duplicates are NOT collapsed — compose with [[dropExactDuplicates]].
    *
    * At true 100 TB corpus scale the driver-merged sketch is the only
    * non-distributed piece; it stays viable because its size is fixed by
    * (expectedItems, fpp), not by corpus bytes — 1B items at 3% fpp is
    * ~0.9 GB, at which point shard the corpus by hash range and run one
    * sketch+probe per shard. The maybe set is materialized ONCE via eager
    * localCheckpoint before its three consumers (count, reverse sketch,
    * anti-join) — chosen over persist because a CacheManager entry pins
    * batch-sized blocks for the application lifetime (a continuous-ingest
    * loop leaks one per crawl batch) while checkpoint blocks free on GC.
    * The trade: checkpoint blocks are executor-resident and NOT
    * recomputable, so losing an executor mid-batch (e.g. under dynamic
    * allocation) fails that batch instead of transparently recomputing —
    * acceptable because the screen is idempotent and the caller's ingest
    * loop retries the batch. */
  def newAgainstCorpus(batch: DataFrame, corpus: DataFrame, textCol: String,
                       expectedItems: Long, fpp: Double = 0.03): DataFrame = {
    import org.apache.spark.sql.graft.SketchExpressions
    require(batch.columns.contains(textCol),
      s"batch has no column '$textCol' (columns: ${batch.columns.mkString(", ")})")
    require(corpus.columns.contains(textCol),
      s"corpus has no column '$textCol' (columns: ${corpus.columns.mkString(", ")})")
    val h = xxhash64(col(textCol))
    val bloomRow = corpus.select(
      SketchExpressions.bloomFilterAgg(h, expectedItems, fpp).as("b")).head()
    if (bloomRow.isNullAt(0)) return batch // empty corpus: everything is new
    val bloom = lit(bloomRow.getAs[Array[Byte]](0))
    val definitelyNew = batch.where(!SketchExpressions.mightContain(bloom, h))
    // Materialized once: the maybe set feeds three consumers (count,
    // reverse sketch, anti-join left side) — one probe scan of the batch
    // instead of three. Eager localCheckpoint, NOT persist: a cache entry
    // would pin batch-sized blocks in the CacheManager forever (a
    // continuous-ingest loop leaks one per crawl batch), while checkpoint
    // blocks are released by the ContextCleaner as soon as the returned
    // plan is dropped.
    val maybeDup = batch.where(SketchExpressions.mightContain(bloom, h))
      .localCheckpoint(true)
    val maybeN = maybeDup.count()
    if (maybeN == 0L) return batch // sketch cleared the whole batch
    // reverse filter: sketch the (small) maybe side and prune the corpus
    // scan before the anti-join shuffle. fpp targets 1e-4 but backs off to
    // whatever still fits the session's numBits cap; if the maybe set
    // outgrows the items cap entirely, skip the reverse filter — the join
    // against the unpruned corpus is the correct graceful floor (same
    // degrade-don't-lie shape as the LSH cap² backstop).
    val corpusSide =
      if (maybeN > SketchExpressions.bloomMaxItems ||
          SketchExpressions.fppFloor(maybeN) >= 0.5) corpus.select(col(textCol))
      else {
        val fpp2 = math.min(0.5, math.max(1e-4, SketchExpressions.fppFloor(maybeN) * 1.01))
        val maybeBloom = maybeDup.select(
          SketchExpressions.bloomFilterAgg(h, maybeN, fpp2).as("b"))
          .head().getAs[Array[Byte]]("b")
        corpus.where(SketchExpressions.mightContain(lit(maybeBloom), h))
          .select(col(textCol))
      }
    definitelyNew.unionByName(
      maybeDup.join(corpusSide, Seq(textCol), "left_anti"))
  }

  /** `textCol`'s whitespace tokens re-paged into newline-separated lines
    * of `tokensPerLine` tokens — the shaping step in front of
    * [[stripBoilerplateLines]] for corpora whose documents carry no
    * newlines of their own. Row-local, no shuffle. */
  def pageIntoLines(textCol: Column, tokensPerLine: Int): Column = {
    require(tokensPerLine >= 1, s"tokensPerLine must be >= 1, got $tokensPerLine")
    val toks = split(textCol, " ")
    val nLines = ceil(size(toks).cast("double") / tokensPerLine.toDouble).cast("int")
    array_join(
      transform(sequence(lit(0), nLines - 1),
        i => array_join(slice(toks, i * lit(tokensPerLine) + 1, lit(tokensPerLine)), " ")), "\n")
  }

  /** Corpus-level boilerplate line removal — the line-granular prep step
    * (C4 §2.1's "discard any line repeated across documents" family): a
    * line whose trimmed form appears in >= `minDocs` DISTINCT documents is
    * boilerplate (nav menus, cookie banners, license headers, share
    * buttons) and is struck from EVERY document; surviving lines are
    * reassembled in original order. Blank lines never count as boilerplate
    * and are always kept. Repeats of a line WITHIN one document count that
    * document once.
    *
    * Scale design: lines shuffle as 8-byte fnv64 keys of the trimmed line,
    * never line text; the frequency pass is distinct(doc, hash) → count
    * per hash — two hash shuffles with map-side partial aggregation; the
    * strike is a left-anti equi-join of lines against the over-threshold
    * hash set (orders of magnitude smaller than the corpus — Spark
    * broadcasts it when it fits, falls back to a shuffle join when it
    * doesn't); reassembly is one groupBy(id) with an in-row sort by line
    * position. Never doc×doc, state bounded by document size.
    *
    * Output: (idCol, text_clean, lines_kept, lines_dropped), one row per
    * input row — a fully-stripped document survives with text_clean = ''. */
  def stripBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
                            minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs (1 would strike every line)")
    val lines = df.select(col(idCol),
        posexplode(split(col(textCol), "\n", -1)).as(Seq("pos", "line")))
      .withColumn("lh", graft.functions.fnv64(trim(col("line"))))
    val boiler = lines.where(trim(col("line")) =!= "")
      .select(col(idCol), col("lh")).distinct()
      .groupBy(col("lh")).agg(count(lit(1)).as("ndocs"))
      .where(col("ndocs") >= minDocs)
      .select("lh")
    val kept = lines.join(boiler, Seq("lh"), "left_anti")
      .groupBy(col(idCol)).agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")), "\n").as("text_clean"),
        count(lit(1)).as("lines_kept"))
    // null text explodes to zero lines, so its total must be 0 too —
    // size(split(null)) would yield -1 (legacy) / null (ANSI) and corrupt
    // the lines_dropped arithmetic
    df.select(col(idCol),
        when(col(textCol).isNull, lit(0L))
          .otherwise(size(split(col(textCol), "\n", -1)).cast("long"))
          .as("__lines_total"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("lines_kept"), lit(0L)).as("lines_kept"),
        (col("__lines_total") - coalesce(col("lines_kept"), lit(0L))).as("lines_dropped"))
  }

  /** Cross-document repeated-SPAN removal — the token-window member of the
    * dedup family (the ExactSubstr discipline of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * approximated at fixed `n`-token-window granularity): an n-token window
    * whose joined form appears in >= `minDocs` DISTINCT documents marks all
    * n of its token positions struck in EVERY document carrying it;
    * surviving tokens reassemble in original order. Catches templated spans
    * [[stripBoilerplateLines]] misses because they sit mid-line or at a
    * different offset in each document (SEO sentences, inline license
    * text, email signatures). Within-document repeats count their document
    * once; a window only strikes on corpus-wide distinct-document support.
    *
    * Scale design: windows shuffle as 8-byte fnv64 keys (one per token
    * position — never window text); frequency is distinct(doc, hash) →
    * count, two map-side-combined hash shuffles; the strike is a semi-join
    * of window rows against the over-threshold hash set (broadcast when it
    * fits); reassembly is one groupBy(id) whose row-local coverage merge is
    * O(tokens) — covered indexes expand once and drop via array_except's
    * hashed lookup, no per-token linear scan of the struck list. Never
    * doc×doc; per-document state bounded by document length.
    *
    * Output: (idCol, text_clean, tokens_kept, tokens_dropped), one row per
    * input row — a fully-struck document survives with text_clean = ''. */
  def strikeRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                          n: Int, minDocs: Int = 2): DataFrame = {
    require(n >= 2, s"n must be >= 2, got $n (1 would be a plain token-frequency strike)")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs (1 would strike every span)")
    // (id, start, window-hash), start 0-based. The token array is bound as
    // a lambda variable (the shingles O(len²) re-split footgun above);
    // docs shorter than n tokens emit no windows.
    val wins = df.select(col(idCol),
      posexplode(element_at(
        transform(array(split(col(textCol), " ")), t =>
          when(size(t) >= n,
            transform(sequence(lit(0), size(t) - n),
              i => graft.functions.fnv64(array_join(slice(t, i + 1, lit(n)), " "))))
            .otherwise(array().cast("array<bigint>"))),
        1)).as(Seq("start", "wh")))
    val repeated = wins.select(col(idCol), col("wh")).distinct()
      .groupBy(col("wh")).agg(count(lit(1)).as("ndocs"))
      .where(col("ndocs") >= minDocs)
      .select("wh")
    val struck = wins.join(repeated, Seq("wh"), "left_semi")
      .groupBy(col(idCol)).agg(collect_set(col("start")).as("__struck"))
    df.join(struck, Seq(idCol), "left")
      .select(col(idCol),
        when(col(textCol).isNull,
          struct(lit("").as("text_clean"), lit(0L).as("tokens_kept"),
            lit(0L).as("tokens_dropped")))
          .otherwise(element_at(
            transform(array(split(col(textCol), " ")), t => {
              val covered = array_distinct(flatten(transform(
                coalesce(col("__struck"), array().cast("array<int>")),
                s => sequence(s, s + n - 1))))
              val keptIdx = array_except(sequence(lit(0), size(t) - 1), covered)
              struct(
                array_join(transform(keptIdx, i => get(t, i)), " ").as("text_clean"),
                size(keptIdx).cast("long").as("tokens_kept"),
                (size(t) - size(keptIdx)).cast("long").as("tokens_dropped"))
            }), 1)).as("__out"))
      .select(col(idCol), col("__out.text_clean").as("text_clean"),
        col("__out.tokens_kept").as("tokens_kept"),
        col("__out.tokens_dropped").as("tokens_dropped"))
  }
}

/** SimHash near-duplicate detection (the Charikar fingerprint + the
  * Manku-Jain-Sarma banded lookup): 64-bit token-vote fingerprints, banded
  * into `bands` equal bit-chunks for candidate generation, verified by
  * exact Hamming distance. Pigeonhole makes the banding LOSSLESS for
  * `maxHamming ≤ bands − 1`: flipping ≤ bands−1 bits cannot touch every
  * band, so a qualifying pair always shares at least one intact band —
  * candidates come from an equi-join on (band index, band value), never
  * all-pairs, which is what makes simhash dedup workable at corpus scale. */
object SimHashDedup {

  /** Add the 64-bit fingerprint of the whitespace-token stream. */
  def withFingerprint(df: DataFrame, textColName: String): DataFrame =
    df.withColumn("__fp", graft.functions.simhash64(split(col(textColName), " ")))

  /** Near-duplicate pairs `(id_a, id_b, hamming)` with
    * `hamming ≤ maxHamming`. Complete for `maxHamming ≤ bands − 1`
    * (pigeonhole); beyond that a pair is found only if some band survives
    * untouched — the standard simhash recall trade. Hot bands are salted /
    * capped exactly like the MinHash LSH path. */
  def nearDuplicatePairs(
      df: DataFrame, idCol: String, textColName: String,
      maxHamming: Int = 3, bands: Int = 4,
      maxBandSize: Long = 10000L): DataFrame = {
    require(64 % bands == 0, "bands must divide 64")
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming must be in [0, 64)")
    val bits = 64 / bands
    val fps = withFingerprint(df, textColName).select(col(idCol), col("__fp"))
    // band value = that chunk's bits (mask after the shift, so the sign bit
    // of the top chunk is irrelevant); key carries the band INDEX too — the
    // same value in different positions must not collide. bits = 64 needs
    // an explicit all-ones mask: JVM shifts are mod 64, so (1L << 64) - 1
    // would wrap to 0 and band every fingerprint to "0:0".
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    val bandKeys = (0 until bands).map { b =>
      concat_ws(":", lit(b.toString),
        shiftright(col("__fp"), b * bits).bitwiseAND(lit(mask)).cast("string"))
    }
    // Unlike the MinHash path (whose shingle sets are too wide to carry
    // through the explode), the 8-byte fingerprint rides along with its
    // band rows — so the verify runs directly on the band join and the
    // fingerprint projection is evaluated ONCE, with no hydration joins.
    // Same hot-band salt/cap discipline as bandedCandidatePairs.
    val exploded = fps.select(col(idCol), col("__fp"),
      explode(array(bandKeys: _*)).as("band"))
    val counts = exploded.groupBy("band").agg(count(lit(1)).as("__bn"))
    val salted = exploded.join(counts, Seq("band"))
      .where(col("__bn") <= lit(maxBandSize) * lit(maxBandSize))
      .withColumn("__salt",
        Dedup.subBucketSalt(col(idCol), col("band"), col("__bn"), maxBandSize))
    val l = salted.select(col(idCol).as("id_a"), col("__fp").as("fp_a"),
      col("band"), col("__salt"))
    val r = salted.select(col(idCol).as("id_b"), col("__fp").as("fp_b"),
      col("band"), col("__salt"))
    l.join(r, Seq("band", "__salt")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }
}

/** MinHash + LSH near-duplicate detection: shingle → k min-hashes → band →
  * bucket-join → exact-Jaccard verify. Hash family is
  * `int64(first 15 hex digits of md5(j || '|' || shingle))` — deterministic,
  * engine-independent (the DuckDB oracle reproduces it bit-for-bit), and
  * uniform enough for MinHash's collision-probability guarantee. */
object MinHashLSH {

  private def sigExpr(sh: Column, j: Int): Column =
    graft.functions.minhash_sig(sh, j)

  /** Seed-j re-hash of a pre-hashed shingle for the `xx` family:
    * `xxhash64(x, j)` over the 64-bit pre-hash is an 8-byte-input hash
    * (orders of magnitude cheaper than re-hashing the shingle string), and
    * the signed array_min over it is a min over a fixed pseudo-random
    * permutation — what MinHash needs. (A multiply-shift `a_j·x + b_j`
    * permutation would be cheaper still, but its deliberate mod-2⁶⁴
    * wraparound trips Spark 4's default ANSI overflow checking.) */
  private def permuted(xs: Column, j: Int): Column =
    array_min(transform(xs, x => xxhash64(x, lit(j))))

  /** Add `sig_0 .. sig_{k-1}` min-hash signature columns. Row-local: the
    * shingle array is materialized once in its own projection (non-cheap
    * aliases referenced k times are not inlined by CollapseProject), then k
    * hash passes read it — one codegen'd stage, no shuffle.
    *
    * `family` picks the hash family:
    *  - `"md5"` (default): `int64(first 15 hex digits of md5(j|shingle))`
    *    — the engine-independent, DuckDB-replicable form (the oracle path).
    *  - `"xx"`: ONE xxhash64 pass per shingle + k `xxhash64(x, j)` remixes
    *    of the 64-bit pre-hash (see [[permuted]]) — the production path:
    *    same banding/verify pipeline, ~3× cheaper signatures (md5 digests
    *    dominate the md5 family; see dedup_minhash_fast_100k in BENCH). */
  def withSignatures(df: DataFrame, textColName: String, k: Int,
                     family: String = "md5"): DataFrame = family match {
    case "md5" =>
      val withSh = df.withColumn("__mh_sh", Dedup.shingles(textColName))
      (0 until k).foldLeft(withSh)((d, j) => d.withColumn(s"sig_$j", sigExpr(col("__mh_sh"), j)))
        .drop("__mh_sh")
    case "xx" =>
      // hash every shingle ONCE, then k cheap bijective remixes of the
      // 64-bit values — same projection discipline as the md5 branch
      val withXs = df
        .withColumn("__mh_sh", Dedup.shingles(textColName))
        .withColumn("__mh_xs", transform(col("__mh_sh"), s => xxhash64(s)))
      (0 until k).foldLeft(withXs)((d, j) => d.withColumn(s"sig_$j", permuted(col("__mh_xs"), j)))
        .drop("__mh_sh", "__mh_xs")
    case other => throw new IllegalArgumentException(
      s"unknown MinHash family: $other (md5 | xx)")
  }

  /** Candidate pairs: ids sharing at least one LSH band
    * (k/bandSize bands of `bandSize` signature values). One explode + one
    * equi-join shuffle on the band key.
    *
    * Hot-band salting: a band shared by m documents yields m² candidate
    * pairs — one mass-duplicated boilerplate string can turn a single
    * bucket quadratic at corpus scale, and at 100 TB that boilerplate is
    * exactly what dedup exists to remove, so dropping the band (the round-2
    * behavior) silently kept every copy. Bands over `maxBandSize` members
    * are instead split into ceil(√m) deterministic sub-buckets (FNV-1a of
    * the id — engine-independent) and pairs form only within a sub-bucket:
    * per-band work drops from m² to m^1.5 while every member still meets
    * ~√m of its fellow duplicates, which is what duplicate-group detection
    * needs. Bands past maxBandSize² (whose sub-buckets would again exceed
    * the cap) are dropped — the final backstop. The count pre-pass shuffles
    * on the band key the join already needs. */
  def candidatePairs(sigs: DataFrame, idCol: String, k: Int, bandSize: Int,
                     maxBandSize: Long = 10000L): DataFrame = {
    require(k % bandSize == 0, "k must be divisible by bandSize")
    val exploded = sigs.select(col(idCol), explode(bandKeyArray(k, bandSize)).as("band"))
    Dedup.bandedCandidatePairs(exploded, idCol, maxBandSize)
  }

  /** The k/bandSize LSH band keys of a signature row, as an array column
    * (band index prefixed so equal signature values in different bands
    * cannot collide). */
  private def bandKeyArray(k: Int, bandSize: Int): Column =
    array((0 until k / bandSize).map { b =>
      val parts = (0 until bandSize).map(i => col(s"sig_${b * bandSize + i}").cast("string"))
      concat_ws(":", lit(b.toString) +: parts: _*)
    }: _*)

  /** Incremental near-dup: verified (batch, corpus) near-duplicate pairs —
    * the production dedup shape where a NEW CRAWL BATCH screens against the
    * existing corpus, not against itself (the near-dup analog of
    * [[Dedup.newAgainstCorpus]]'s exact-content screen). Both sides get
    * signatures + bands; ONE band equi-join (batch bands ⋈ corpus bands)
    * yields candidates; exact shingle Jaccard decides. Never corpus×corpus,
    * never batch×batch — the join fan-out is qualifying band co-occupancy
    * only.
    *
    * Hot-band bound: a boilerplate band with m corpus members would cross
    * every batch hit with all m, so the corpus side of each band is capped
    * at the `maxCorpusBandProbes` members least by id (deterministic). The
    * interesting giant band IS a duplicate cluster — a batch doc landing in
    * it near-duplicates essentially any member, so probing a bounded,
    * deterministic subset still verifies (spec-pinned); a miss needs ≥cap
    * non-duplicate band colliders hiding a true dup, which the exact verify
    * then never sees — raise the cap when bands are collision-heavy.
    *
    * Scale: one band shuffle per side + the band equi-join + two id
    * equi-joins for shingle hydration (the batch side is small — AQE
    * broadcasts it). The corpus signature/band relation depends only on the
    * corpus: persist (or write) it once and screen every arriving batch
    * against it. */
  def corpusNearDuplicates(
      batch: DataFrame, corpus: DataFrame, idCol: String, textColName: String,
      k: Int = 8, bandSize: Int = 2, threshold: Double = 0.5,
      maxCorpusBandProbes: Int = 1024, family: String = "md5"): DataFrame = {
    require(k % bandSize == 0, "k must be divisible by bandSize")
    require(maxCorpusBandProbes >= 1, "maxCorpusBandProbes must be >= 1")
    def bands(df: DataFrame, as: String): DataFrame =
      withSignatures(df, textColName, k, family)
        .select(col(idCol).as(as), explode(bandKeyArray(k, bandSize)).as("band"))
    val bBands = bands(batch, "batch_id")
    val cBands = bands(corpus, "corpus_id")
    val cCapped = cBands
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("band")).orderBy(col("corpus_id"))))
      .where(col("__rn") <= maxCorpusBandProbes).drop("__rn")
    val cands = bBands.join(cCapped, Seq("band"))
      .select(col("batch_id"), col("corpus_id")).distinct()
    def sh(df: DataFrame, as: String, shAs: String, nAs: String): DataFrame =
      df.select(col(idCol).as(as), Dedup.shingles(textColName).as("__sh"))
        .select(col(as), array_sort(array_distinct(col("__sh"))).as(shAs))
        .withColumn(nAs, size(col(shAs)))
    cands
      .join(sh(batch, "batch_id", "shd_a", "nd_a"), Seq("batch_id"))
      .join(sh(corpus, "corpus_id", "shd_b", "nd_b"), Seq("corpus_id"))
      .select(col("batch_id"), col("corpus_id"),
        Dedup.jaccardPreDistinct(col("shd_a"), col("shd_b"), col("nd_a"), col("nd_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Batch survivors: rows of `batch` with NO verified corpus near-dup —
    * anti-join on the matched batch ids ([[corpusNearDuplicates]]). */
  def newNearAgainstCorpus(
      batch: DataFrame, corpus: DataFrame, idCol: String, textColName: String,
      k: Int = 8, bandSize: Int = 2, threshold: Double = 0.5,
      maxCorpusBandProbes: Int = 1024, family: String = "md5"): DataFrame = {
    val matched = corpusNearDuplicates(batch, corpus, idCol, textColName,
      k, bandSize, threshold, maxCorpusBandProbes, family)
      .select(col("batch_id").as(idCol)).distinct()
    batch.join(matched, Seq(idCol), "left_anti")
  }

  /** Full pipeline: LSH candidates verified by exact shingle Jaccard.
    *
    * Plan-shape notes (both measured at sf0.1 and 100k docs): the
    * candidate branch and the verify-hydration branch are deliberately
    * INDEPENDENT subtrees over `df` — feeding both from one shared shingle
    * relation doubled the whole pipeline's runtime (the shared subtree
    * defeats per-branch column pruning). The signature step stays the k
    * scalar [[graft.functions.minhash_sig]] columns: the array-valued
    * `minhash_sigs` kernel measured equal at 100k docs but ~2× slower at
    * suite scale inside this DAG (the exploded subtree is re-evaluated by
    * the count/salt pre-pass, and the array form re-evaluates worse). */
  def nearDuplicates(
      df: DataFrame, idCol: String, textColName: String,
      k: Int = 8, bandSize: Int = 2, threshold: Double = 0.5,
      maxBandSize: Long = 10000L, family: String = "md5"): DataFrame = {
    val sigs = withSignatures(df, textColName, k, family)
    val cands = candidatePairs(sigs, idCol, k, bandSize, maxBandSize)
    // hydrate candidates with pre-distinct shingle sets: one intersect per
    // verified pair (see jaccardPreDistinct); independent subtree — see above
    val sh = df.select(col(idCol), Dedup.shingles(textColName).as("__sh"))
      .select(col(idCol), array_sort(array_distinct(col("__sh"))).as("__shd"))
      .withColumn("__nd", size(col("__shd")))
    cands
      .join(sh.select(col(idCol).as("id_a"), col("__shd").as("shd_a"), col("__nd").as("nd_a")), Seq("id_a"))
      .join(sh.select(col(idCol).as("id_b"), col("__shd").as("shd_b"), col("__nd").as("nd_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        Dedup.jaccardPreDistinct(col("shd_a"), col("shd_b"), col("nd_a"), col("nd_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }
}
