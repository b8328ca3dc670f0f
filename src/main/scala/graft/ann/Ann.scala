package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions._

/** Similarity search over embedding columns for training-data pipelines.
  *
  * Scale ladder:
  *  - [[bruteForceTopK]]: exact, broadcast the (small) query set over the
  *    corpus scan — one pass, per-partition partial top-K. The recall=1
  *    baseline.
  *  - [[signLshPairs]] / IVF: the 100 TB paths — candidate generation via
  *    bucket equi-joins (shuffle on bucket key), exact scoring only inside
  *    buckets/probed cells, never an unblocked all-pairs join.
  */
object Ann {

  /** Exact top-k neighbors for every query row. `queries` must be small
    * (broadcast side); the corpus is scanned once, ranked per query with a
    * bounded window. Output: (qid, id, dist, rn). */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      metric: String = "cosine"): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .select(
        col(qidCol), col(idCol),
        round(distance(col(vecCol), col(qvecCol), metric), 6).as("dist"))
    val w = Window.partitionBy(col(qidCol)).orderBy(col("dist").asc, col(idCol).asc)
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .orderBy(col(qidCol), col("rn"))
  }

  /** All pairs with cosine similarity ≥ threshold — exact near-duplicate
    * detection over embeddings. Quadratic BY CONSTRUCTION (an O(n²)
    * theta-join), so it refuses to run past `maxRows`: at corpus scale use
    * [[signLshPairs]] (bucketed equi-join) instead. The count() guard is one
    * cheap scan — negligible next to the join it gates. */
  def cosineSimPairs(df: DataFrame, idCol: String, vecCol: String, threshold: Double,
                     maxRows: Long = 100000L): DataFrame = {
    val n = df.count()
    require(n <= maxRows,
      s"cosineSimPairs is O(n²) and refuses n=$n > maxRows=$maxRows rows; " +
        "use signLshPairs for corpus-scale near-dup detection")
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(lit(1.0) - cosine_distance(col("va"), col("vb")), 6).as("sim"))
      .where(col("sim") >= threshold)
      .orderBy("id_a", "id_b")
  }

  /** Random-hyperplane (sign) LSH bucket key: one bit per plane =
    * sign(dot(v, plane)). Planes are rows of `planes` (deterministic:
    * callers pass e.g. the first-n embeddings). */
  def signBucket(vecCol: Column, planes: Seq[Array[Float]]): Column =
    concat_ws("", planes.map(p => when(vec_dot(vecCol, lit(p)) > 0, "1").otherwise("0")): _*)

  /** LSH-bucketed near-dup pairs: bucket equi-join + exact verify. Misses
    * cross-bucket pairs by design (recall/cost trade dial = plane count). */
  def signLshPairs(
      df: DataFrame, idCol: String, vecCol: String,
      planes: Seq[Array[Float]], threshold: Double): DataFrame = {
    val bucketed = df.select(col(idCol), col(vecCol), signBucket(col(vecCol), planes).as("bucket"))
    val a = bucketed.select(col("bucket"), col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = bucketed.select(col("bucket"), col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.join(b, Seq("bucket")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(lit(1.0) - cosine_distance(col("va"), col("vb")), 6).as("sim"))
      .where(col("sim") >= threshold)
      .orderBy("id_a", "id_b")
  }

  /** Incremental SEMANTIC dedup: batch embeddings screened against the
    * corpus by sign-LSH bucket co-occupancy, verified by exact cosine —
    * completing the incremental-screen triple (bloom = exact content,
    * banded MinHash = lexical near-dup, this = embedding near-dup). Never
    * batch×batch or corpus×corpus; the corpus side of each bucket is capped
    * at the `maxCorpusBucketProbes` id-least members (the
    * corpusNearDuplicates argument: a giant bucket is a near-dup cluster,
    * so bounded probing still verifies). Returns verified
    * (batch_id, corpus_id, sim) pairs; the corpus bucket relation depends
    * only on the corpus and amortizes across batches. */
  def signLshAgainstCorpus(
      batch: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      planes: Seq[Array[Float]], threshold: Double,
      maxCorpusBucketProbes: Int = 1024): DataFrame = {
    require(maxCorpusBucketProbes >= 1, "maxCorpusBucketProbes must be >= 1")
    val b = batch.select(signBucket(col(vecCol), planes).as("bucket"),
      col(idCol).as("batch_id"), col(vecCol).as("va"))
    // the probe-cap window shuffles (bucket, id) ONLY — at corpus scale the
    // vectors are ~30× the id bytes, and they are needed just for the
    // (much smaller) capped survivor set, re-attached by an id equi-join
    val cIds = corpus.select(signBucket(col(vecCol), planes).as("bucket"),
      col(idCol).as("corpus_id"))
    val cCapped = cIds.withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("bucket")).orderBy(col("corpus_id"))))
      .where(col("__rn") <= maxCorpusBucketProbes).drop("__rn")
      .join(corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("vb")), Seq("corpus_id"))
    b.join(cCapped, Seq("bucket"))
      .select(col("batch_id"), col("corpus_id"),
        round(lit(1.0) - cosine_distance(col("va"), col("vb")), 6).as("sim"))
      .where(col("sim") >= threshold)
  }

  /** Batch survivors of the semantic screen: rows of `batch` with no
    * verified corpus neighbor at `threshold` ([[signLshAgainstCorpus]]). */
  def newSemanticAgainstCorpus(
      batch: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      planes: Seq[Array[Float]], threshold: Double,
      maxCorpusBucketProbes: Int = 1024): DataFrame = {
    val matched = signLshAgainstCorpus(batch, corpus, idCol, vecCol, planes,
      threshold, maxCorpusBucketProbes)
      .select(col("batch_id").as(idCol)).distinct()
    batch.join(matched, Seq(idCol), "left_anti")
  }

  /** IVF cell assignment: nearest centroid per row via the single-loop
    * [[graft.functions.arg_min_distance]] kernel (rounded-distance argmin,
    * lowest cid on ties — semantics pinned against the per-centroid
    * `array_min(array(struct(round(dist),cid)…))` formulation, which this
    * replaces because it falls out of codegen past a few dozen centroids).
    * Output: df columns + `cell`. */
  def ivfAssign(
      df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Long, Array[Float])], metric: String = "euclidean"): DataFrame =
    df.withColumn("cell", arg_min_distance(col(vecCol), centroids, metric))

  /** Distributed k-means (Lloyd) centroid training for the IVF layout,
    * seeded from the k pk-smallest rows (deterministic). Each iteration is
    * one assignment scan (the argmin kernel) + one (cell, dim) partial
    * aggregation — shuffle traffic is partitions × k × dim, independent of
    * row count, so 2-3 iterations are cheap even at corpus scale. Empty
    * cells keep their previous centroid. Cosine centroids are re-normalized
    * (spherical k-means; stored vectors live on the unit sphere).
    *
    * `sampleMod`: train the Lloyd iterations on the ~1/mod id-hash
    * subsample `xxhash64(id) % mod == 0` instead of the full corpus — the
    * 100 TB path: centroid quality needs a uniform sample with a few
    * hundred points per cell, not every row, and the subsample is
    * content-deterministic (no RNG, no partition sensitivity in WHO is
    * sampled). The final full-corpus assignment stays exact either way.
    *
    * Centroid VALUES depend on float summation order (partitioning), so
    * training is not bit-deterministic across cluster layouts — consumers
    * persist the trained codebook (the catalog's sidecar) rather than
    * re-deriving it. */
  def trainCentroids(
      df: DataFrame, idCol: String, vecCol: String, k: Int,
      metric: String = "euclidean", iterations: Int = 2,
      sampleMod: Option[Long] = None): Seq[(Long, Array[Float])] = {
    // the sampled training set is scanned 1 + iterations times (seed +
    // each Lloyd pass) — persist it so the full corpus is filtered ONCE,
    // not once per pass
    val sampled = sampleMod.collect { case m if m > 1 =>
      df.where(pmod(xxhash64(col(idCol)), lit(m)) === 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val base = sampled.getOrElse(df)
    try {
    def seedFrom(d: DataFrame) = d.orderBy(col(idCol).asc).limit(k)
      .select(vecCol).collect()
      .zipWithIndex.map { case (r, i) => (i.toLong, r.getSeq[Float](0).toArray) }.toSeq
    val seed0 = seedFrom(base)
    // an over-aggressive sampleMod on a small collection must not look
    // empty — and the Lloyd iterations must fall back WITH the seed, else
    // they aggregate the empty sample to zero rows and silently ship the
    // untrained seed as the "trained" centroids
    val sampleEmpty = seed0.isEmpty && sampled.isDefined
    val seed = if (sampleEmpty) seedFrom(df) else seed0
    val train = if (sampleEmpty) df else base
    if (seed.isEmpty) return seed
    (0 until iterations).foldLeft(seed) { (cents, _) =>
      val sums = ivfAssign(train.select(col(vecCol)), idCol, vecCol, cents, metric)
        .select(col("cell"), posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(sum("x").as("s"), count(lit(1)).as("n"))
        .collect()
      val byCell = sums.groupBy(_.getAs[Long]("cell"))
      cents.map { case (cid, old) =>
        byCell.get(cid) match {
          case None => (cid, old) // empty cell: keep previous centroid
          case Some(rows) =>
            val mean = new Array[Float](old.length)
            rows.foreach { r =>
              mean(r.getAs[Int]("pos")) =
                (r.getAs[Double]("s") / r.getAs[Long]("n")).toFloat
            }
            (cid, if (metric == "cosine") normalizeLocal(mean) else mean)
        }
      }
    }
    } finally sampled.foreach(_.unpersist(false))
  }

  private def normalizeLocal(a: Array[Float]): Array[Float] = {
    var acc = 0.0; a.foreach(x => acc += x.toDouble * x.toDouble)
    val norm = math.sqrt(acc)
    if (norm == 0.0) a else a.map(x => (x / norm).toFloat)
  }

  /** The `nprobe` centroid ids nearest the query (driver-side: centroid
    * lists are tiny and the result drives partition pruning). The
    * `(round(dist, 6), cid)` total order is THE probe contract — the same
    * order as the `top_cells` kernel (knnJoin / the multi batch shapes) and
    * the `arg_min_distance` assignment kernel, so every probe path
    * (driver-side single query, kernel-side batch, driver-local serving)
    * selects identical cells for identical queries. It IS the driver-local
    * rungs' [[LocalIvfIndex.selectCells]]; a NaN-distance query admits no
    * centroid. */
  def probeCells(centroids: Seq[(Long, Array[Float])], queryVec: Array[Float],
                 nprobe: Int, metric: String = "euclidean"): Seq[Long] =
    LocalIvfIndex.selectCells(centroids.toArray, queryVec, nprobe,
      graft.functions.DistKernels.metricCode(metric))

  /** IVF search: probe the `nprobe` centroids nearest to the query, scan
    * only rows assigned to those cells, exact top-k inside. At scale the
    * assignment is precomputed+partitioned by cell → probed cells are a
    * partition-pruned scan. */
  def ivfSearch(
      assigned: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Long, Array[Float])], queryVec: Array[Float],
      nprobe: Int, k: Int, metric: String = "euclidean"): DataFrame = {
    val probed = probeCells(centroids, queryVec, nprobe, metric)
    assigned.where(col("cell").isin(probed: _*))
      .select(col(idCol), col("cell"),
        round(distance(col(vecCol), lit(queryVec), metric), 6).as("dist"))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** Batch k-NN join: for EVERY row of `queries`, the k nearest `assigned`
    * corpus rows, candidates restricted to each query's `nprobe` nearest IVF
    * cells — the set-returning form of [[ivfSearch]] (which fixes ONE query
    * vector) and the 100 TB path for retrieval-augmentation / cross-corpus
    * semantic-dedup joins where the query side is itself a table.
    *
    * Plan shape: probe-cell selection is ONE row-local [[top_cells]] kernel
    * call per query row (no join, no shuffle — the codebook rides along as a
    * plan constant, exactly like [[ivfAssign]]); `explode` fans each query
    * into `nprobe` (cell, qvec) rows; ONE equi-join on `cell` pairs queries
    * with candidate rows (with the catalog's cell-partitioned snapshot
    * layout this is a partition-pruned, co-located join — never all-pairs);
    * exact distances only inside probed cells; one qid-keyed window bounds
    * the result to k per query. Hot cells are ordinary join skew — AQE's
    * skew-join split applies (pinned by KnnSkewSpec: a 30%-hot-cell corpus
    * fires OptimizeSkewedJoin on the shuffled cell join, result-identical
    * to the unsplit join). Recall follows IVF recall (nprobe/k dial);
    * `nprobe = centroids.size` degenerates to exact brute force.
    *
    * `queries` must expose `qidCol`/`qvecCol` under names distinct from the
    * corpus columns AND the operator's internal names (alias first, as with
    * [[bruteForceTopK]]). Output: (qidCol, idCol, dist, rn), best-first per
    * query. A query whose `nprobe` probed cells hold zero corpus rows
    * produces NO output rows (inner join — same contract as a search that
    * finds nothing); left-join `queries` back on qidCol when "no neighbors"
    * must be distinguishable from "qid absent". */
  def knnJoin(
      assigned: DataFrame, queries: DataFrame, k: Int,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      centroids: Seq[(Long, Array[Float])], nprobe: Int,
      metric: String = "euclidean"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val reserved = Set(idCol, vecCol, "cell", "dist", "rn")
    require(qidCol != qvecCol && !reserved(qidCol) && !reserved(qvecCol),
      s"query columns ($qidCol, $qvecCol) must be distinct from corpus columns " +
        s"($idCol, $vecCol) and the internal names (cell, dist, rn) — alias first")
    // top_cells is the EXPLODE INPUT (evaluated once per query row by the
    // Generate) — not a sibling projection, so the ExtractGenerator
    // kernel-hoist re-evaluation footgun (Pq.scala) does not apply
    val probed = queries.select(
      col(qidCol), col(qvecCol),
      explode(top_cells(col(qvecCol), centroids, metric, nprobe)).as("cell"))
    val cand = probed
      .join(assigned.select(col(idCol), col(vecCol), col("cell")), Seq("cell"))
      .select(col(qidCol), col(idCol),
        round(distance(col(vecCol), col(qvecCol), metric), 6).as("dist"))
    // Per-query ranking. The window LOOKS like a scale hazard (all of one
    // query's nprobe×|cell| candidates shuffling to the one task that owns
    // its qid hash — and AQE's skew split does not apply to windows), but
    // the row_number()+filter pattern is exactly what Catalyst's
    // InferWindowGroupLimit rewrites: the physical plan carries a
    // partition-local `WindowGroupLimit(qid, rank<=k) Partial` BELOW the
    // exchange — a bounded per-partition top-k heap — so the global window
    // receives at most partitions×k rows per query, never the raw candidate
    // set. A hand-rolled per-(qid, cell) pre-prune window was tried in r7
    // and REJECTED: when the query side broadcasts (the common small-batch
    // case) the join output carries no (qid, cell) partitioning, so the
    // extra window costs one extra full shuffle for a bound the native
    // group-limit already provides. PlanShapeSpec pins the Partial
    // WindowGroupLimit so a regression (e.g. a rank expression the rule
    // cannot match) fails loudly.
    val w = Window.partitionBy(col(qidCol)).orderBy(col("dist").asc, col(idCol).asc)
    cand.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .orderBy(col(qidCol), col("rn"))
  }
}
