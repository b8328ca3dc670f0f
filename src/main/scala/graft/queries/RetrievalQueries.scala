package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._

/** Ranked text retrieval + result diversification — the retrieval-side
  * companions of the vector scans (SURVEY.md §2 hybrid family / the
  * training-pipeline extensions): BM25 over the documents table and MMR
  * (maximal marginal relevance, Carbonell & Goldstein 1998) over embedding
  * candidates.
  *
  * Scale shapes:
  *  - BM25 never materializes a full posting list for scoring: token rows
  *    are semi-joined to the (tiny, broadcast) query-term set BEFORE the
  *    per-(doc, term) count, so the keyed shuffles carry only query-term
  *    hits plus the per-doc length aggregation. idf/avgdl ride as plan
  *    constants / broadcast rows. At 100 TB: one full-corpus map (tokenize)
  *    + two keyed aggregations, no all-terms state.
  *  - MMR's greedy selection is inherently sequential, so it runs on the
  *    DRIVER over a BOUNDED candidate set (top-N by relevance via
  *    TakeOrderedAndProject — N=30 rows regardless of corpus size): the
  *    standard serving-side re-rank seam. The distributed part (scoring +
  *    top-N) is where the data size lives.
  *
  * Oracle parity: BM25 keeps every double operation textually parallel in
  * Spark and SQL (same associativity, long→double promotions at the same
  * spots) and rounds per-doc sums to 6 dp; MMR's greedy loop is UNROLLED
  * into k chained SQL selection steps (each `ORDER BY score DESC, id
  * LIMIT 1` over GREATEST of pairwise sims to the already-picked rows) —
  * bit-identical argmax decisions, not a reimplementation in spirit.
  */
object RetrievalQueries {
  import Tables.tbl

  private val K1 = 1.2
  private val B = 0.75
  private val MmrLambda = 0.7
  private val MmrK = 5
  private val MmrPool = 30

  /** BM25 top-10 docs for the query "first 5 alphabetical distinct tokens
    * of doc 0" (deterministic, corpus-derived — survives any sf dir). */
  private def bm25(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents")
    val n = d.count()
    val tok = d.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val qt = tok.where(col("doc_id") === 0).select("term").distinct()
      .orderBy("term").limit(5)
    // restrict to query terms FIRST: the (doc, term) shuffle carries only
    // query-term hits, never the full vocabulary
    val tf = tok.join(broadcast(qt), "term")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val st = dl.agg(sum("dl").as("sdl"), count(lit(1)).as("nd")).head()
    val avgdl = st.getLong(0) * 1.0 / st.getLong(1)
    // Lucene/ATIRE BM25+1 idf: ln(1 + (N − df + 0.5)/(df + 0.5)) — never
    // negative. Every op mirrors the oracle SQL's textual order.
    val idf = log(lit(1.0) + (lit(n) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val scored = tf.join(broadcast(dfreq), "term").join(dl, "doc_id")
      .withColumn("s",
        idf * (col("tf") * lit(K1 + 1.0)) /
          (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / lit(avgdl))))
    scored.groupBy("doc_id").agg(round(sum("s"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(10)
  }

  /** Driver-side cosine similarity: 1 − the [[DistKernels]] cosine kernel
    * VecCosineDistance calls — the MMR greedy picks must match the SQL
    * oracle's argmax exactly. */
  private def sim(a: Array[Float], b: Array[Float]): Double = {
    require(a.length == b.length, s"dimension mismatch: ${a.length} vs ${b.length}")
    1.0 - DistKernels.cosine(a, 0, b, 0, a.length)
  }

  /** MMR re-rank: distributed top-[[MmrPool]] by relevance, then the greedy
    * λ·rel − (1−λ)·max-sim-to-selected selection of [[MmrK]] rows on the
    * driver (bounded — 30 rows whatever the corpus size). */
  private def mmr(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "embeddings")
    val qv = e.where(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray
    val cands = e.select(col("vec_id"), col("embedding"),
        (lit(1.0) - cosine_distance(col("embedding"), lit(qv))).as("rel"))
      .orderBy(col("rel").desc, col("vec_id").asc).limit(MmrPool)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
    require(cands.nonEmpty, "MMR needs a non-empty candidate pool")
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Double)]
    val remaining = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Double)]
    remaining ++= cands
    // rank 1 = pure relevance (the pool is already (rel desc, id) sorted)
    picked += remaining.remove(0)
    while (picked.length < MmrK && remaining.nonEmpty) {
      var bestIdx = -1; var bestScore = Double.NegativeInfinity; var bestId = Long.MaxValue
      var i = 0
      while (i < remaining.length) {
        val (id, v, rel) = remaining(i)
        var msim = Double.NegativeInfinity
        for ((_, pv, _) <- picked) { val sm = sim(v, pv); if (sm > msim) msim = sm }
        val score = MmrLambda * rel - (1.0 - MmrLambda) * msim
        // argmax score, ties to the smaller id — ORDER BY score DESC, id
        if (score > bestScore || (score == bestScore && id < bestId)) {
          bestIdx = i; bestScore = score; bestId = id
        }
        i += 1
      }
      val (id, v, _) = remaining.remove(bestIdx)
      picked += ((id, v, bestScore))
    }
    import s.implicits._
    picked.zipWithIndex
      .map { case ((id, _, score), i) => (i + 1, id, DistKernels.round6(score)) }
      .toSeq.toDF("rank", "vec_id", "score")
      .orderBy("rank")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bm25_topk" -> ((s, dir) => bm25(s, dir)),
    "mmr_rerank" -> ((s, dir) => mmr(s, dir))
  )

  private val bm25Oracle =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |qt AS (SELECT DISTINCT term FROM tok WHERE doc_id = 0 ORDER BY term LIMIT 5),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok JOIN qt USING (term)
       |       GROUP BY doc_id, term),
       |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
       |stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n,
       |                 (SELECT SUM(dl) * 1.0 / COUNT(*) FROM dl) AS avgdl),
       |scored AS (SELECT t.doc_id,
       |    ln(1.0 + (stats.n - d.df + 0.5) / (d.df + 0.5)) *
       |      (t.tf * ${K1 + 1.0}) /
       |      (t.tf + $K1 * (${1.0 - B} + $B * dl.dl / stats.avgdl)) AS s
       |  FROM tf t JOIN dfreq d USING (term) JOIN dl USING (doc_id), stats)
       |SELECT doc_id, ROUND(SUM(s), 6) AS score
       |FROM scored GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  /** sim(a, b) in SQL — textually the same normalized-inner-product form
    * the kernel computes. */
  private def simSql(a: String, b: String): String =
    s"(1 - ABS(1 - (list_inner_product($a, $b) / " +
      s"(SQRT(list_inner_product($a, $a)) * SQRT(list_inner_product($b, $b))))))"

  /** The greedy MMR loop unrolled into [[MmrK]] chained selection CTEs:
    * step i picks `ORDER BY 0.7·rel − 0.3·GREATEST(sim to s1…s_{i−1}) DESC,
    * vec_id LIMIT 1` over the not-yet-picked pool — the same argmax the
    * driver loop runs, decided on the same doubles. */
  private val mmrOracle = {
    val prelude =
      s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         |c AS (SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
         |        ${simSql("e.embedding::DOUBLE[]", "q.qv")} AS rel
         |      FROM embeddings e, q ORDER BY rel DESC, e.vec_id LIMIT $MmrPool),
         |s1 AS (SELECT vec_id, v, rel AS score FROM c ORDER BY rel DESC, vec_id LIMIT 1)""".stripMargin
    val steps = (2 to MmrK).map { i =>
      val prev = (1 until i).map(j => s"s$j")
      val froms = prev.map(p => s"$p AS t$p").mkString(", ")
      val notIn = prev.map(p => s"t$p.vec_id").mkString(", ")
      val sims = prev.map(p => simSql("c.v", s"t$p.v")).mkString(", ")
      val msim = if (prev.size == 1) sims else s"GREATEST($sims)"
      s"""s$i AS (SELECT c.vec_id, c.v,
         |    $MmrLambda * c.rel - ${1.0 - MmrLambda} * $msim AS score
         |  FROM c, $froms
         |  WHERE c.vec_id NOT IN ($notIn)
         |  ORDER BY score DESC, c.vec_id LIMIT 1)""".stripMargin
    }
    val selects = (1 to MmrK).map(i =>
      s"SELECT CAST($i AS INTEGER) AS rank, vec_id, ROUND(score, 6) AS score FROM s$i")
    (Seq(prelude) ++ steps).mkString(",\n") + "\n" +
      selects.mkString(" UNION ALL ") + " ORDER BY rank"
  }

  val oracles: Map[String, String] = Map(
    "bm25_topk" -> bm25Oracle,
    "mmr_rerank" -> mmrOracle
  )
}
