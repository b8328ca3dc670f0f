package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.collection._

/** Snapshot sink/source (SURVEY.md §2.1 S7/S8) driven through the full
  * Collection API: create → validated ingest → flush (parquet + meta sidecar)
  * → release → load → search. The oracle sees only the input table, so a
  * hash match proves the round trip was lossless end-to-end.
  * Distance is euclidean so stored vectors are byte-identical to the input
  * (no cosine pre-normalization) and the oracle can recompute distances. */
object PersistenceQueries {
  import Tables.{tbl, embUpTo}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "snapshot_roundtrip" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 0)
      val dim = em0(0L).length
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-snap").toString)
      val meta = CollectionMeta("snap", dim = dim, distance = "euclidean",
        fields = Seq(
          IndexField("id", "string", primaryKey = true),
          IndexField("label", "integer")))
      cat.createCollection(meta)
      cat.loadCollection("snap")
      cat.insert("snap", e.select(
        col("vec_id").cast("string").as("id"),
        col("label"),
        col("embedding").as("vector")))
      cat.flush("snap")
      cat.releaseCollection("snap")
      cat.loadCollection("snap")
      val qv = em0(0L)
      cat.search("snap", qv, topK = 10)
    }),
    // Prepared (plan-once/execute-many) serving path under the hash gate:
    // the same collection shape as snapshot_roundtrip, searched through
    // searchPrepared — the exact code path HTTP /search serves. A first
    // call with a DIFFERENT vector compiles the shape, so the returned
    // rows come from a cache hit executing a swapped vector literal (the
    // per-request mechanics), not a fresh compile; the oracle is the
    // plain exact scan, so any drift in the literal swap or the
    // driver-side row conversion breaks the hash.
    "prepared_search" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 3); val emQ = em0 // ids 0-3: query vectors ride the dim fetch
      val dim = em0(0L).length
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-prep-q").toString)
      cat.createCollection(CollectionMeta("prep", dim = dim, distance = "euclidean",
        fields = Seq(
          IndexField("id", "string", primaryKey = true),
          IndexField("label", "integer"))))
      cat.loadCollection("prep")
      cat.insert("prep", e.select(
        col("vec_id").cast("string").as("id"),
        col("label"),
        col("embedding").as("vector")))
      def vec(id: Long) = emQ(id)
      cat.searchPrepared("prep", vec(1), topK = 10) // compile the shape
      val (schema, rows) = cat.searchPrepared("prep", vec(0), topK = 10)
      s.createDataFrame(new java.util.ArrayList(
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
    }),
    // Migration path: round-trip the embeddings table THROUGH the reference
    // engine's persisted bucket format — encode a coltt meta.json + 16-shard
    // binary vertex blob (edge/none_vectorstore.go:308-423), import it with
    // ColttImport (parse → create → insert → flush), and search the imported
    // collection. The f32 blob round-trip is bit-exact, so the oracle is the
    // plain euclidean scan over the original table: any drift in the format
    // mapping (shard walk, type tags, key rule, enum mapping) breaks the
    // hash.
    "coltt_import_roundtrip" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 0)
      val dim = em0(0L).length
      val vs = e.select(col("vec_id"), col("label").cast("long"), col("embedding"))
        .collect().toIndexedSeq.map { r =>
          graft.interop.ColttImport.ColttVertex(
            key = 7000L + r.getLong(0), // synthetic snowflake-style commit ids
            vector = r.getSeq[Float](2).toArray,
            meta = Map[String, Any]("id" -> r.getLong(0).toString, "label" -> r.getLong(1)))
        }
      val bucket = graft.TempRoots.create("coltt-bucket-q")
      val metaJson =
        s"""{"dim":$dim,"distance":1,"quantization":0,"index_type":{
           |"id":{"index_name":"id","index_type":0,"enable_null":false,"primary_key":true},
           |"label":{"index_name":"label","index_type":1,"enable_null":false,"primary_key":false}
           |},"versioning":false}""".stripMargin
      Files.write(bucket.resolve("imported.meta.json"), metaJson.getBytes("UTF-8"))
      Files.write(bucket.resolve("imported.vertex"),
        graft.interop.ColttImport.encodeVertexBlob(vs))
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-coltt").toString)
      graft.interop.ColttImport.importSnapshot(s, cat, "imported", bucket.toString)
      val qv = em0(0L)
      cat.search("imported", qv, topK = 10)
    }),
    // Migration path #3 — the CORE engine's commit log: round-trip the
    // embeddings table through a bitcask WAL of proto-marshaled Dataset
    // records (core/core.go:449, diskv/db.go, pkg/wal/segment.go), with the
    // full mutation vocabulary exercised — batched inserts, an UPDATE batch
    // (re-put under the same snowflake id), a DELETE batch, and an
    // uncommitted tail batch that replay must drop. The oracle recomputes
    // the exact post-replay state from the input table alone, so the chunk
    // CRC walk, LogRecord varints, protobuf decode, batch atomicity, AND
    // LWW ordering all have to be right for the hash to match. Labels
    // arrive as proto Struct numbers (always double) → DOUBLE in both.
    "coltt_import_core" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val rows = e.select(col("vec_id"), col("label").cast("double"), col("embedding"))
        .collect().toIndexedSeq
      def dataset(id: Long, label: Double, vec: Array[Float]) =
        graft.interop.ColttCoreImport.CoreDataset(7000L + id, id.toString, vec,
          Map[String, Any]("label" -> label))
      def putOf(d: graft.interop.ColttCoreImport.CoreDataset) =
        Left(s"coreimp_${d.uniqueId}" -> graft.interop.ColttCoreImport.encodeDataset(d))
      val all = rows.map(r => dataset(r.getLong(0), r.getDouble(1), r.getSeq[Float](2).toArray))
      val dim = rows.head.getSeq[Float](2).length
      val walDir = graft.TempRoots.create("coltt-core-wal")
      val out = new java.io.FileOutputStream(walDir.resolve("000000001.SEG").toFile)
      try graft.interop.ColttCoreImport.writeWalFixture(out,
        batches = Seq(
          500L -> all.map(putOf),
          501L -> (all.collect { case d if d.userId.toLong % 7 == 0 =>
              putOf(d.copy(meta = Map[String, Any](
                "label" -> (d.meta("label").asInstanceOf[Double] + 100.0))))
            } ++ all.collect { case d if d.userId.toLong % 37 == 5 =>
              Right(s"coreimp_${d.uniqueId}"): Either[(String, Array[Byte]), String]
            }),
          502L -> all.collect { case d if d.userId.toLong % 11 == 0 =>
            putOf(d.copy(meta = Map[String, Any]("label" -> 9999.0))) }),
        finishLast = false, // batch 502 is the torn tail replay must drop
        directPuts = Seq("coreimp_archive" ->
          graft.interop.ColttCoreImport.encodeCollectionConfig(
            graft.interop.ColttCoreImport.CoreCollectionConfig(
              "coreimp", dim, "euclidean", "None"))))
      finally out.close()
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-core").toString)
      graft.interop.ColttCoreImport.importCoreCollection(s, cat, "coreimp", walDir.toString)
      // the query vector rides the already-collected fixture rows (r14)
      val qv = rows.find(_.getLong(0) == 0L).get.getSeq[Float](2).toArray
      cat.search("coreimp", qv, topK = 10)
    }),
    // PQ code layout through the full Collection API: create with
    // pqSubspaces/pqCodewords, flush (codes column + codebook sidecar),
    // ADC-ranked search over the code scan. pqTrainIterations=0 keeps the
    // codebook at the deterministic pk-ordered seed (lpad'ed ids make
    // string pk order numeric) so DuckDB replicates it bit-for-bit; the
    // Lloyd-trained path is CatalogPqSpec/PqSpec territory.
    "catalog_pq_search" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 0)
      val dim = em0(0L).length
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-pq").toString)
      cat.createCollection(CollectionMeta("pqc", dim = dim, distance = "euclidean",
        fields = Seq(
          IndexField("id", "string", primaryKey = true),
          IndexField("label", "integer")),
        pqSubspaces = Some(4), pqCodewords = Some(16), pqTrainIterations = Some(0)))
      cat.loadCollection("pqc")
      cat.insert("pqc", e.select(
        lpad(col("vec_id").cast("string"), 3, "0").as("id"),
        col("label"),
        col("embedding").as("vector")))
      cat.flush("pqc")
      val qv = em0(0L)
      cat.searchPq("pqc", qv, topK = 10, rerank = false)
    }),
    // Binary (sign-bit) layout through the full Collection API: create with
    // binaryIndex, flush (packed code column + midrange-threshold sidecar),
    // two-pass search — Hamming prefilter over the 1/32-width code scan,
    // exact rerank on the stored vectors. The oracle replays BOTH passes:
    // re-trains the thresholds in SQL, takes the Hamming top-30 with the
    // same (h, id) order, then re-ranks exactly — so prefilter membership
    // AND final ranking must agree bit-for-bit.
    "catalog_bin_search" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 0)
      val dim = em0(0L).length
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-bin").toString)
      cat.createCollection(CollectionMeta("binc", dim = dim, distance = "euclidean",
        fields = Seq(
          IndexField("id", "string", primaryKey = true),
          IndexField("label", "integer")),
        binaryIndex = Some(true)))
      cat.loadCollection("binc")
      cat.insert("binc", e.select(
        lpad(col("vec_id").cast("string"), 3, "0").as("id"),
        col("label"),
        col("embedding").as("vector")))
      cat.flush("binc")
      val qv = em0(0L)
      cat.searchBinary("binc", qv, topK = 10, overFetch = 3)
    }),
    // Write half of the edge migration: the collection exports as a NATIVE
    // edge bucket (meta.json + 16-shard vertex blob + roaring64 inverted
    // index — the files a running coltt node loads verbatim) and a SECOND
    // catalog imports that bucket back; the final search must equal a
    // direct scan, so the exporter's shard routing, type tags, key
    // synthesis, enum mapping, and vector encoding all have to be right.
    "coltt_export_roundtrip" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 0)
      val dim = em0(0L).length
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-cexp-src").toString)
      cat.createCollection(CollectionMeta("exp", dim = dim, distance = "euclidean",
        fields = Seq(
          IndexField("id", "string", primaryKey = true),
          IndexField("label", "integer"))))
      cat.loadCollection("exp")
      cat.insert("exp", e.select(
        col("vec_id").cast("string").as("id"),
        col("label"),
        col("embedding").as("vector")))
      cat.flush("exp")
      val bucket = graft.TempRoots.create("graft-cexp-bucket")
      graft.interop.ColttExport.exportEdgeCollection(s, cat, "exp", bucket.toString)
      val cat2 = new GraftCatalog(s, graft.TempRoots.create("graft-cexp-dst").toString)
      graft.interop.ColttImport.importSnapshotDistributed(s, cat2, "exp", bucket.toString)
      val qv = em0(0L)
      cat2.search("exp", qv, topK = 10)
    }),
    // The third engine's write half: a CFLAT multi-vector collection
    // exports as a native experimental bucket (string-keyed vertices
    // routed by ShardVertexV2, f32 elements) and a SECOND catalog imports
    // it back; the weighted multi-vector search over the re-imported
    // collection must rank identically to a direct replay.
    "coltt_export_mv_roundtrip" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 3); val emQ = em0 // ids 0-3: query vectors ride the dim fetch
      val dim = em0(0L).length
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-cexpmv-src").toString)
      cat.createCollection(CollectionMeta("mvex", dim = dim, distance = "euclidean",
        fields = Seq(
          IndexField("_key", "string", primaryKey = true),
          IndexField("v0", "vector"),
          IndexField("v1", "vector"))))
      cat.loadCollection("mvex")
      cat.insert("mvex", e.select(col("vec_id"), col("embedding").as("v0"))
        .join(e.select((col("vec_id") - 1).as("vec_id"), col("embedding").as("v1")), "vec_id")
        .select(col("vec_id").cast("string").as("_key"), col("v0"), col("v1")))
      cat.flush("mvex")
      val bucket = graft.TempRoots.create("graft-cexpmv-bucket")
      graft.interop.ColttExport.exportExperimentalCollection(s, cat, "mvex", bucket.toString)
      val cat2 = new GraftCatalog(s, graft.TempRoots.create("graft-cexpmv-dst").toString)
      graft.interop.ColttImport.importExperimentalSnapshot(s, cat2, "mvex", bucket.toString)
      def qv(id: Long) = emQ(id)
      cat2.searchMulti("mvex", Seq(
        graft.operators.MultiVectorSearch.FieldQuery("v0", qv(0), ratio = 60),
        graft.operators.MultiVectorSearch.FieldQuery("v1", qv(1), ratio = 40)), topK = 10)
    }),
    // Filtered search ON THE INDEX RUNGS (the reference's S3 candidate-list
    // semantics — filter BEFORE scoring, rpc.go Search — carried onto the
    // flushed layouts): without this, any query with a metadata predicate
    // would be forced off the index onto the flat resident scan. The
    // predicate conjoins with the probed-cell restriction on the SAME
    // snapshot scan (partition pruning + parquet pushdown intact). The
    // oracle replays seed training, assignment, probe, FILTER, ranking.
    "ivf_search_filtered" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 0)
      val dim = em0(0L).length
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-ivff").toString)
      cat.createCollection(CollectionMeta("ivff", dim = dim, distance = "euclidean",
        fields = Seq(
          IndexField("id", "string", primaryKey = true),
          IndexField("label", "integer")),
        ivfCells = Some(8), ivfTrainIterations = Some(0)))
      cat.loadCollection("ivff")
      cat.insert("ivff", e.select(
        lpad(col("vec_id").cast("string"), 3, "0").as("id"),
        col("label"),
        col("embedding").as("vector")))
      cat.flush("ivff")
      val qv = em0(0L)
      cat.searchIvf("ivff", qv, topK = 10, nprobe = 3,
        filter = Some(graft.FilterExpr.Single("label", graft.FilterExpr.Lt, 5)))
    }),
    // The PREPARED probed route under the hash gate (r12): the same
    // filtered IVF fixture served through searchIvfPrepared — a first call
    // with a DIFFERENT vector compiles the shape, so the checked rows come
    // from a cache hit executing SWAPPED literals: the query vector in the
    // distance expression AND the probed cell set in the scan's partition
    // filter. Any drift in the literal swap, the per-request re-pruning,
    // or the recorded slot types breaks the hash against the same oracle
    // replay as ivf_search_filtered.
    "prepared_ivf_search" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 3); val emQ = em0 // ids 0-3: query vectors ride the dim fetch
      val dim = em0(0L).length
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-pivf").toString)
      cat.createCollection(CollectionMeta("pivf", dim = dim, distance = "euclidean",
        fields = Seq(
          IndexField("id", "string", primaryKey = true),
          IndexField("label", "integer")),
        ivfCells = Some(8), ivfTrainIterations = Some(0)))
      cat.loadCollection("pivf")
      cat.insert("pivf", e.select(
        lpad(col("vec_id").cast("string"), 3, "0").as("id"),
        col("label"),
        col("embedding").as("vector")))
      cat.flush("pivf")
      def qv(id: Long) = emQ(id)
      val f = Some(graft.FilterExpr.Single("label", graft.FilterExpr.Lt, 5): graft.FilterExpr)
      cat.searchIvfPrepared("pivf", qv(1), topK = 10, nprobe = 3, f) // compile the shape
      val (schema, rows) = cat.searchIvfPrepared("pivf", qv(0), topK = 10, nprobe = 3, f)
      s.createDataFrame(new java.util.ArrayList(
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
    }),
    // Filtered ADC: the predicate restricts the PASS-1 code scan, so every
    // ADC candidate is a filter survivor. rerank=false makes the raw ADC
    // ordering itself the checked output (the reranked two-pass shape is
    // bin_search_filtered's territory).
    "pq_search_filtered" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 0)
      val dim = em0(0L).length
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-pqf").toString)
      cat.createCollection(CollectionMeta("pqf", dim = dim, distance = "euclidean",
        fields = Seq(
          IndexField("id", "string", primaryKey = true),
          IndexField("label", "integer")),
        pqSubspaces = Some(4), pqCodewords = Some(16), pqTrainIterations = Some(0)))
      cat.loadCollection("pqf")
      cat.insert("pqf", e.select(
        lpad(col("vec_id").cast("string"), 3, "0").as("id"),
        col("label"),
        col("embedding").as("vector")))
      cat.flush("pqf")
      val qv = em0(0L)
      cat.searchPq("pqf", qv, topK = 10, rerank = false,
        filter = Some(graft.FilterExpr.Single("label", graft.FilterExpr.Lt, 5)))
    }),
    // Filtered two-pass binary search: the predicate restricts the pass-1
    // Hamming scan, the exact rerank re-scores survivors only. The oracle
    // replays thresholds (trained at flush over the FULL corpus — the
    // filter is query-time), the FILTERED Hamming top-30, and the rerank,
    // so prefilter membership AND ranking must agree bit-for-bit.
    "bin_search_filtered" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 0)
      val dim = em0(0L).length
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-binf").toString)
      cat.createCollection(CollectionMeta("binf", dim = dim, distance = "euclidean",
        fields = Seq(
          IndexField("id", "string", primaryKey = true),
          IndexField("label", "integer")),
        binaryIndex = Some(true)))
      cat.loadCollection("binf")
      cat.insert("binf", e.select(
        lpad(col("vec_id").cast("string"), 3, "0").as("id"),
        col("label"),
        col("embedding").as("vector")))
      cat.flush("binf")
      val qv = em0(0L)
      cat.searchBinary("binf", qv, topK = 10, overFetch = 3,
        filter = Some(graft.FilterExpr.Single("label", graft.FilterExpr.Lt, 5)))
    }),
    // Delta-flush lifecycle (S7's O(changes) segment shape) end to end:
    // base flush → a relabel-update batch (vec_id%7==0 → label+100) and a
    // predicate delete (label >= 105, striking some of the just-updated
    // rows — put-then-delete across batches) → flushDelta (writes ONLY the
    // change ledger) → release → load (folds base + segment) → full flush
    // (compacts the chain into a new base) → release → load → search. The
    // oracle recomputes the post-fold state from the input table alone, so
    // a hash match proves ledger capture, the LWW fold, AND compaction all
    // preserved the exact collection state.
    "delta_flush_roundtrip" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 0)
      val dim = em0(0L).length
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-delta").toString)
      cat.createCollection(CollectionMeta("dlt", dim = dim, distance = "euclidean",
        fields = Seq(
          IndexField("id", "string", primaryKey = true),
          IndexField("label", "integer"))))
      cat.loadCollection("dlt")
      cat.insert("dlt", e.select(
        col("vec_id").cast("string").as("id"),
        col("label"),
        col("embedding").as("vector")))
      cat.flush("dlt") // v1: base snapshot
      cat.insert("dlt", e.where(col("vec_id") % 7 === 0).select(
        col("vec_id").cast("string").as("id"),
        (col("label") + 100).as("label"),
        col("embedding").as("vector")))
      cat.delete("dlt", graft.FilterExpr.Single("label", graft.FilterExpr.Gte, 105))
      cat.flushDelta("dlt") // v2: the two-batch ledger, O(changes) bytes
      cat.releaseCollection("dlt")
      cat.loadCollection("dlt") // folds v1 + v2
      cat.flush("dlt") // v3: compaction — full snapshot of the folded state
      cat.releaseCollection("dlt")
      cat.loadCollection("dlt")
      val qv = em0(0L)
      cat.search("dlt", qv, topK = 10)
    }),
    // Delta flush on an INDEXED collection (r9 verdict #1 — the 100 TB
    // ingest answer where it matters): base flush builds the IVF layout
    // (8 deterministic seed centroids, cell-partitioned snapshot), then an
    // update batch that MOVES vectors (reversed embeddings → different
    // cells) plus a cross-batch predicate delete ride ONE O(changes) delta
    // segment whose put rows were assigned to the PERSISTED centroids at
    // segment-write time (zero retraining). searchIvf folds base + segment
    // at read — the oracle replays seed centroids, the fold, per-row
    // re-assignment of the updated vectors, probe selection, and ranking,
    // so a hash match proves the delta encode AND the indexed fold.
    "delta_flush_ivf" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 0)
      val dim = em0(0L).length
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-divf").toString)
      cat.createCollection(CollectionMeta("dvi", dim = dim, distance = "euclidean",
        fields = Seq(
          IndexField("id", "string", primaryKey = true),
          IndexField("label", "integer")),
        ivfCells = Some(8), ivfTrainIterations = Some(0)))
      cat.loadCollection("dvi")
      cat.insert("dvi", e.select(
        lpad(col("vec_id").cast("string"), 3, "0").as("id"),
        col("label"),
        col("embedding").as("vector")))
      cat.flush("dvi") // v1: base snapshot + centroid sidecar
      cat.insert("dvi", e.where(col("vec_id") % 7 === 3).select(
        lpad(col("vec_id").cast("string"), 3, "0").as("id"),
        (col("label") + 100).as("label"),
        reverse(col("embedding")).as("vector")))
      cat.delete("dvi", graft.FilterExpr.Single("label", graft.FilterExpr.Gte, 107))
      cat.flushDelta("dvi") // v2: O(changes) segment, cells from v1's sidecar
      val qv = em0(0L)
      cat.searchIvf("dvi", qv, topK = 10, nprobe = 3)
    }),
    // Same lifecycle over the PQ code layout: the delta segment's put rows
    // are encoded with the BASE flush's codebook (seeded from the 16
    // pk-smallest original rows, pqTrainIterations=0), so the folded ADC
    // scan ranks base codes and delta codes in one pass. rerank=false
    // exposes the raw ADC distances — the oracle recomputes the codebook,
    // re-encodes the FOLDED state (updated vectors included), and replays
    // the ADC ranking.
    "delta_flush_pq" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 0)
      val dim = em0(0L).length
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-dpqd").toString)
      cat.createCollection(CollectionMeta("dpqd", dim = dim, distance = "euclidean",
        fields = Seq(
          IndexField("id", "string", primaryKey = true),
          IndexField("label", "integer")),
        pqSubspaces = Some(4), pqCodewords = Some(16), pqTrainIterations = Some(0)))
      cat.loadCollection("dpqd")
      cat.insert("dpqd", e.select(
        lpad(col("vec_id").cast("string"), 3, "0").as("id"),
        col("label"),
        col("embedding").as("vector")))
      cat.flush("dpqd") // v1: codes + codebook sidecar
      cat.insert("dpqd", e.where(col("vec_id") % 7 === 3).select(
        lpad(col("vec_id").cast("string"), 3, "0").as("id"),
        (col("label") + 100).as("label"),
        reverse(col("embedding")).as("vector")))
      cat.delete("dpqd", graft.FilterExpr.Single("label", graft.FilterExpr.Gte, 107))
      cat.flushDelta("dpqd") // v2: delta codes from v1's codebook
      val qv = em0(0L)
      cat.searchPq("dpqd", qv, topK = 10, rerank = false)
    }),
    // And over the binary sign-code layout: delta codes packed with the
    // BASE flush's midrange thresholds (trained on the original corpus),
    // two-pass search over the folded chain — the oracle re-trains the
    // thresholds on the ORIGINAL corpus, re-encodes the folded state, and
    // replays Hamming top-30 + exact rerank.
    "delta_flush_bin" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 0)
      val dim = em0(0L).length
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-dbnd").toString)
      cat.createCollection(CollectionMeta("dbnd", dim = dim, distance = "euclidean",
        fields = Seq(
          IndexField("id", "string", primaryKey = true),
          IndexField("label", "integer")),
        binaryIndex = Some(true)))
      cat.loadCollection("dbnd")
      cat.insert("dbnd", e.select(
        lpad(col("vec_id").cast("string"), 3, "0").as("id"),
        col("label"),
        col("embedding").as("vector")))
      cat.flush("dbnd") // v1: packed codes + threshold sidecar
      cat.insert("dbnd", e.where(col("vec_id") % 7 === 3).select(
        lpad(col("vec_id").cast("string"), 3, "0").as("id"),
        (col("label") + 100).as("label"),
        reverse(col("embedding")).as("vector")))
      cat.delete("dbnd", graft.FilterExpr.Single("label", graft.FilterExpr.Gte, 107))
      cat.flushDelta("dbnd") // v2: delta codes from v1's thresholds
      val qv = em0(0L)
      cat.searchBinary("dbnd", qv, topK = 10, overFetch = 3)
    }),
    // The driver-local rung's O(changes) FOLD under the oracle gate (r13
    // verdict #2 — the r13 seams stop being spec-only): the delta_flush_ivf
    // lifecycle, but the resident LocalIvfIndex built at the BASE flush is
    // folded forward by refreshLocalIvfIndex (LWW strike + stored-form
    // appends, bounded driver collect) and the FOLDED RUNG answers the
    // probe. oversizeRebuilds=false makes the row self-verifying about its
    // path: if the machinery ever fell back to a rebuild here, the query
    // would fail loudly instead of silently matching via the other path.
    // The oracle replays the ledger-window LWW fold (strike+append), per-row
    // cell re-assignment, probe selection, and the (round6 dist, id)
    // ranking from the input table alone.
    "local_refresh_fold" -> ((s, dir) => {
      import s.implicits._
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 0)
      val dim = em0(0L).length
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-lrfold").toString)
      cat.createCollection(CollectionMeta("lrf", dim = dim, distance = "euclidean",
        fields = Seq(
          IndexField("id", "string", primaryKey = true),
          IndexField("label", "integer")),
        ivfCells = Some(8), ivfTrainIterations = Some(0)))
      cat.loadCollection("lrf")
      cat.insert("lrf", e.select(
        lpad(col("vec_id").cast("string"), 3, "0").as("id"),
        col("label"),
        col("embedding").as("vector")))
      cat.flush("lrf") // v1: base snapshot + centroid sidecar
      val prev = cat.localIvfIndex("lrf") // the resident serving rung at v1
      cat.insert("lrf", e.where(col("vec_id") % 7 === 3).select(
        lpad(col("vec_id").cast("string"), 3, "0").as("id"),
        (col("label") + 100).as("label"),
        reverse(col("embedding")).as("vector")))
      cat.delete("lrf", graft.FilterExpr.Single("label", graft.FilterExpr.Gte, 107))
      cat.flushDelta("lrf") // v2: the window the rung folds
      val (idx, v) = cat.refreshLocalIvfIndex("lrf", prev, 1, oversizeRebuilds = false)
      require(v == 2, s"fold should land on v2, got v$v")
      val qv = em0(0L)
      idx.search(qv, topK = 10, nprobe = 3)
        .map { case (id, d) => (id.toString, graft.functions.DistKernels.round6(d)) }
        .toDF("id", "dist").orderBy("dist", "id")
    }),
    // The same fold contract on the Hamming rung — integer distances, flat
    // compaction (no cells), packed codes encoded by the BASE thresholds at
    // segment-write time. The oracle re-trains midrange thresholds on the
    // ORIGINAL corpus, re-encodes the folded state, and replays the exact
    // (hamming, id) top-k.
    "local_refresh_fold_bin" -> ((s, dir) => {
      import s.implicits._
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 0)
      val dim = em0(0L).length
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-lrfbin").toString)
      cat.createCollection(CollectionMeta("lrb", dim = dim, distance = "euclidean",
        fields = Seq(
          IndexField("id", "string", primaryKey = true),
          IndexField("label", "integer")),
        binaryIndex = Some(true)))
      cat.loadCollection("lrb")
      cat.insert("lrb", e.select(
        lpad(col("vec_id").cast("string"), 3, "0").as("id"),
        col("label"),
        col("embedding").as("vector")))
      cat.flush("lrb") // v1: packed codes + threshold sidecar
      val prev = cat.localBinIndex("lrb")
      cat.insert("lrb", e.where(col("vec_id") % 7 === 3).select(
        lpad(col("vec_id").cast("string"), 3, "0").as("id"),
        (col("label") + 100).as("label"),
        reverse(col("embedding")).as("vector")))
      cat.delete("lrb", graft.FilterExpr.Single("label", graft.FilterExpr.Gte, 107))
      cat.flushDelta("lrb") // v2: delta codes from v1's thresholds
      val (idx, v) = cat.refreshLocal("lrb", prev, 1, oversizeRebuilds = false)
      require(v == 2, s"fold should land on v2, got v$v")
      val qv = em0(0L)
      idx.search(qv, topK = 10)
        .map { case (id, h) => (id.toString, h.toLong) }
        .toDF("id", "hamming").orderBy("hamming", "id")
    }),
    // The warming operator (r13 verdict #7): warmCells' touched-row
    // answers are exact — all cells = the full corpus, one cell = exactly
    // the rows the persisted assignment put there. The oracle replays the
    // seed-centroid argmin assignment and counts cell 0.
    "warm_cells" -> ((s, dir) => {
      import s.implicits._
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 0)
      val dim = em0(0L).length
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-warm").toString)
      cat.createCollection(CollectionMeta("wrm", dim = dim, distance = "euclidean",
        fields = Seq(IndexField("id", "string", primaryKey = true)),
        ivfCells = Some(8), ivfTrainIterations = Some(0)))
      cat.loadCollection("wrm")
      cat.insert("wrm", e.select(
        lpad(col("vec_id").cast("string"), 3, "0").as("id"),
        col("embedding").as("vector")))
      cat.flush("wrm")
      Seq((cat.warmCells("wrm"), cat.warmCells("wrm", Seq(0L))))
        .toDF("warmed_all", "warmed_cell0")
    }),
    // The fold contract on the ADC rung — the third stored form: put
    // winners fold with the codes the segment encoded against the BASE
    // codebook (the sidecar the resident index already holds), and the
    // folded in-process ADC ranking must equal DuckDB's codebook +
    // re-encode + ADC replay of the post-fold state.
    "local_refresh_fold_pq" -> ((s, dir) => {
      import s.implicits._
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 0)
      val dim = em0(0L).length
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-lrfpq").toString)
      cat.createCollection(CollectionMeta("lrp", dim = dim, distance = "euclidean",
        fields = Seq(
          IndexField("id", "string", primaryKey = true),
          IndexField("label", "integer")),
        pqSubspaces = Some(4), pqCodewords = Some(16), pqTrainIterations = Some(0)))
      cat.loadCollection("lrp")
      cat.insert("lrp", e.select(
        lpad(col("vec_id").cast("string"), 3, "0").as("id"),
        col("label"),
        col("embedding").as("vector")))
      cat.flush("lrp") // v1: codes + codebook sidecar
      val prev = cat.localPqIndex("lrp")
      cat.insert("lrp", e.where(col("vec_id") % 7 === 3).select(
        lpad(col("vec_id").cast("string"), 3, "0").as("id"),
        (col("label") + 100).as("label"),
        reverse(col("embedding")).as("vector")))
      cat.delete("lrp", graft.FilterExpr.Single("label", graft.FilterExpr.Gte, 107))
      cat.flushDelta("lrp") // v2: delta codes from v1's codebook
      val (idx, v) = cat.refreshLocal("lrp", prev, 1, oversizeRebuilds = false)
      require(v == 2, s"fold should land on v2, got v$v")
      val qv = em0(0L)
      idx.search(qv, topK = 10, nprobe = 1)
        .map { case (id, d) => (id.toString, graft.functions.DistKernels.round6(d)) }
        .toDF("id", "dist").orderBy("dist", "id")
    }),
    // The fold contract on the CFLAT rung — the fourth serving form: put
    // winners fold with their segment-assigned ROUTING cell and one
    // stored-form vector per declared field; the folded in-process
    // weighted probe must equal DuckDB's replay (fold + v0 re-assignment
    // + 3-cell probe + 60/40 weighted rank at the 8-dp polarity). Rows
    // keep the search's own (round8 desc, id) order — no 4-dp re-sort.
    "local_refresh_fold_multi" -> ((s, dir) => {
      import s.implicits._
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 3); val emQ = em0 // ids 0-3: query vectors ride the dim fetch
      val dim = em0(0L).length
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-lrfmv").toString)
      cat.createCollection(CollectionMeta("lrm", dim = dim, distance = "euclidean",
        fields = Seq(
          IndexField("id", "string", primaryKey = true),
          IndexField("label", "integer"),
          IndexField("v0", "vector"),
          IndexField("v1", "vector")),
        ivfCells = Some(8), ivfTrainIterations = Some(0)))
      cat.loadCollection("lrm")
      val pairs = e.select(col("vec_id"), col("label"), col("embedding").as("v0"))
        .join(e.select((col("vec_id") - 1).as("vec_id"), col("embedding").as("v1")), "vec_id")
      cat.insert("lrm", pairs.select(
        lpad(col("vec_id").cast("string"), 3, "0").as("id"),
        col("label"), col("v0"), col("v1")))
      cat.flush("lrm") // v1: v0-routed cell layout + centroid sidecar
      val prev = cat.localMultiIndex("lrm")
      cat.insert("lrm", pairs.where(col("vec_id") % 7 === 3).select(
        lpad(col("vec_id").cast("string"), 3, "0").as("id"),
        (col("label") + 100).as("label"),
        reverse(col("v0")).as("v0"), reverse(col("v1")).as("v1")))
      cat.delete("lrm", graft.FilterExpr.Single("label", graft.FilterExpr.Gte, 107))
      cat.flushDelta("lrm") // v2: routing cells from v1's sidecar
      val (idx, v) = cat.refreshLocal("lrm", prev, 1, oversizeRebuilds = false)
      require(v == 2, s"fold should land on v2, got v$v")
      def qv(id: Long) = emQ(id)
      idx.search(Seq(
          graft.ann.LocalMultiIndex.FieldQ("v0", qv(0), 60),
          graft.ann.LocalMultiIndex.FieldQ("v1", qv(1), 40)),
          topK = 10, nprobe = 3)
        .map { case (id, score) => (id.toString, score) }
        .toDF("id", "score")
    }),
    // Head-fresh serving under the oracle gate (r13 verdict #2, second
    // half): a delta segment PUBLISHED BY A SECOND CATALOG INSTANCE (the
    // cross-driver shape — no flush call ever reaches the server) must be
    // visible to the server's driver-local rung at the very next request.
    // The query drives the real HTTP route twice — once to warm the rung at
    // v1, once after the other driver's flushDelta — and returns the second
    // response's rows; the oracle replays the post-fold state, so a hash
    // match proves the served answer is the published head's, not the
    // warmed version's.
    "local_head_fresh" -> ((s, dir) => {
      import s.implicits._
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 0)
      val dim = em0(0L).length
      val root = graft.TempRoots.create("graft-lhf").toString
      val cat = new GraftCatalog(s, root) // "the other driver"
      cat.createCollection(CollectionMeta("lhf", dim = dim, distance = "euclidean",
        fields = Seq(
          IndexField("id", "string", primaryKey = true),
          IndexField("label", "integer")),
        ivfCells = Some(8), ivfTrainIterations = Some(0)))
      cat.loadCollection("lhf")
      cat.insert("lhf", e.select(
        lpad(col("vec_id").cast("string"), 3, "0").as("id"),
        col("label"),
        col("embedding").as("vector")))
      cat.flush("lhf") // v1
      val qv = em0(0L).toSeq
      val server = new graft.serve.GraftServer(s, root)
      server.start()
      try {
        def searchLocal(): String = {
          val conn = java.net.URI
            .create(s"http://127.0.0.1:${server.boundPort}/collections/lhf/searchLocal")
            .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
          conn.setRequestMethod("POST")
          conn.setDoOutput(true)
          conn.getOutputStream.write(
            s"""{"vector":[${qv.mkString(",")}],"topK":10,"nprobe":3}"""
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          require(conn.getResponseCode == 200,
            new String(conn.getErrorStream.readAllBytes()))
          val r = new String(conn.getInputStream.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8)
          conn.disconnect(); r
        }
        searchLocal() // warms the server's rung at v1
        // the OTHER driver publishes the delta; the server gets no signal
        cat.insert("lhf", e.where(col("vec_id") % 7 === 3).select(
          lpad(col("vec_id").cast("string"), 3, "0").as("id"),
          (col("label") + 100).as("label"),
          reverse(col("embedding")).as("vector")))
        cat.delete("lhf", graft.FilterExpr.Single("label", graft.FilterExpr.Gte, 107))
        cat.flushDelta("lhf") // v2, cross-driver
        val resp = org.json4s.jackson.JsonMethods.parse(searchLocal())
        val rows = (resp \ "rows").children.map { r =>
          ((r \ "id").values.toString, (r \ "dist").values.toString.toDouble)
        }
        rows.toDF("id", "dist").orderBy("dist", "id")
      } finally server.stop()
    }),
    // Multi-vector (CFLAT) collection over the IVF layout (r11 — the
    // pruned layout the reference's experimental engine lacks): two named
    // vector fields, centroids seeded from the ROUTING field v0 of the 8
    // pk-smallest rows (ivfTrainIterations=0), snapshot cell-partitioned on
    // v0. A delta batch MOVES routing vectors (reversed v0 → different
    // cells, v1 updated in the same put) and a predicate delete rides the
    // same segment. searchMultiIvf probes the 3 cells nearest the v0 query
    // and ranks the 60/40 weighted two-field score inside them — the
    // oracle replays seed centroids, the chain fold, per-row re-assignment
    // by the CURRENT v0, probe selection, and the weighted ranking, so a
    // hash match proves routing-field assignment, the indexed fold AND the
    // multi-field scoring in one row.
    "multi_vector_ivf" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 3); val emQ = em0 // ids 0-3: query vectors ride the dim fetch
      val dim = em0(0L).length
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-mvivf").toString)
      cat.createCollection(CollectionMeta("mvv", dim = dim, distance = "euclidean",
        fields = Seq(
          IndexField("id", "string", primaryKey = true),
          IndexField("label", "integer"),
          IndexField("v0", "vector"),
          IndexField("v1", "vector")),
        ivfCells = Some(8), ivfTrainIterations = Some(0)))
      cat.loadCollection("mvv")
      val pairs = e.select(col("vec_id"), col("label"), col("embedding").as("v0"))
        .join(e.select((col("vec_id") - 1).as("vec_id"), col("embedding").as("v1")), "vec_id")
      cat.insert("mvv", pairs.select(
        lpad(col("vec_id").cast("string"), 3, "0").as("id"),
        col("label"), col("v0"), col("v1")))
      cat.flush("mvv") // v1: v0-routed cell layout + centroid sidecar
      cat.insert("mvv", pairs.where(col("vec_id") % 7 === 3).select(
        lpad(col("vec_id").cast("string"), 3, "0").as("id"),
        (col("label") + 100).as("label"),
        reverse(col("v0")).as("v0"), reverse(col("v1")).as("v1")))
      cat.delete("mvv", graft.FilterExpr.Single("label", graft.FilterExpr.Gte, 107))
      cat.flushDelta("mvv") // v2: O(changes) segment, cells from v1's sidecar
      def qv(id: Long) = emQ(id)
      cat.searchMultiIvf("mvv", Seq(
        graft.operators.MultiVectorSearch.FieldQuery("v0", qv(0), ratio = 60),
        graft.operators.MultiVectorSearch.FieldQuery("v1", qv(1), ratio = 40)),
        topK = 10, nprobe = 3)
    }),
    // The PREPARED multi-vector probed route under the hash gate (r12):
    // the same routed layout served through searchMultiIvfPrepared — the
    // warm-up compile runs on DIFFERENT vectors, so the checked rows come
    // from a cache hit swapping BOTH included field vectors and the probed
    // cell set into the compiled plan. Oracle = the standard seed-cents /
    // v0-assignment / 3-cell probe / 60/40 weighted-rank replay.
    "prepared_multi_ivf" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 3); val emQ = em0 // ids 0-3: query vectors ride the dim fetch
      val dim = em0(0L).length
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-pmvi").toString)
      cat.createCollection(CollectionMeta("pmvi", dim = dim, distance = "euclidean",
        fields = Seq(
          IndexField("id", "string", primaryKey = true),
          IndexField("v0", "vector"),
          IndexField("v1", "vector")),
        ivfCells = Some(8), ivfTrainIterations = Some(0)))
      cat.loadCollection("pmvi")
      val pairs = e.select(col("vec_id"), col("embedding").as("v0"))
        .join(e.select((col("vec_id") - 1).as("vec_id"), col("embedding").as("v1")), "vec_id")
      cat.insert("pmvi", pairs.select(
        lpad(col("vec_id").cast("string"), 3, "0").as("id"), col("v0"), col("v1")))
      cat.flush("pmvi")
      def qv(id: Long) = emQ(id)
      def fq(a: Long, b: Long) = Seq(
        graft.operators.MultiVectorSearch.FieldQuery("v0", qv(a), ratio = 60),
        graft.operators.MultiVectorSearch.FieldQuery("v1", qv(b), ratio = 40))
      cat.searchMultiIvfPrepared("pmvi", fq(2, 3), topK = 10, nprobe = 3) // compile
      val (schema, rows) = cat.searchMultiIvfPrepared("pmvi", fq(0, 1), topK = 10, nprobe = 3)
      s.createDataFrame(new java.util.ArrayList(
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
    }),
    // Batch retrieval over the multi-vector IVF layout: every query of the
    // batch gets its weighted top-5, candidates from the query's 3 nearest
    // routing-field cells — one row-local top_cells call, ONE cell
    // equi-join, the 60/40 weighted score only inside probed cells. The
    // oracle replays per-qid probe selection (round6 + cid ties, the
    // top_cells kernel's order) and the weighted ranking.
    "multi_batch_ivf" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 0)
      val dim = em0(0L).length
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-mbi").toString)
      cat.createCollection(CollectionMeta("mbi", dim = dim, distance = "euclidean",
        fields = Seq(
          IndexField("id", "string", primaryKey = true),
          IndexField("v0", "vector"),
          IndexField("v1", "vector")),
        ivfCells = Some(8), ivfTrainIterations = Some(0)))
      cat.loadCollection("mbi")
      val pairs = e.select(col("vec_id"), col("embedding").as("v0"))
        .join(e.select((col("vec_id") - 1).as("vec_id"), col("embedding").as("v1")), "vec_id")
      cat.insert("mbi", pairs.select(
        lpad(col("vec_id").cast("string"), 3, "0").as("id"), col("v0"), col("v1")))
      cat.flush("mbi")
      val qs = pairs.where(col("vec_id") % 101 === 0).select("vec_id", "v0", "v1").collect()
        .map(r => (r.getLong(0).toString, Map(
          "v0" -> r.getSeq[Float](1).toArray,
          "v1" -> r.getSeq[Float](2).toArray))).toSeq
      cat.searchBatchMulti("mbi", Seq("v0" -> 60.0, "v1" -> 40.0), qs,
        topK = 5, nprobe = 3)
    }),
    // Streaming ingest with per-batch durability: a 2-batch change-log file
    // stream drives ChangeFeed.runIntoCollection(deltaFlushEachBatch=true) —
    // every micro-batch is applyChanges-folded into the resident state AND
    // persisted as an O(batch) delta segment. Batch 1: relabel puts
    // (vec_id%5==0 → +50) + tombstones (vec_id%5==1); batch 2: re-insert a
    // subset of the tombstoned keys (≡1 mod 10 → label 300 — a later
    // segment's put must beat the earlier segment's delete) + re-delete
    // another subset (≡6 mod 10 — idempotent double delete). The cold load
    // then folds base + BOTH segments; the oracle recomputes the end state
    // from the input table, so any batch-ordering, fold, or durability bug
    // hash-fails.
    "streaming_ingest_replay" -> ((s, dir) => {
      import org.apache.spark.sql.SaveMode
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 0)
      val dim = em0(0L).length
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-sir").toString)
      cat.createCollection(CollectionMeta("sir", dim = dim, distance = "euclidean",
        fields = Seq(
          IndexField("id", "string", primaryKey = true),
          IndexField("label", "integer"))))
      cat.loadCollection("sir")
      cat.insert("sir", e.select(
        col("vec_id").cast("string").as("id"),
        col("label"),
        col("embedding").as("vector")))
      cat.flush("sir") // v1 base
      val tmp = graft.TempRoots.create("graft-sir-log").toString
      val ckpt = graft.TempRoots.create("graft-sir-ckpt").toString
      def put(rows: org.apache.spark.sql.DataFrame, label: org.apache.spark.sql.Column, ver: Long) =
        rows.select(lit("put").as("op"), col("vec_id").cast("string").as("id"),
          label.as("label"), col("embedding").as("vector"), lit(ver).as("ver"))
      def del(rows: org.apache.spark.sql.DataFrame, ver: Long) =
        rows.select(lit("del").as("op"), col("vec_id").cast("string").as("id"),
          lit(null).cast("long").as("label"),
          lit(null).cast("array<float>").as("vector"), lit(ver).as("ver"))
      val b1 = put(e.where(col("vec_id") % 5 === 0), col("label") + 50, ver = 1L)
        .unionByName(del(e.where(col("vec_id") % 5 === 1), ver = 2L))
      b1.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp + "/b1")
      put(e.where(col("vec_id") % 10 === 1), lit(300L), ver = 3L)
        .unionByName(del(e.where(col("vec_id") % 10 === 6), ver = 4L))
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp + "/b2")
      // the written frame's own schema — no re-read job; file sources force
      // nullability on both the inferred and the user-provided schema, so
      // the stream sees the identical effective schema either way (r14)
      val schema = b1.schema
      Tables.withReplayPartitions(s, e.count()) { scoped =>
        val q = graft.streaming.ChangeFeed.runIntoCollection(cat, "sir", scoped,
          tmp + "/*", schema, versionCol = "ver", checkpointDir = ckpt,
          deltaFlushEachBatch = true, maxFilesPerTrigger = Some(1))
        q.awaitTermination(180000)
      }
      cat.releaseCollection("sir")
      cat.loadCollection("sir") // folds v1 + the two streamed segments
      val qv = em0(0L)
      cat.search("sir", qv, topK = 10)
    }),
    // Version CDC: exact state-to-state diff across a delta chain AND a
    // compaction boundary. v1 = base; v2 = applyChanges batch (relabel
    // vec_id%6==0 → +70, tombstone vec_id%6==1) as a delta segment; v3 =
    // fresh-key inserts (vec_id%6==2, id+50000, label+500) as a second
    // segment; v4 = compacting full flush. stateDiff(1, 4) must emit
    // exactly the net puts/dels — the oracle recomputes them from the input
    // table. (The O(changes) fast path, changeLogBetween, is pinned equal
    // to stateDiff on the delta window by CatalogDeltaSpec.)
    "version_diff" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 0)
      val dim = em0(0L).length
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-vdiff").toString)
      cat.createCollection(CollectionMeta("vd", dim = dim, distance = "euclidean",
        versioning = true,
        fields = Seq(
          IndexField("id", "string", primaryKey = true),
          IndexField("label", "integer"))))
      cat.loadCollection("vd")
      cat.insert("vd", e.select(
        col("vec_id").cast("string").as("id"),
        col("label"),
        col("embedding").as("vector")))
      cat.flush("vd") // v1
      val puts = e.where(col("vec_id") % 6 === 0).select(
        lit("put").as("op"), col("vec_id").cast("string").as("id"),
        (col("label") + 70).as("label"), col("embedding").as("vector"), lit(1L).as("ver"))
      val dels = e.where(col("vec_id") % 6 === 1).select(
        lit("del").as("op"), col("vec_id").cast("string").as("id"),
        lit(null).cast("long").as("label"),
        lit(null).cast("array<float>").as("vector"), lit(2L).as("ver"))
      cat.applyChanges("vd", puts.unionByName(dels), versionCol = "ver")
      cat.flushDelta("vd") // v2
      cat.insert("vd", e.where(col("vec_id") % 6 === 2).select(
        (col("vec_id") + 50000).cast("string").as("id"),
        (col("label") + 500).as("label"),
        col("embedding").as("vector")))
      cat.flushDelta("vd") // v3
      cat.flush("vd") // v4: compaction
      cat.stateDiff("vd", 1, 4).select("op", "id", "label").orderBy("op", "id")
    }),
    // Schema-less (core v3) collection through the full API: arbitrary
    // metadata string-coerced into a map, _id shim, filter AST routed
    // through parse-compare semantics (SURVEY.md §1.2).
    "core_collection_roundtrip" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 0)
      val dim = em0(0L).length
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-core").toString)
      cat.createCollection(CollectionMeta("core", dim = dim, distance = "euclidean",
        schemaless = Some(true)))
      cat.loadCollection("core")
      cat.insert("core", e.select(
        col("vec_id").cast("string").as("_id"),
        col("embedding").as("vector"),
        col("label")))
      cat.flush("core"); cat.releaseCollection("core"); cat.loadCollection("core")
      val qv = em0(0L)
      cat.search("core", qv, topK = 10,
          filter = Some(graft.FilterExpr.Single("label", graft.FilterExpr.Gte, 5)))
        .select(col("_id"), element_at(col("meta"), "label").as("label"),
          col("dist"), col("score"))
    }),
    // Multi-vector (CFLAT) collection through the full API: two named
    // vector fields, validated ingest, snapshot round trip, weighted search
    // (SURVEY.md §2.4 A1; experimental/multi_vector_vertex.go:85-137).
    "snapshot_roundtrip_mv" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 3); val emQ = em0 // ids 0-3: query vectors ride the dim fetch
      val dim = em0(0L).length
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-snap-mv").toString)
      cat.createCollection(CollectionMeta("mv", dim = dim, distance = "euclidean",
        fields = Seq(
          IndexField("id", "string", primaryKey = true),
          IndexField("v0", "vector"),
          IndexField("v1", "vector"))))
      cat.loadCollection("mv")
      val rows = e.select(col("vec_id"), col("embedding").as("v0"))
        .join(e.select((col("vec_id") - 1).as("vec_id"), col("embedding").as("v1")), "vec_id")
        .select(col("vec_id").cast("string").as("id"), col("v0"), col("v1"))
      cat.insert("mv", rows)
      cat.flush("mv")
      cat.releaseCollection("mv")
      cat.loadCollection("mv")
      def qv(id: Long) = emQ(id)
      cat.searchMulti("mv", Seq(
        graft.operators.MultiVectorSearch.FieldQuery("v0", qv(0), ratio = 60),
        graft.operators.MultiVectorSearch.FieldQuery("v1", qv(1), ratio = 40)), topK = 10)
    }),
    // Migration path, experimental (CFLAT) flavor: the same logical rows as
    // snapshot_roundtrip_mv, but round-tripped through the reference's
    // string-keyed multi-vector blob format and importExperimentalSnapshot
    // (identity = the vertex map key, surfaced as the synthesized `_key`
    // pk). The f32 encode/decode is bit-exact, so the weighted search must
    // match the direct pairing of the embeddings table.
    "coltt_import_mv_roundtrip" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 3); val emQ = em0 // ids 0-3: query vectors ride the dim fetch
      val dim = em0(0L).length
      val pairs = e.select(col("vec_id"), col("embedding").as("v0"))
        .join(e.select((col("vec_id") - 1).as("vec_id"), col("embedding").as("v1")), "vec_id")
        .collect().toIndexedSeq
      val vs = pairs.map { r =>
        graft.interop.ColttImport.ColttMvVertex(r.getLong(0).toString,
          Map("v0" -> r.getSeq[Float](1).toArray, "v1" -> r.getSeq[Float](2).toArray),
          Map.empty)
      }
      val bucket = graft.TempRoots.create("coltt-bucket-mvq")
      val metaJson =
        s"""{"dim":$dim,"distance":1,"quantization":0,"index_type":{
           |"v0":{"index_name":"v0","index_type":4,"enable_null":false},
           |"v1":{"index_name":"v1","index_type":4,"enable_null":false}
           |},"versioning":false}""".stripMargin
      Files.write(bucket.resolve("mvimp.meta.json"), metaJson.getBytes("UTF-8"))
      Files.write(bucket.resolve("mvimp.vertex"),
        graft.interop.ColttImport.encodeMultiVectorBlob(vs))
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-coltt-mv").toString)
      graft.interop.ColttImport.importExperimentalSnapshot(s, cat, "mvimp", bucket.toString)
      def qv(id: Long) = emQ(id)
      cat.searchMulti("mvimp", Seq(
        graft.operators.MultiVectorSearch.FieldQuery("v0", qv(0), ratio = 60),
        graft.operators.MultiVectorSearch.FieldQuery("v1", qv(1), ratio = 40)), topK = 10)
    }),
    // Quantized CFLAT (r9 verdict #4): a multi-vector collection with f16
    // STORAGE — two declared vector fields, each stored as f16 shorts —
    // searched through searchMulti, whose per-field distances run the
    // FUSED decode-in-loop kernel (distance_quant) instead of
    // materializing decoded arrays. The oracle replays the f16 round trip
    // numerically (the flat_scan_f16 construction) on both fields AND the
    // query vectors, then the weighted euclidean display-score ranking —
    // a hash match proves encode-at-ingest, the fused kernel, and the
    // weighted fold agree bit-for-bit.
    "multi_vector_search_f16" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 3); val emQ = em0 // ids 0-3: query vectors ride the dim fetch
      val dim = em0(0L).length
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-mvq").toString)
      cat.createCollection(CollectionMeta("mvq", dim = dim, distance = "euclidean",
        quantization = "f16",
        fields = Seq(
          IndexField("id", "string", primaryKey = true),
          IndexField("v0", "vector", dim = Some(dim)),
          IndexField("v1", "vector", dim = Some(dim)))))
      cat.loadCollection("mvq")
      cat.insert("mvq",
        e.select(lpad(col("vec_id").cast("string"), 3, "0").as("id"),
            col("embedding").as("v0"))
          .join(e.select(lpad((col("vec_id") - 1).cast("string"), 3, "0").as("id"),
            col("embedding").as("v1")), "id"))
      def qv(id: Long) = emQ(id)
      cat.searchMulti("mvq", Seq(
        graft.operators.MultiVectorSearch.FieldQuery("v0", qv(0), ratio = 60),
        graft.operators.MultiVectorSearch.FieldQuery("v1", qv(1), ratio = 40)), topK = 10)
    }),
    // Batch retrieval over the flushed IVF layout through the full
    // Collection API — /searchBatch's scale path: probe cells chosen
    // row-locally against the flushed centroid sidecar, ONE cell equi-join
    // against the cell-partitioned snapshot, per-qid bounded window.
    // ivfTrainIterations=0 keeps the trained centroids at the
    // deterministic seed (the 8 id-smallest rows), so the oracle replays
    // assignment, per-query probe selection AND ranking in SQL — any drift
    // in the flush's cell layout or the batch join breaks the hash.
    "catalog_batch_ivf" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 0)
      val dim = em0(0L).length
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-sbi").toString)
      cat.createCollection(CollectionMeta("sbi", dim = dim, distance = "euclidean",
        fields = Seq(IndexField("id", "string", primaryKey = true)),
        ivfCells = Some(8), ivfTrainIterations = Some(0)))
      cat.loadCollection("sbi")
      cat.insert("sbi", e.select(
        lpad(col("vec_id").cast("string"), 3, "0").as("id"),
        col("embedding").as("vector")))
      cat.flush("sbi")
      val qs = e.where(col("vec_id") % 101 === 0).select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0).toString, r.getSeq[Float](1).toArray)).toSeq
      cat.searchBatch("sbi", qs, topK = 5, nprobe = 3)
    }),
    // Batch retrieval over a FLAT collection — searchBatch's no-IVF
    // fallback: the query set broadcasts over ONE resident-corpus scan,
    // per-qid bounded window (partial WindowGroupLimit below the exchange),
    // recall 1 by construction. The oracle recomputes every query's exact
    // top-5 independently.
    "search_batch_flat" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val em0 = embUpTo(e, 0)
      val dim = em0(0L).length
      val cat = new GraftCatalog(s, graft.TempRoots.create("graft-sbf").toString)
      cat.createCollection(CollectionMeta("sbf", dim = dim, distance = "euclidean",
        fields = Seq(IndexField("id", "string", primaryKey = true))))
      cat.loadCollection("sbf")
      cat.insert("sbf", e.select(
        col("vec_id").cast("string").as("id"), col("embedding").as("vector")))
      val qs = e.where(col("vec_id") < 3).select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0).toString, r.getSeq[Float](1).toArray)).toSeq
      cat.searchBatch("sbf", qs, topK = 5, nprobe = 1)
    })
  )

  val oracles: Map[String, String] = Map(
    "snapshot_roundtrip" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id, CAST(e.label AS BIGINT) AS label,
        |  ROUND(list_distance(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS dist,
        |  ROUND(GREATEST(0, 100 - list_distance(e.embedding::DOUBLE[], q.qv::DOUBLE[])), 4) AS score
        |FROM embeddings e, q
        |ORDER BY dist, id LIMIT 10""".stripMargin,
    // the prepared path must equal the plan-per-call exact scan bit for bit
    "prepared_search" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id, CAST(e.label AS BIGINT) AS label,
        |  ROUND(list_distance(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS dist,
        |  ROUND(GREATEST(0, 100 - list_distance(e.embedding::DOUBLE[], q.qv::DOUBLE[])), 4) AS score
        |FROM embeddings e, q
        |ORDER BY dist, id LIMIT 10""".stripMargin,
    // identical shape to snapshot_roundtrip: the coltt bucket encode/decode
    // is bit-exact for f32, so results must equal a direct scan
    "coltt_import_roundtrip" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id, CAST(e.label AS BIGINT) AS label,
        |  ROUND(list_distance(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS dist,
        |  ROUND(GREATEST(0, 100 - list_distance(e.embedding::DOUBLE[], q.qv::DOUBLE[])), 4) AS score
        |FROM embeddings e, q
        |ORDER BY dist, id LIMIT 10""".stripMargin,
    // the core WAL replay's final state, recomputed from the input table:
    // vec_id%7=0 relabeled +100 (the committed update batch), vec_id%37=5
    // gone (the delete batch), the torn 9999-label batch invisible; labels
    // are DOUBLE because proto Struct numbers are
    "coltt_import_core" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |live AS (SELECT vec_id,
        |    CASE WHEN vec_id % 7 = 0 THEN label + 100 ELSE label END AS label,
        |    embedding
        |  FROM embeddings WHERE vec_id % 37 <> 5)
        |SELECT CAST(e.vec_id AS VARCHAR) AS _id, CAST(e.label AS DOUBLE) AS label,
        |  ROUND(list_distance(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS dist,
        |  ROUND(GREATEST(0, 100 - list_distance(e.embedding::DOUBLE[], q.qv::DOUBLE[])), 4) AS score
        |FROM live e, q
        |ORDER BY dist, _id LIMIT 10""".stripMargin,
    "catalog_pq_search" ->
      """WITH emb AS (SELECT lpad(CAST(vec_id AS VARCHAR), 3, '0') AS id, vec_id, embedding
        |  FROM embeddings),
        |sp AS (SELECT j FROM range(0, 4) r(j)),
        |cb AS (SELECT sp.j, e.vec_id AS cid, e.embedding[sp.j*16+1 : sp.j*16+16] AS cv
        |  FROM emb e, sp WHERE e.vec_id < 16),
        |q AS (SELECT sp.j, e.embedding[sp.j*16+1 : sp.j*16+16] AS qv
        |  FROM emb e, sp WHERE e.vec_id = 0),
        |asg AS (SELECT vec_id, j, cid FROM (
        |  SELECT e.vec_id, c.j, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id, c.j
        |      ORDER BY ROUND(list_distance(e.embedding[c.j*16+1 : c.j*16+16]::DOUBLE[],
        |                                   c.cv::DOUBLE[]), 6), c.cid) AS rn
        |  FROM emb e, cb c) WHERE rn = 1),
        |adc AS (SELECT a.vec_id,
        |    SQRT(SUM(POWER(list_distance(q.qv::DOUBLE[], c.cv::DOUBLE[]), 2))) AS d
        |  FROM asg a JOIN cb c ON c.j = a.j AND c.cid = a.cid JOIN q ON q.j = a.j
        |  GROUP BY a.vec_id)
        |SELECT e.id, ROUND(adc.d, 6) AS dist FROM adc JOIN emb e ON e.vec_id = adc.vec_id
        |ORDER BY dist, e.id LIMIT 10""".stripMargin,
    "catalog_bin_search" ->
      """WITH s AS (SELECT lpad(CAST(vec_id AS VARCHAR), 3, '0') AS id,
        |    embedding::DOUBLE[] AS v FROM embeddings),
        |d AS (SELECT generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM s),
        |th0 AS (SELECT dim, (min(x) + max(x)) / 2.0 AS t FROM d GROUP BY dim),
        |th AS (SELECT list(t ORDER BY dim) AS ts FROM th0),
        |b AS (SELECT id, v, list_transform(range(1, len(v) + 1),
        |        i -> CASE WHEN v[i] > th.ts[i] THEN 1 ELSE 0 END) AS bits
        |      FROM s, th),
        |q AS (SELECT bits AS qb, v AS qv FROM b WHERE id = '000'),
        |c AS (SELECT b.id, b.v,
        |        list_sum(list_transform(range(1, len(b.bits) + 1),
        |          i -> CASE WHEN b.bits[i] <> q.qb[i] THEN 1 ELSE 0 END)) AS h
        |      FROM b, q ORDER BY h, id LIMIT 30)
        |SELECT c.id, ROUND(list_distance(c.v, q.qv), 6) AS dist
        |FROM c, q ORDER BY dist, id LIMIT 10""".stripMargin,
    // f32 CFLAT export→import is lossless, so the weighted search equals
    // the direct replay (the coltt_import_mv_roundtrip shape)
    "coltt_export_mv_roundtrip" -> {
      val w = """GREATEST(0, 100 - list_distance(mv.v0::DOUBLE[], q0.qv::DOUBLE[])) * 0.6
                | + GREATEST(0, 100 - list_distance(mv.v1::DOUBLE[], q1.qv::DOUBLE[])) * 0.4""".stripMargin
      s"""WITH q0 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |q1 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1),
         |mv AS (SELECT e1.vec_id, e1.embedding AS v0, e2.embedding AS v1
         |       FROM embeddings e1 JOIN embeddings e2 ON e2.vec_id = e1.vec_id + 1)
         |SELECT CAST(mv.vec_id AS VARCHAR) AS _key, ROUND($w, 4) AS score
         |FROM mv, q0, q1
         |ORDER BY ROUND($w, 8) DESC, _key
         |LIMIT 10""".stripMargin
    },
    // the export→import chain is float-lossless, so results equal a direct
    // scan (the snapshot_roundtrip shape)
    "coltt_export_roundtrip" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT CAST(e.vec_id AS VARCHAR) AS id, CAST(e.label AS BIGINT) AS label,
        |  ROUND(list_distance(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS dist,
        |  ROUND(GREATEST(0, 100 - list_distance(e.embedding::DOUBLE[], q.qv::DOUBLE[])), 4) AS score
        |FROM embeddings e, q
        |ORDER BY dist, id LIMIT 10""".stripMargin,
    // seed centroids (8 id-smallest rows), per-row argmin assignment, probe
    // the query's 3 nearest cells, then rank ONLY rows passing the filter —
    // cell membership, filter semantics, and ranking all checked at once
    "ivf_search_filtered" ->
      """WITH emb AS (SELECT lpad(CAST(vec_id AS VARCHAR), 3, '0') AS id, vec_id,
        |    label, embedding FROM embeddings),
        |cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
        |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |asg AS (SELECT id, cid FROM (
        |  SELECT e.id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.id
        |      ORDER BY ROUND(list_distance(e.embedding::DOUBLE[], c.cv::DOUBLE[]), 6), c.cid) AS rn
        |  FROM emb e, cents c) WHERE rn = 1),
        |probe AS (SELECT c.cid FROM cents c, q
        |  ORDER BY ROUND(list_distance(c.cv::DOUBLE[], q.qv::DOUBLE[]), 6), c.cid LIMIT 3)
        |SELECT e.id, CAST(a.cid AS INTEGER) AS cell,
        |  ROUND(list_distance(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS dist
        |FROM emb e JOIN asg a ON a.id = e.id, q
        |WHERE a.cid IN (SELECT cid FROM probe) AND e.label < 5
        |ORDER BY dist, e.id LIMIT 10""".stripMargin,
    // identical replay to ivf_search_filtered — the prepared path must be
    // bit-identical to the plan-per-call one; the warm-up compile on a
    // different vector changes nothing the oracle can see
    "prepared_ivf_search" ->
      """WITH emb AS (SELECT lpad(CAST(vec_id AS VARCHAR), 3, '0') AS id, vec_id,
        |    label, embedding FROM embeddings),
        |cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
        |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |asg AS (SELECT id, cid FROM (
        |  SELECT e.id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.id
        |      ORDER BY ROUND(list_distance(e.embedding::DOUBLE[], c.cv::DOUBLE[]), 6), c.cid) AS rn
        |  FROM emb e, cents c) WHERE rn = 1),
        |probe AS (SELECT c.cid FROM cents c, q
        |  ORDER BY ROUND(list_distance(c.cv::DOUBLE[], q.qv::DOUBLE[]), 6), c.cid LIMIT 3)
        |SELECT e.id, CAST(a.cid AS INTEGER) AS cell,
        |  ROUND(list_distance(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS dist
        |FROM emb e JOIN asg a ON a.id = e.id, q
        |WHERE a.cid IN (SELECT cid FROM probe) AND e.label < 5
        |ORDER BY dist, e.id LIMIT 10""".stripMargin,
    // catalog_pq_search with the scored set restricted to filter survivors;
    // the codebook stays trained on the FULL corpus (flush-time), only the
    // query-time scan is filtered
    "pq_search_filtered" ->
      """WITH emb AS (SELECT lpad(CAST(vec_id AS VARCHAR), 3, '0') AS id, vec_id,
        |    label, embedding FROM embeddings),
        |fin AS (SELECT * FROM emb WHERE label < 5),
        |sp AS (SELECT j FROM range(0, 4) r(j)),
        |cb AS (SELECT sp.j, e.vec_id AS cid, e.embedding[sp.j*16+1 : sp.j*16+16] AS cv
        |  FROM emb e, sp WHERE e.vec_id < 16),
        |q AS (SELECT sp.j, e.embedding[sp.j*16+1 : sp.j*16+16] AS qv
        |  FROM emb e, sp WHERE e.vec_id = 0),
        |asg AS (SELECT id, j, cid FROM (
        |  SELECT f.id, c.j, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY f.id, c.j
        |      ORDER BY ROUND(list_distance(f.embedding[c.j*16+1 : c.j*16+16]::DOUBLE[],
        |                                   c.cv::DOUBLE[]), 6), c.cid) AS rn
        |  FROM fin f, cb c) WHERE rn = 1),
        |adc AS (SELECT a.id,
        |    SQRT(SUM(POWER(list_distance(q.qv::DOUBLE[], c.cv::DOUBLE[]), 2))) AS d
        |  FROM asg a JOIN cb c ON c.j = a.j AND c.cid = a.cid JOIN q ON q.j = a.j
        |  GROUP BY a.id)
        |SELECT adc.id, ROUND(adc.d, 6) AS dist FROM adc
        |ORDER BY dist, id LIMIT 10""".stripMargin,
    // catalog_bin_search with the Hamming pass restricted to filter
    // survivors; thresholds stay trained on the FULL corpus (flush-time)
    "bin_search_filtered" ->
      """WITH s0 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
        |d AS (SELECT generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM s0),
        |th0 AS (SELECT dim, (min(x) + max(x)) / 2.0 AS t FROM d GROUP BY dim),
        |th AS (SELECT list(t ORDER BY dim) AS ts FROM th0),
        |s AS (SELECT lpad(CAST(vec_id AS VARCHAR), 3, '0') AS id,
        |    embedding::DOUBLE[] AS v FROM embeddings WHERE label < 5),
        |b AS (SELECT id, v, list_transform(range(1, len(v) + 1),
        |        i -> CASE WHEN v[i] > th.ts[i] THEN 1 ELSE 0 END) AS bits
        |      FROM s, th),
        |q0 AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |qb AS (SELECT list_transform(range(1, len(q0.qv) + 1),
        |        i -> CASE WHEN q0.qv[i] > th.ts[i] THEN 1 ELSE 0 END) AS bits FROM q0, th),
        |c AS (SELECT b.id, b.v,
        |        list_sum(list_transform(range(1, len(b.bits) + 1),
        |          i -> CASE WHEN b.bits[i] <> qb.bits[i] THEN 1 ELSE 0 END)) AS h
        |      FROM b, qb ORDER BY h, id LIMIT 30)
        |SELECT c.id, ROUND(list_distance(c.v, q0.qv), 6) AS dist
        |FROM c, q0 ORDER BY dist, id LIMIT 10""".stripMargin,
    "delta_flush_roundtrip" ->
      """WITH base AS (SELECT vec_id, CAST(vec_id AS VARCHAR) AS id,
        |    CAST(label AS BIGINT) AS label, embedding FROM embeddings),
        |upd AS (SELECT vec_id, id, label + 100 AS label, embedding
        |  FROM base WHERE vec_id % 7 = 0),
        |merged AS (SELECT * FROM base WHERE vec_id % 7 <> 0
        |           UNION ALL SELECT * FROM upd),
        |fin AS (SELECT * FROM merged WHERE label < 105),
        |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT f.id, f.label,
        |  ROUND(list_distance(f.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS dist,
        |  ROUND(GREATEST(0, 100 - list_distance(f.embedding::DOUBLE[], q.qv::DOUBLE[])), 4) AS score
        |FROM fin f, q
        |ORDER BY dist, id LIMIT 10""".stripMargin,
    // the f16 CFLAT replay: both stored fields and both query vectors go
    // through the numeric f16 round trip (flat_scan_f16's construction),
    // then the weighted euclidean display scores rank by the 8-dp fold
    "multi_vector_search_f16" -> {
      val f16e = QuantizedQueries.f16ListSql("embedding")
      s"""WITH s AS (SELECT lpad(CAST(vec_id AS VARCHAR), 3, '0') AS id, vec_id,
         |    $f16e AS ev FROM embeddings),
         |mv AS (SELECT s1.id, s1.ev AS v0, s2.ev AS v1
         |       FROM s s1 JOIN s s2 ON s2.vec_id = s1.vec_id + 1),
         |q0 AS (SELECT $f16e AS qv FROM embeddings WHERE vec_id = 0),
         |q1 AS (SELECT $f16e AS qv FROM embeddings WHERE vec_id = 1),
         |w AS (SELECT mv.id,
         |    GREATEST(0, 100 - list_distance(mv.v0, q0.qv)) * 0.6
         |  + GREATEST(0, 100 - list_distance(mv.v1, q1.qv)) * 0.4 AS ws
         |  FROM mv, q0, q1)
         |SELECT id, ROUND(ws, 4) AS score FROM w
         |ORDER BY ROUND(ws, 8) DESC, id LIMIT 10""".stripMargin
    },
    // the indexed delta chain replayed in SQL: seed centroids from the 8
    // id-smallest ORIGINAL rows (the base flush trained them), the folded
    // state re-assigned per row (updated rows land in their NEW cells —
    // exactly what decorateSegment encoded), probe + rank as in ivf_search
    "delta_flush_ivf" ->
      """WITH emb AS (SELECT lpad(CAST(vec_id AS VARCHAR), 3, '0') AS id, vec_id,
        |    CAST(label AS BIGINT) AS label, embedding FROM embeddings),
        |cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
        |upd AS (SELECT id, vec_id, label + 100 AS label,
        |    list_reverse(embedding) AS embedding FROM emb WHERE vec_id % 7 = 3),
        |merged AS (SELECT id, vec_id, label, embedding FROM emb WHERE vec_id % 7 <> 3
        |           UNION ALL SELECT id, vec_id, label, embedding FROM upd),
        |fin AS (SELECT * FROM merged WHERE label < 107),
        |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |asg AS (SELECT id, cid FROM (
        |  SELECT f.id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY f.id
        |      ORDER BY ROUND(list_distance(f.embedding::DOUBLE[], c.cv::DOUBLE[]), 6), c.cid) AS rn
        |  FROM fin f, cents c) WHERE rn = 1),
        |probe AS (SELECT c.cid FROM cents c, q
        |  ORDER BY ROUND(list_distance(c.cv::DOUBLE[], q.qv::DOUBLE[]), 6), c.cid LIMIT 3)
        |SELECT f.id, CAST(a.cid AS INTEGER) AS cell,
        |  ROUND(list_distance(f.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS dist
        |FROM fin f JOIN asg a ON a.id = f.id, q
        |WHERE a.cid IN (SELECT cid FROM probe)
        |ORDER BY dist, f.id LIMIT 10""".stripMargin,
    // the PQ chain: codebook from the 16 id-smallest ORIGINAL rows (base
    // flush, pqTrainIterations=0), the FOLDED state re-encoded against it
    // (updated vectors get their post-update codes — the segment's), ADC
    // ranking as in catalog_pq_search
    "delta_flush_pq" ->
      """WITH emb AS (SELECT lpad(CAST(vec_id AS VARCHAR), 3, '0') AS id, vec_id,
        |    CAST(label AS BIGINT) AS label, embedding FROM embeddings),
        |upd AS (SELECT id, vec_id, label + 100 AS label,
        |    list_reverse(embedding) AS embedding FROM emb WHERE vec_id % 7 = 3),
        |merged AS (SELECT id, vec_id, label, embedding FROM emb WHERE vec_id % 7 <> 3
        |           UNION ALL SELECT id, vec_id, label, embedding FROM upd),
        |fin AS (SELECT * FROM merged WHERE label < 107),
        |sp AS (SELECT j FROM range(0, 4) r(j)),
        |cb AS (SELECT sp.j, e.vec_id AS cid, e.embedding[sp.j*16+1 : sp.j*16+16] AS cv
        |  FROM emb e, sp WHERE e.vec_id < 16),
        |q AS (SELECT sp.j, e.embedding[sp.j*16+1 : sp.j*16+16] AS qv
        |  FROM emb e, sp WHERE e.vec_id = 0),
        |asg AS (SELECT id, j, cid FROM (
        |  SELECT f.id, c.j, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY f.id, c.j
        |      ORDER BY ROUND(list_distance(f.embedding[c.j*16+1 : c.j*16+16]::DOUBLE[],
        |                                   c.cv::DOUBLE[]), 6), c.cid) AS rn
        |  FROM fin f, cb c) WHERE rn = 1),
        |adc AS (SELECT a.id,
        |    SQRT(SUM(POWER(list_distance(q.qv::DOUBLE[], c.cv::DOUBLE[]), 2))) AS d
        |  FROM asg a JOIN cb c ON c.j = a.j AND c.cid = a.cid JOIN q ON q.j = a.j
        |  GROUP BY a.id)
        |SELECT adc.id, ROUND(adc.d, 6) AS dist FROM adc
        |ORDER BY dist, id LIMIT 10""".stripMargin,
    // the binary chain: midrange thresholds from the ORIGINAL corpus (base
    // flush trained them over all 500 rows), the folded state re-encoded,
    // Hamming top-30 + exact rerank as in catalog_bin_search
    "delta_flush_bin" ->
      """WITH emb AS (SELECT lpad(CAST(vec_id AS VARCHAR), 3, '0') AS id, vec_id,
        |    CAST(label AS BIGINT) AS label, embedding FROM embeddings),
        |upd AS (SELECT id, vec_id, label + 100 AS label,
        |    list_reverse(embedding) AS embedding FROM emb WHERE vec_id % 7 = 3),
        |merged AS (SELECT id, vec_id, label, embedding FROM emb WHERE vec_id % 7 <> 3
        |           UNION ALL SELECT id, vec_id, label, embedding FROM upd),
        |fin AS (SELECT * FROM merged WHERE label < 107),
        |s0 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
        |d AS (SELECT generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM s0),
        |th0 AS (SELECT dim, (min(x) + max(x)) / 2.0 AS t FROM d GROUP BY dim),
        |th AS (SELECT list(t ORDER BY dim) AS ts FROM th0),
        |b AS (SELECT f.id, f.embedding::DOUBLE[] AS v,
        |        list_transform(range(1, len(f.embedding) + 1),
        |          i -> CASE WHEN f.embedding[i] > th.ts[i] THEN 1 ELSE 0 END) AS bits
        |      FROM fin f, th),
        |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |qb AS (SELECT list_transform(range(1, len(q.qv) + 1),
        |        i -> CASE WHEN q.qv[i] > th.ts[i] THEN 1 ELSE 0 END) AS bits FROM q, th),
        |c AS (SELECT b.id, b.v,
        |        list_sum(list_transform(range(1, len(b.bits) + 1),
        |          i -> CASE WHEN b.bits[i] <> qb.bits[i] THEN 1 ELSE 0 END)) AS h
        |      FROM b, qb ORDER BY h, id LIMIT 30)
        |SELECT c.id, ROUND(list_distance(c.v, q.qv), 6) AS dist
        |FROM c, q ORDER BY dist, id LIMIT 10""".stripMargin,
    // the local-rung fold replayed: ledger-window LWW strike+append over
    // the base (delta_flush_ivf's merged/fin), per-row re-assignment to the
    // BASE's seed centroids, probe the 3 nearest cells, (round6 dist, id)
    // top-10 — the folded LocalIvfIndex's exact answer
    "local_refresh_fold" ->
      """WITH emb AS (SELECT lpad(CAST(vec_id AS VARCHAR), 3, '0') AS id, vec_id,
        |    CAST(label AS BIGINT) AS label, embedding FROM embeddings),
        |cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
        |upd AS (SELECT id, vec_id, label + 100 AS label,
        |    list_reverse(embedding) AS embedding FROM emb WHERE vec_id % 7 = 3),
        |merged AS (SELECT id, vec_id, label, embedding FROM emb WHERE vec_id % 7 <> 3
        |           UNION ALL SELECT id, vec_id, label, embedding FROM upd),
        |fin AS (SELECT * FROM merged WHERE label < 107),
        |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |asg AS (SELECT id, cid FROM (
        |  SELECT f.id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY f.id
        |      ORDER BY ROUND(list_distance(f.embedding::DOUBLE[], c.cv::DOUBLE[]), 6), c.cid) AS rn
        |  FROM fin f, cents c) WHERE rn = 1),
        |probe AS (SELECT c.cid FROM cents c, q
        |  ORDER BY ROUND(list_distance(c.cv::DOUBLE[], q.qv::DOUBLE[]), 6), c.cid LIMIT 3)
        |SELECT f.id,
        |  ROUND(list_distance(f.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS dist
        |FROM fin f JOIN asg a ON a.id = f.id, q
        |WHERE a.cid IN (SELECT cid FROM probe)
        |ORDER BY dist, f.id LIMIT 10""".stripMargin,
    // warmCells' touched-row counts: the full corpus, and cell 0 of the
    // seed-centroid argmin assignment
    "warm_cells" ->
      """WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
        |asg AS (SELECT vec_id, cid FROM (
        |  SELECT e.vec_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY ROUND(list_distance(e.embedding::DOUBLE[], c.cv::DOUBLE[]), 6), c.cid) AS rn
        |  FROM embeddings e, cents c) WHERE rn = 1)
        |SELECT (SELECT COUNT(*) FROM embeddings) AS warmed_all,
        |       (SELECT COUNT(*) FROM asg WHERE cid = 0) AS warmed_cell0""".stripMargin,
    // the ADC rung's fold: delta_flush_pq's replay (codebook from the 16
    // id-smallest ORIGINAL rows, the FOLDED state re-encoded, ADC rank)
    // answered by the folded LocalPqIndex
    "local_refresh_fold_pq" ->
      """WITH emb AS (SELECT lpad(CAST(vec_id AS VARCHAR), 3, '0') AS id, vec_id,
        |    CAST(label AS BIGINT) AS label, embedding FROM embeddings),
        |upd AS (SELECT id, vec_id, label + 100 AS label,
        |    list_reverse(embedding) AS embedding FROM emb WHERE vec_id % 7 = 3),
        |merged AS (SELECT id, vec_id, label, embedding FROM emb WHERE vec_id % 7 <> 3
        |           UNION ALL SELECT id, vec_id, label, embedding FROM upd),
        |fin AS (SELECT * FROM merged WHERE label < 107),
        |sp AS (SELECT j FROM range(0, 4) r(j)),
        |cb AS (SELECT sp.j, e.vec_id AS cid, e.embedding[sp.j*16+1 : sp.j*16+16] AS cv
        |  FROM emb e, sp WHERE e.vec_id < 16),
        |q AS (SELECT sp.j, e.embedding[sp.j*16+1 : sp.j*16+16] AS qv
        |  FROM emb e, sp WHERE e.vec_id = 0),
        |asg AS (SELECT id, j, cid FROM (
        |  SELECT f.id, c.j, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY f.id, c.j
        |      ORDER BY ROUND(list_distance(f.embedding[c.j*16+1 : c.j*16+16]::DOUBLE[],
        |                                   c.cv::DOUBLE[]), 6), c.cid) AS rn
        |  FROM fin f, cb c) WHERE rn = 1),
        |adc AS (SELECT a.id,
        |    SQRT(SUM(POWER(list_distance(q.qv::DOUBLE[], c.cv::DOUBLE[]), 2))) AS d
        |  FROM asg a JOIN cb c ON c.j = a.j AND c.cid = a.cid JOIN q ON q.j = a.j
        |  GROUP BY a.id)
        |SELECT adc.id, ROUND(adc.d, 6) AS dist FROM adc
        |ORDER BY dist, id LIMIT 10""".stripMargin,
    // the Hamming rung's fold: midrange thresholds from the ORIGINAL
    // corpus (the base flush trained them), the FOLDED state re-encoded,
    // raw integer Hamming top-10 with id tiebreak — no rerank (the local
    // bin rung's approximate contract)
    "local_refresh_fold_bin" ->
      """WITH emb AS (SELECT lpad(CAST(vec_id AS VARCHAR), 3, '0') AS id, vec_id,
        |    CAST(label AS BIGINT) AS label, embedding FROM embeddings),
        |upd AS (SELECT id, vec_id, label + 100 AS label,
        |    list_reverse(embedding) AS embedding FROM emb WHERE vec_id % 7 = 3),
        |merged AS (SELECT id, vec_id, label, embedding FROM emb WHERE vec_id % 7 <> 3
        |           UNION ALL SELECT id, vec_id, label, embedding FROM upd),
        |fin AS (SELECT * FROM merged WHERE label < 107),
        |s0 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
        |d AS (SELECT generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM s0),
        |th0 AS (SELECT dim, (min(x) + max(x)) / 2.0 AS t FROM d GROUP BY dim),
        |th AS (SELECT list(t ORDER BY dim) AS ts FROM th0),
        |b AS (SELECT f.id,
        |        list_transform(range(1, len(f.embedding) + 1),
        |          i -> CASE WHEN f.embedding[i] > th.ts[i] THEN 1 ELSE 0 END) AS bits
        |      FROM fin f, th),
        |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |qb AS (SELECT list_transform(range(1, len(q.qv) + 1),
        |        i -> CASE WHEN q.qv[i] > th.ts[i] THEN 1 ELSE 0 END) AS bits FROM q, th)
        |SELECT b.id, CAST(list_sum(list_transform(range(1, len(b.bits) + 1),
        |    i -> CASE WHEN b.bits[i] <> qb.bits[i] THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
        |FROM b, qb ORDER BY hamming, b.id LIMIT 10""".stripMargin,
    // the CFLAT rung's fold: multi_vector_ivf's replay without the cell
    // column (the local rung reports id + score), same 8-dp rank polarity
    "local_refresh_fold_multi" -> {
      val w = """GREATEST(0, 100 - list_distance(f.v0::DOUBLE[], q0.qv::DOUBLE[])) * 0.6
                | + GREATEST(0, 100 - list_distance(f.v1::DOUBLE[], q1.qv::DOUBLE[])) * 0.4""".stripMargin
      s"""WITH emb AS (SELECT lpad(CAST(vec_id AS VARCHAR), 3, '0') AS id, vec_id,
         |    CAST(label AS BIGINT) AS label, embedding FROM embeddings),
         |mv AS (SELECT e1.id, e1.vec_id, e1.label, e1.embedding AS v0, e2.embedding AS v1
         |       FROM emb e1 JOIN emb e2 ON e2.vec_id = e1.vec_id + 1),
         |upd AS (SELECT id, vec_id, label + 100 AS label,
         |    list_reverse(v0) AS v0, list_reverse(v1) AS v1 FROM mv WHERE vec_id % 7 = 3),
         |merged AS (SELECT id, vec_id, label, v0, v1 FROM mv WHERE vec_id % 7 <> 3
         |           UNION ALL SELECT id, vec_id, label, v0, v1 FROM upd),
         |fin AS (SELECT * FROM merged WHERE label < 107),
         |cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
         |q0 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |q1 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1),
         |asg AS (SELECT id, cid FROM (
         |  SELECT f.id, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY f.id
         |      ORDER BY ROUND(list_distance(f.v0::DOUBLE[], c.cv::DOUBLE[]), 6), c.cid) AS rn
         |  FROM fin f, cents c) WHERE rn = 1),
         |probe AS (SELECT c.cid FROM cents c, q0
         |  ORDER BY ROUND(list_distance(c.cv::DOUBLE[], q0.qv::DOUBLE[]), 6), c.cid LIMIT 3)
         |SELECT f.id, ROUND($w, 4) AS score
         |FROM fin f JOIN asg a ON a.id = f.id, q0, q1
         |WHERE a.cid IN (SELECT cid FROM probe)
         |ORDER BY ROUND($w, 8) DESC, f.id LIMIT 10""".stripMargin
    },
    // head-fresh serving replays the SAME post-fold state — the row's
    // strength is in the QUERY side (the segment was published by a second
    // catalog instance and served over HTTP with no flush on the server)
    "local_head_fresh" ->
      """WITH emb AS (SELECT lpad(CAST(vec_id AS VARCHAR), 3, '0') AS id, vec_id,
        |    CAST(label AS BIGINT) AS label, embedding FROM embeddings),
        |cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
        |upd AS (SELECT id, vec_id, label + 100 AS label,
        |    list_reverse(embedding) AS embedding FROM emb WHERE vec_id % 7 = 3),
        |merged AS (SELECT id, vec_id, label, embedding FROM emb WHERE vec_id % 7 <> 3
        |           UNION ALL SELECT id, vec_id, label, embedding FROM upd),
        |fin AS (SELECT * FROM merged WHERE label < 107),
        |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |asg AS (SELECT id, cid FROM (
        |  SELECT f.id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY f.id
        |      ORDER BY ROUND(list_distance(f.embedding::DOUBLE[], c.cv::DOUBLE[]), 6), c.cid) AS rn
        |  FROM fin f, cents c) WHERE rn = 1),
        |probe AS (SELECT c.cid FROM cents c, q
        |  ORDER BY ROUND(list_distance(c.cv::DOUBLE[], q.qv::DOUBLE[]), 6), c.cid LIMIT 3)
        |SELECT f.id,
        |  ROUND(list_distance(f.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS dist
        |FROM fin f JOIN asg a ON a.id = f.id, q
        |WHERE a.cid IN (SELECT cid FROM probe)
        |ORDER BY dist, f.id LIMIT 10""".stripMargin,
    // the multi-vector IVF chain: seed centroids = v0 of the 8 id-smallest
    // rows, the folded state re-assigned by its CURRENT v0 (updated rows by
    // their reversed vector — what decorateSegment encoded at segment-write
    // time), probe = the 3 cells nearest the v0 query, ranking = the 60/40
    // weighted euclidean display score at 8dp with id tiebreak (the
    // searchMulti polarity), exactly searchMultiIvf's plan replayed in SQL
    "multi_vector_ivf" -> {
      val w = """GREATEST(0, 100 - list_distance(f.v0::DOUBLE[], q0.qv::DOUBLE[])) * 0.6
                | + GREATEST(0, 100 - list_distance(f.v1::DOUBLE[], q1.qv::DOUBLE[])) * 0.4""".stripMargin
      s"""WITH emb AS (SELECT lpad(CAST(vec_id AS VARCHAR), 3, '0') AS id, vec_id,
         |    CAST(label AS BIGINT) AS label, embedding FROM embeddings),
         |mv AS (SELECT e1.id, e1.vec_id, e1.label, e1.embedding AS v0, e2.embedding AS v1
         |       FROM emb e1 JOIN emb e2 ON e2.vec_id = e1.vec_id + 1),
         |upd AS (SELECT id, vec_id, label + 100 AS label,
         |    list_reverse(v0) AS v0, list_reverse(v1) AS v1 FROM mv WHERE vec_id % 7 = 3),
         |merged AS (SELECT id, vec_id, label, v0, v1 FROM mv WHERE vec_id % 7 <> 3
         |           UNION ALL SELECT id, vec_id, label, v0, v1 FROM upd),
         |fin AS (SELECT * FROM merged WHERE label < 107),
         |cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
         |q0 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |q1 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1),
         |asg AS (SELECT id, cid FROM (
         |  SELECT f.id, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY f.id
         |      ORDER BY ROUND(list_distance(f.v0::DOUBLE[], c.cv::DOUBLE[]), 6), c.cid) AS rn
         |  FROM fin f, cents c) WHERE rn = 1),
         |probe AS (SELECT c.cid FROM cents c, q0
         |  ORDER BY ROUND(list_distance(c.cv::DOUBLE[], q0.qv::DOUBLE[]), 6), c.cid LIMIT 3)
         |SELECT f.id, CAST(a.cid AS INTEGER) AS cell, ROUND($w, 4) AS score
         |FROM fin f JOIN asg a ON a.id = f.id, q0, q1
         |WHERE a.cid IN (SELECT cid FROM probe)
         |ORDER BY ROUND($w, 8) DESC, f.id LIMIT 10""".stripMargin
    },
    // the prepared multi probe must equal the plan-per-call replay: seed
    // cents, v0 assignment, 3-cell probe, 60/40 weighted rank (no fold —
    // the plain flushed layout)
    "prepared_multi_ivf" -> {
      val w = """GREATEST(0, 100 - list_distance(m.v0::DOUBLE[], q0.qv::DOUBLE[])) * 0.6
                | + GREATEST(0, 100 - list_distance(m.v1::DOUBLE[], q1.qv::DOUBLE[])) * 0.4""".stripMargin
      s"""WITH emb AS (SELECT lpad(CAST(vec_id AS VARCHAR), 3, '0') AS id, vec_id,
         |    embedding FROM embeddings),
         |mv AS (SELECT e1.id, e1.vec_id, e1.embedding AS v0, e2.embedding AS v1
         |       FROM emb e1 JOIN emb e2 ON e2.vec_id = e1.vec_id + 1),
         |cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
         |q0 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |q1 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1),
         |asg AS (SELECT id, cid FROM (
         |  SELECT m.id, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY m.id
         |      ORDER BY ROUND(list_distance(m.v0::DOUBLE[], c.cv::DOUBLE[]), 6), c.cid) AS rn
         |  FROM mv m, cents c) WHERE rn = 1),
         |probe AS (SELECT c.cid FROM cents c, q0
         |  ORDER BY ROUND(list_distance(c.cv::DOUBLE[], q0.qv::DOUBLE[]), 6), c.cid LIMIT 3)
         |SELECT m.id, CAST(a.cid AS INTEGER) AS cell, ROUND($w, 4) AS score
         |FROM mv m JOIN asg a ON a.id = m.id, q0, q1
         |WHERE a.cid IN (SELECT cid FROM probe)
         |ORDER BY ROUND($w, 8) DESC, m.id LIMIT 10""".stripMargin
    },
    // the multi-vector batch: per-qid probe (round6 + cid ties — the
    // top_cells kernel), weighted ranking, rn <= 5 per query
    "multi_batch_ivf" ->
      """WITH emb AS (SELECT lpad(CAST(vec_id AS VARCHAR), 3, '0') AS id, vec_id,
        |    embedding FROM embeddings),
        |mv AS (SELECT e1.id, e1.vec_id, e1.embedding AS v0, e2.embedding AS v1
        |       FROM emb e1 JOIN emb e2 ON e2.vec_id = e1.vec_id + 1),
        |cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
        |asg AS (SELECT id, cid FROM (
        |  SELECT m.id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY m.id
        |      ORDER BY ROUND(list_distance(m.v0::DOUBLE[], c.cv::DOUBLE[]), 6), c.cid) AS rn
        |  FROM mv m, cents c) WHERE rn = 1),
        |q AS (SELECT CAST(vec_id AS VARCHAR) AS qid, v0 AS q0, v1 AS q1
        |      FROM mv WHERE vec_id % 101 = 0),
        |probe AS (SELECT qid, cid FROM (
        |  SELECT q.qid, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY q.qid
        |      ORDER BY ROUND(list_distance(q.q0::DOUBLE[], c.cv::DOUBLE[]), 6), c.cid) AS rn
        |  FROM q, cents c) WHERE rn <= 3),
        |cand AS (SELECT q.qid, m.id,
        |    GREATEST(0, 100 - list_distance(m.v0::DOUBLE[], q.q0::DOUBLE[])) * 0.6
        |  + GREATEST(0, 100 - list_distance(m.v1::DOUBLE[], q.q1::DOUBLE[])) * 0.4 AS w
        |  FROM q JOIN probe p ON p.qid = q.qid
        |    JOIN asg a ON a.cid = p.cid
        |    JOIN mv m ON m.id = a.id),
        |r AS (SELECT qid, id, ROUND(w, 4) AS score,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ROUND(w, 8) DESC, id) AS rn
        |  FROM cand)
        |SELECT qid, id, score, CAST(rn AS INTEGER) AS rn
        |FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,
    "version_diff" ->
      """SELECT 'put' AS op, CAST(vec_id AS VARCHAR) AS id,
        |  CAST(label + 70 AS BIGINT) AS label
        |FROM embeddings WHERE vec_id % 6 = 0
        |UNION ALL
        |SELECT 'put' AS op, CAST(vec_id + 50000 AS VARCHAR) AS id,
        |  CAST(label + 500 AS BIGINT) AS label
        |FROM embeddings WHERE vec_id % 6 = 2
        |UNION ALL
        |SELECT 'del' AS op, CAST(vec_id AS VARCHAR) AS id, NULL AS label
        |FROM embeddings WHERE vec_id % 6 = 1
        |ORDER BY op, id""".stripMargin,
    "streaming_ingest_replay" ->
      """WITH base AS (SELECT vec_id, CAST(vec_id AS VARCHAR) AS id,
        |    CAST(label AS BIGINT) AS label, embedding FROM embeddings),
        |fin AS (SELECT id,
        |    CASE WHEN vec_id % 10 = 1 THEN 300
        |         WHEN vec_id % 5 = 0 THEN label + 50
        |         ELSE label END AS label,
        |    embedding
        |  FROM base
        |  WHERE NOT (vec_id % 5 = 1 AND vec_id % 10 <> 1)),
        |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT f.id, f.label,
        |  ROUND(list_distance(f.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS dist,
        |  ROUND(GREATEST(0, 100 - list_distance(f.embedding::DOUBLE[], q.qv::DOUBLE[])), 4) AS score
        |FROM fin f, q
        |ORDER BY dist, id LIMIT 10""".stripMargin,
    "core_collection_roundtrip" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT CAST(e.vec_id AS VARCHAR) AS _id, CAST(e.label AS VARCHAR) AS label,
        |  ROUND(list_distance(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS dist,
        |  ROUND(GREATEST(0, 100 - list_distance(e.embedding::DOUBLE[], q.qv::DOUBLE[])), 4) AS score
        |FROM embeddings e, q WHERE e.label >= 5
        |ORDER BY dist, _id LIMIT 10""".stripMargin,
    "snapshot_roundtrip_mv" -> {
      val w = """GREATEST(0, 100 - list_distance(mv.v0::DOUBLE[], q0.qv::DOUBLE[])) * 0.6
                | + GREATEST(0, 100 - list_distance(mv.v1::DOUBLE[], q1.qv::DOUBLE[])) * 0.4""".stripMargin
      s"""WITH q0 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |q1 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1),
         |mv AS (SELECT e1.vec_id, e1.embedding AS v0, e2.embedding AS v1
         |       FROM embeddings e1 JOIN embeddings e2 ON e2.vec_id = e1.vec_id + 1)
         |SELECT CAST(mv.vec_id AS VARCHAR) AS id, ROUND($w, 4) AS score
         |FROM mv, q0, q1
         |ORDER BY ROUND($w, 8) DESC, id
         |LIMIT 10""".stripMargin
    },
    // snapshot_roundtrip_mv's twin through the experimental blob: only the
    // id column name differs (the importer's synthesized `_key` pk)
    "coltt_import_mv_roundtrip" -> {
      val w = """GREATEST(0, 100 - list_distance(mv.v0::DOUBLE[], q0.qv::DOUBLE[])) * 0.6
                | + GREATEST(0, 100 - list_distance(mv.v1::DOUBLE[], q1.qv::DOUBLE[])) * 0.4""".stripMargin
      s"""WITH q0 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |q1 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1),
         |mv AS (SELECT e1.vec_id, e1.embedding AS v0, e2.embedding AS v1
         |       FROM embeddings e1 JOIN embeddings e2 ON e2.vec_id = e1.vec_id + 1)
         |SELECT CAST(mv.vec_id AS VARCHAR) AS _key, ROUND($w, 4) AS score
         |FROM mv, q0, q1
         |ORDER BY ROUND($w, 8) DESC, _key
         |LIMIT 10""".stripMargin
    },
    // the flushed IVF layout replayed in SQL: seed centroids are the 8
    // id-smallest rows (ivfTrainIterations=0), assignment is round6-argmin
    // with lowest-cid ties, probe is each query's 3 nearest cells, ranking
    // is (dist, id) per qid — same construction as the knn_join oracle but
    // THROUGH the collection API's flushed cell layout
    "catalog_batch_ivf" ->
      """WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
        |emb AS (SELECT lpad(CAST(vec_id AS VARCHAR), 3, '0') AS id, embedding FROM embeddings),
        |asg AS (SELECT id, cid FROM (
        |  SELECT e.id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.id
        |      ORDER BY ROUND(list_distance(e.embedding::DOUBLE[], c.cv::DOUBLE[]), 6), c.cid) AS rn
        |  FROM emb e, cents c) WHERE rn = 1),
        |q AS (SELECT CAST(vec_id AS VARCHAR) AS qid, embedding AS qv
        |      FROM embeddings WHERE vec_id % 101 = 0),
        |probe AS (SELECT qid, cid FROM (
        |  SELECT q.qid, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY q.qid
        |      ORDER BY ROUND(list_distance(q.qv::DOUBLE[], c.cv::DOUBLE[]), 6), c.cid) AS rn
        |  FROM q, cents c) WHERE rn <= 3),
        |cand AS (SELECT q.qid, e.id,
        |    ROUND(list_distance(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 6) AS dist
        |  FROM q JOIN probe p ON p.qid = q.qid
        |    JOIN asg a ON a.cid = p.cid
        |    JOIN emb e ON e.id = a.id),
        |r AS (SELECT qid, id, dist,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM cand)
        |SELECT qid, id, dist, CAST(rn AS INTEGER) AS rn
        |FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,
    // per-query exact top-5 recomputed independently (same construction as
    // ann_brute_topk, but THROUGH the collection API's flat fallback)
    "search_batch_flat" ->
      """WITH q AS (SELECT CAST(vec_id AS VARCHAR) AS qid, embedding AS qvec
        |           FROM embeddings WHERE vec_id < 3),
        |s AS (SELECT q.qid, CAST(e.vec_id AS VARCHAR) AS id,
        |    ROUND(list_distance(e.embedding::DOUBLE[], q.qvec::DOUBLE[]), 6) AS dist
        |  FROM embeddings e, q),
        |r AS (SELECT qid, id, dist,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, id) AS rn FROM s)
        |SELECT qid, id, dist, rn FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin
  )
}
