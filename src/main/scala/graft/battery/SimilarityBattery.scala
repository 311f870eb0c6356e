package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** One family section of the LLM-data-pipeline extension
  * battery (split out of ExtQueries.scala at round 19 — no
  * behavior change; see [[ExtQueries.all]] for the union).
  */
private[graft] object SimilarityBattery {
  import Queries.{Q, table}
  import BatteryUtil._

  // The hybrid rows' BM25 leg served from the persisted postings index.
  private def indexedBm25Leg(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val bmIdx = graft.operators.Search.bm25IndexFor(
      table(s, dir, "documents"), cacheKey = s"$dir/documents!bm25",
      "doc_id", "text")
    graft.operators.Search.bm25TopKIndexed(
      bmIdx, Seq("vector", "spark", "customer"), k = 20).select("id", "rank")
  }

  // RRF of the hybrid rows' BM25 leg with the dense top-k `dense`
  // (vec_id, cos), ranked by cosine.
  private def fuseWithDense(bm: org.apache.spark.sql.DataFrame,
                            dense: org.apache.spark.sql.DataFrame) = {
    val ann = dense
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
          .orderBy(col("cos").desc, col("vec_id"))).cast("long"))
      .select(col("vec_id").as("id"), col("rank"))
    graft.operators.Search.rrfFuse(Seq(bm, ann), "id", "rank", k = 10)
  }


  val queries: Seq[(String, Q)] = Seq(
    // Exact cosine top-10 for the vec_id=0 query vector.
    "q_sim_topk" -> Q(
      (s, dir) => {
        val (emb, q) = embeddingsAndQuery(s, dir)
        Similarity.bruteForceTopK(emb.filter(col("vec_id") =!= 0),
          "vec_id", "embedding", q, k = 10)
      },
      cosineTopKOracle),

    // HYBRID retrieval: reciprocal-rank fusion of the BM25 keyword
    // ranking and the embedding-cosine ranking for the same information
    // need — no score calibration, pure rank arithmetic (SIGIR'09 RRF).
    // Both branch ranks are integer sufficient stats; the fused score is
    // rational arithmetic summed in fixed list order, so DuckDB
    // reproduces the exact bits (see Search.rrfFuse scaladoc).
    "q_hybrid_rrf" -> Q(
      (s, dir) => {
        val bm = graft.operators.Search.bm25TopK(
          table(s, dir, "documents"), "doc_id", "text",
          Seq("vector", "spark", "customer"), k = 20).select("id", "rank")
        val (emb, qv) = embeddingsAndQuery(s, dir)
        fuseWithDense(bm, Similarity.bruteForceTopK(emb.filter(col("vec_id") =!= 0),
          "vec_id", "embedding", qv, k = 20))
      },
      hybridRrfOracleSql),

    // The PRODUCTION hybrid path — both retriever legs served from
    // persisted indexes, no corpus re-scan on either: BM25 from the
    // postings/lengths tables ([[Search.bm25IndexFor]], ≤|Q| postings
    // rows move) and the dense leg from the density-scaled partitioned
    // IVF index ([[Similarity.ivfIndexFor]], nClusters = 0 → ≈√n).
    // nprobe covers every cluster, so the dense RESULT equals the exact
    // cosine ranking and the fusion shares q_hybrid_rrf's bit-exact SQL
    // oracle — what this row gates is the physical path the 100 TB
    // deployment runs (q_hybrid_rrf keeps the scan-legged exact anchor;
    // pruned-nprobe hybrid recall is quantified in ANN_SWEEP.md).
    "q_hybrid_rrf_ann" -> Q(
      (s, dir) => {
        val bm = indexedBm25Leg(s, dir)
        val (emb, qv) = embeddingsAndQuery(s, dir)
        val ivf = Similarity.ivfIndexFor(emb.filter(col("vec_id") =!= 0),
          cacheKey = s"$dir/embeddings!vec_id!tuned",
          "vec_id", "embedding", nClusters = 0)
        fuseWithDense(bm, Similarity.ivfTopK(ivf, "vec_id", "embedding", qv,
          k = 20, nprobe = ivf.centroids.length))
      },
      hybridRrfOracleSql),

    // The PRUNED-nprobe hybrid twin — the plan the 100 TB deployment
    // actually runs: the dense leg probes a FRACTION of the IVF clusters
    // (nprobe = 4 of 16 at the gate, centroids/4 at bench SFs) instead of
    // q_hybrid_rrf_ann's oracle-exact all-cluster probe. Gated the
    // q_ann_ivf way: at sf0.01 the dense leg serves from the COMMITTED
    // seeded index fixture and the golden driver-loop recomputation
    // re-derives BM25 ranks + the same-nprobe probe + the exact rrf
    // arithmetic. Pruned-probe recall is quantified in ANN_SWEEP.md.
    "q_hybrid_rrf_ann_pruned" -> Q(
      (s, dir) => {
        val bm = indexedBm25Leg(s, dir)
        val (emb, qv) = embeddingsAndQuery(s, dir)
        val (ivf, np) =
          if (dir.endsWith("sf0.01"))
            (Similarity.loadIvf(s, "/root/repo/src/test/resources/golden/ivf_index"), 4)
          else {
            val i = Similarity.ivfIndexFor(emb.filter(col("vec_id") =!= 0),
              cacheKey = s"$dir/embeddings!vec_id!tuned",
              "vec_id", "embedding", nClusters = 0)
            (i, math.max(1, i.centroids.length / 4))
          }
        fuseWithDense(bm, Similarity.ivfTopK(ivf, "vec_id", "embedding", qv,
          k = 20, nprobe = np))
      },
      golden("q_hybrid_rrf_ann_pruned")),

    // LSH-bucketed approximate top-k — approximate wrt exact top-k (recall
    // quantified in ANN_SWEEP.md) but deterministic given the seeds: the
    // golden driver-loop recomputation exact-checks the in-scan
    // arrays_overlap candidate filter + TakeOrdered path.
    "q_ann_lsh" -> Q(
      (s, dir) => {
        val (emb, q) = embeddingsAndQuery(s, dir)
        Similarity.lshTopK(emb.filter(col("vec_id") =!= 0),
          "vec_id", "embedding", q, k = 10, planes = 4, tables = 8)
      },
      golden("q_ann_lsh")),

    // IVF (k-means inverted file) approximate top-k. The index is built
    // ONCE per dataset (offline in production; memoized +
    // cluster-partitioned on disk here), so this measures PROBE latency:
    // centroid ranking + a partition-pruned scan of nprobe clusters. At
    // the correctness SF the probe runs against the COMMITTED seeded index
    // fixture (the k-means fit is the one non-replayable step), gated by
    // the golden driver-loop recomputation over that same index; at bench
    // SFs the index builds once per JVM via the memoized production path.
    "q_ann_ivf" -> Q(
      (s, dir) => {
        val (emb, q) = embeddingsAndQuery(s, dir)
        val idx = ivf16(s, dir, emb.filter(col("vec_id") =!= 0))
        Similarity.ivfTopK(idx, "vec_id", "embedding", q, k = 10, nprobe = 4)
      },
      golden("q_ann_ivf")),

    // IVF with the DENSITY-SCALED sizing default (nClusters = 0 →
    // ivfClustersForCorpus's ≈√n rule — the LshTuning move applied to
    // IVF): the index builds once per JVM through the memoized production
    // path with the DERIVED k, recorded in the memo key/path. The probe
    // sets nprobe to every cluster, which makes IVF EXACTLY the
    // brute-force ranking — an exact SQL oracle gating the derived-k
    // fit + partitioned-index + probe machinery end-to-end (the
    // pruned-probe approximation itself is q_ann_ivf's golden-gated
    // territory; recall at the derived k is in ANN_SWEEP.md).
    "q_ann_ivf_tuned" -> Q(
      (s, dir) => {
        val (emb, q) = embeddingsAndQuery(s, dir)
        val idx = Similarity.ivfIndexFor(emb.filter(col("vec_id") =!= 0),
          cacheKey = s"$dir/embeddings!vec_id!tuned",
          "vec_id", "embedding", nClusters = 0)
        Similarity.ivfTopK(idx, "vec_id", "embedding", q, k = 10,
          nprobe = idx.centroids.length)
      },
      cosineTopKOracle),

    // The same probe served from the STREAMING-MAINTAINED IVF index
    // (AnnStreams — the ANN twin of q_bm25_stream): the corpus arrives as
    // three micro-batch deltas, each assigned to the FIXED committed
    // centroids by the exact nearest-centroid expression and appended as
    // a (__batch_id, __cluster)-partitioned delta; the probe scans only
    // the nprobe nearest clusters' partitions across all batches. Shares
    // q_ann_ivf's golden fixture: the loop's expression assignment
    // reproduces the committed k-means assignment exactly
    // (AnnStreamsSpec pins 499/499, no ties), so the delta-served top-10
    // must be bit-equal to the offline probe.
    "q_ann_ivf_stream" -> Q(
      (s, dir) => {
        val (emb, q) = embeddingsAndQuery(s, dir)
        val corpus = emb.filter(col("vec_id") =!= 0)
        val centroids = ivf16(s, dir, corpus).centroids
        val base = Queries.tempDir("graft_anns")
        val path = s"$base/assigned"
        ivfBatches(corpus, centroids, path, 3)
        graft.streaming.AnnStreams.ivfTopKStreamed(s, path, centroids,
          "vec_id", "embedding", q, k = 10, nprobe = 4)
      },
      golden("q_ann_ivf")),
  )
}
