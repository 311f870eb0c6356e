package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** One family section of the LLM-data-pipeline extension
  * battery (split out of ExtQueries.scala at round 19 — no
  * behavior change; see [[ExtQueries.all]] for the union).
  */
private[graft] object PqBattery {
  import Queries.{Q, table}
  import BatteryUtil._

  // "fix" for the committed sf0.01 artifacts, "built" for memoized builds
  private def fixtureTag(dir: String) =
    if (dir.endsWith("sf0.01")) "fix" else "built"

  // The PQ codebook of the vec_id <> 0 corpus: committed at sf0.01 (the
  // per-subspace k-means fits are non-replayable), else built once per JVM.
  private def pqCodebook(s: org.apache.spark.sql.SparkSession, dir: String,
                         corpus: => org.apache.spark.sql.DataFrame) =
    if (dir.endsWith("sf0.01"))
      Similarity.loadPqCodebook(s, goldenPath("pq_codebook"))
    else Similarity.pqCodebookFor(corpus,
      cacheKey = s"$dir/embeddings!pq!8!16", "embedding")

  // The composed IVF-PQ tier's index, codebook and cluster-partitioned
  // code table, memoized per (dir, artifact source).
  private def ivfPqCodes(s: org.apache.spark.sql.SparkSession, dir: String,
                         corpus: org.apache.spark.sql.DataFrame) = {
    val idx = ivf16(s, dir, corpus)
    val cb = pqCodebook(s, dir, corpus)
    (idx, cb, Similarity.ivfPqEncodedFor(idx, cb,
      cacheKey = s"$dir/embeddings!ivfpq!${fixtureTag(dir)}", "vec_id", "embedding"))
  }


  val queries: Seq[(String, Q)] = Seq(
    // PRODUCT-QUANTIZATION ADC top-k: 64-dim floats → 8 byte-codes
    // against a committed per-subspace codebook (the k-means fits are the
    // non-replayable step, exactly like q_ann_ivf); the gate checks the
    // distributed encode + asymmetric-distance scan against a driver-loop
    // recomputation over the same codebook. At bench SFs the codebook
    // builds once per JVM via the memoized offline path.
    "q_ann_pq" -> Q(
      (s, dir) => {
        val (emb, q) = embeddingsAndQuery(s, dir)
        val cb = pqCodebook(s, dir, emb.filter(col("vec_id") =!= 0))
        Similarity.pqTopK(
          Similarity.pqEncodedFor(emb.filter(col("vec_id") =!= 0),
            cacheKey = s"$dir/embeddings!pqenc!${fixtureTag(dir)}", "vec_id",
            "embedding", cb),
          q, cb, k = 10)
      },
      golden("q_ann_pq")),

    // INT8 scalar quantization top-k: per-vector max-abs scaling to
    // array<tinyint> (4× smaller scan than float32), integer dot-product
    // ranking — exact 64-bit arithmetic, so unlike the float ANN rows the
    // FULL pipeline (quantize + score + rank) recomputes bit-identically
    // in plain SQL: no golden fixture, no committed artifact, the oracle
    // rebuilds everything from the same fixed-order double arithmetic.
    "q_ann_int8" -> Q(
      (s, dir) => {
        val (emb, q) = embeddingsAndQuery(s, dir)
        Similarity.int8TopK(
          Similarity.int8TableFor(emb.filter(col("vec_id") =!= 0),
            cacheKey = s"$dir/embeddings!int8", "vec_id", "embedding"),
          q, k = 10)
      },
      Some(int8ScoreCtes + """
        SELECT vec_id AS id, iscore FROM s
        ORDER BY iscore DESC, vec_id LIMIT 10""")),

    // The production int8 read: byte-scan shortlist (50) + exact cosine
    // rerank of the final 10 over the stored float vectors — the PQ-rerank
    // contract at the int8 rung. The oracle chains the integer shortlist
    // CTEs into the exact q_sim_topk cosine formulation.
    "q_ann_int8_rerank" -> Q(
      (s, dir) => {
        val (emb, q) = embeddingsAndQuery(s, dir)
        val corpus = emb.filter(col("vec_id") =!= 0)
        Similarity.int8TopKRerank(
          Similarity.int8TableFor(corpus,
            cacheKey = s"$dir/embeddings!int8", "vec_id", "embedding"),
          corpus, "vec_id", "embedding", q, k = 10, shortlist = 50)
      },
      Some(int8ScoreCtes + """,
        short AS (SELECT vec_id FROM s ORDER BY iscore DESC, vec_id LIMIT 50)
        SELECT t.vec_id,
          list_cosine_similarity(t.v,
            (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) AS cos
        FROM t JOIN short USING (vec_id)
        ORDER BY cos DESC, t.vec_id LIMIT 10""")),

    // COMPOSED IVF-PQ — the billion-scale production tier (FAISS
    // IndexIVFPQ shape): PQ codes stored INSIDE the cluster-partitioned
    // IVF layout, so a probe reads nprobe/nlist of the corpus at m bytes
    // per vector — both pruning axes at once. At the gate SF both parents
    // are the COMMITTED fixtures (seeded k-means fits are the
    // non-replayable steps), and the golden driver-loop recomputation
    // re-derives probe set + per-candidate encode + ADC ranking over
    // those same artifacts; at bench SFs index/codebook/codes all build
    // once per JVM via the memoized offline paths.
    "q_ann_ivfpq" -> Q(
      (s, dir) => {
        val (emb, q) = embeddingsAndQuery(s, dir)
        val corpus = emb.filter(col("vec_id") =!= 0)
        val (idx, cb, codes) = ivfPqCodes(s, dir, corpus)
        Similarity.ivfPqTopK(idx.centroids, codes, q, cb, k = 10, nprobe = 4)
      },
      golden("q_ann_ivfpq")),

    // IVF-PQ shortlist + exact float rerank — the full production query:
    // pruned byte scan ranks 50 candidates from codes alone, exact cosine
    // re-ranks the final 10 over the stored vectors (the int8/PQ rerank
    // contract at the composed tier). Same committed artifacts; the
    // golden recomputation reranks the same driver-derived shortlist.
    "q_ann_ivfpq_rerank" -> Q(
      (s, dir) => {
        val (emb, q) = embeddingsAndQuery(s, dir)
        val corpus = emb.filter(col("vec_id") =!= 0)
        val (idx, cb, codes) = ivfPqCodes(s, dir, corpus)
        Similarity.ivfPqTopKRerank(idx.centroids, codes, corpus,
          "vec_id", "embedding", q, cb, k = 10, nprobe = 4, shortlist = 50)
      },
      golden("q_ann_ivfpq_rerank")),

    // The composed tier served from the STREAMING-MAINTAINED code table
    // (AnnStreams.ingestIvfPq — vectors assigned AND PQ-encoded at
    // ingest by the native kernels, serving never touches a float):
    // three micro-batch deltas in the offline artifact's exact
    // (id, code, __cluster) layout, ADC probe over the pruned cluster
    // partitions. Shares q_ann_ivfpq's golden: assignment parity is
    // pinned 499/499 and the streamed encode is the same kernel as the
    // offline table, so the delta-served top-10 must be bit-equal.
    "q_ann_ivfpq_stream" -> Q(
      (s, dir) => {
        val (emb, q) = embeddingsAndQuery(s, dir)
        val corpus = emb.filter(col("vec_id") =!= 0)
        val centroids = ivf16(s, dir, corpus).centroids
        val cb = pqCodebook(s, dir, corpus)
        val base = Queries.tempDir("graft_annpqs")
        val path = s"$base/codes"
        (0 until 3).foreach { i =>
          graft.streaming.AnnStreams.processIvfPqBatch(
            corpus.filter(col("vec_id") % 3 === i), i.toLong,
            "vec_id", "embedding", centroids, cb, path)
        }
        graft.streaming.AnnStreams.ivfPqTopKStreamed(s, path, centroids,
          q, cb, k = 10, nprobe = 4)
      },
      golden("q_ann_ivfpq")),

    // The REFIT DECISION report over the streamed IVF index: per-cluster
    // assignment-mix drift of the most recent micro-batch vs all earlier
    // ones (ivfOccupancy composed with the categorical drift monitor —
    // the alert that schedules the offline re-fit). At the gate the
    // streamed assignments equal the committed k-means assignment
    // (pinned 499/499), so the oracle recomputes the whole report from
    // the committed assigned table split by the same batch rule.
    "q_ann_refit" -> Q(
      (s, dir) => {
        val corpus = table(s, dir, "embeddings").filter(col("vec_id") =!= 0)
        val centroids = ivf16(s, dir, corpus).centroids
        val base = Queries.tempDir("graft_refit")
        val path = s"$base/assigned"
        ivfBatches(corpus, centroids, path, 3)
        graft.streaming.AnnStreams.refitSignal(s, path, recentBatches = 1)
      },
      Some(s"""
        WITH asg AS (SELECT vec_id, CAST(__cluster AS INT) AS cluster
                     FROM read_parquet(
                       '/root/repo/src/test/resources/golden/ivf_index/assigned/*/*.parquet',
                       hive_partitioning=1)),
        a AS (SELECT cluster, CAST(count(*) AS BIGINT) AS c FROM asg
              WHERE vec_id % 3 < 2 GROUP BY 1),
        b AS (SELECT cluster, CAST(count(*) AS BIGINT) AS c FROM asg
              WHERE vec_id % 3 = 2 GROUP BY 1),
        ta AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM a),
        tb AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM b)${
          driftSelectSql("cluster", "a", "b")}""")),
  )
}
