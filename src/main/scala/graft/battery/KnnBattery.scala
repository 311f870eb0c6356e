package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** One family section of the LLM-data-pipeline extension
  * battery (split out of ExtQueries.scala at round 19 — no
  * behavior change; see [[ExtQueries.all]] for the union).
  */
private[graft] object KnnBattery {
  import Queries.{Q, table}
  import BatteryUtil._


  val queries: Seq[(String, Q)] = Seq(
    // Batch kNN JOIN, exact: every query vector (vec_id % 50 = 0) gets its
    // 5 nearest corpus vectors. Queries broadcast; the corpus side never
    // shuffles; per-query top-k collapses map-side in the bounded heap.
    // Oracle: the naive cross join + row_number window.
    "q_knn_join" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        Similarity.knnJoin(
          emb.filter(col("vec_id") % 50 === 0),
          emb.filter(col("vec_id") % 50 =!= 0),
          "vec_id", "embedding", k = 5)
      },
      Some("""
        WITH pairs AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
              CAST(c.embedding AS DOUBLE[])) AS cos
          FROM embeddings q, embeddings c
          WHERE q.vec_id % 50 = 0 AND c.vec_id % 50 <> 0)
        SELECT query_id, neighbor_id, cos, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id) AS rank
          FROM pairs) t
        WHERE rank <= 5""")),

    // LSH-blocked kNN join — the production path (banded equi-join on
    // exploded bucket codes, ids-only pair distinct, exact rerank).
    // Approximate wrt exact kNN but DETERMINISTIC given the seeded planes,
    // so the golden driver-loop recomputation (bucket overlap + sequential
    // cosine + per-query sort) exact-checks the distributed machinery.
    "q_knn_join_lsh" -> Q(
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        Similarity.knnJoinLsh(
          emb.filter(col("vec_id") % 50 === 0),
          emb.filter(col("vec_id") % 50 =!= 0),
          "vec_id", "embedding", k = 5, planes = 3, tables = 8)
      },
      golden("q_knn_join_lsh")),

    // SEMANTIC DEDUP (SemDeDup policy): within-cluster embedding near-dup
    // removal over the IVF assignments — pair generation is one self
    // equi-join on the cluster key (partition-local in the index layout),
    // exact cosine verify, smaller id survives. Cross-cluster pairs are
    // deliberately out of scope (the policy's documented approximation).
    "q_semantic_dedup" -> Q(
      (s, dir) => {
        val idx = ivf16(s, dir,
          table(s, dir, "embeddings").filter(col("vec_id") =!= 0))
        Dedup.semanticDedup(idx.assigned, "vec_id", "embedding", threshold = 0.45)
          .select(col("vec_id"), col("__cluster").cast("int").as("cluster"))
      },
      Some("""
        WITH a AS (SELECT CAST(__cluster AS INT) AS c, vec_id,
                     CAST(embedding AS DOUBLE[]) AS e
                   FROM read_parquet(
                     '/root/repo/src/test/resources/golden/ivf_index/assigned/*/*.parquet',
                     hive_partitioning=1)),
        p AS (SELECT y.vec_id AS i2 FROM a x JOIN a y
                ON x.c = y.c AND x.vec_id < y.vec_id
              WHERE list_cosine_similarity(x.e, y.e) >= 0.45)
        SELECT vec_id, c AS cluster FROM a
        WHERE vec_id NOT IN (SELECT DISTINCT i2 FROM p)""")),

    // CLUSTER-BALANCED sampling: exact-5 per IVF cluster in deterministic
    // hash order — the "semantic diversity" selection stage (per-cluster
    // quotas instead of frequency-weighted sampling). Reuses the committed
    // IVF fixture at the gate SF (the memoized production index at bench
    // SFs) and the bounded-heap stratified sampler — no new machinery,
    // which is the point: diversity sampling IS stratification over the
    // clustering.
    "q_cluster_sample" -> Q(
      (s, dir) => {
        val idx = ivf16(s, dir,
          table(s, dir, "embeddings").filter(col("vec_id") =!= 0))
        graft.operators.Sampling.stratifiedExactN(
          idx.assigned.select(col("__cluster").cast("int").as("cluster"), col("vec_id")),
          Seq("cluster"), n = 5,
          orderBy = Seq(md5(col("vec_id").cast("string")), col("vec_id")))
      },
      Some("""
        SELECT CAST(__cluster AS INT) AS cluster, vec_id FROM (
          SELECT *, row_number() OVER (PARTITION BY __cluster
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) rn
          FROM read_parquet(
            '/root/repo/src/test/resources/golden/ivf_index/assigned/*/*.parquet',
            hive_partitioning=1)) t
        WHERE rn <= 5""")),
  )
}
