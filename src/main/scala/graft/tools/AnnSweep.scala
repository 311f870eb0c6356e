package graft.tools

import graft.LocalSession
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Recall/latency sweep for the approximate ANN tier (LSH planes×tables,
  * IVF nprobe) against exact brute-force ground truth — quantifies the
  * approximation the rows-only battery queries (q_ann_lsh, q_ann_ivf,
  * q_embed_neardup_lsh) accept. Output is the markdown for ANN_SWEEP.md.
  *
  * Run: sbt 'runMain graft.tools.AnnSweep [sfDir] [nQueries]'
  */
object AnnSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nQueries = args.lift(1).map(_.toInt).getOrElse(15)
    val k = 10
    val spark = LocalSession(32)

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
    val n = emb.count()
    val vecIdx = emb.columns.indexOf("embedding")
    val queries = emb.filter(col("vec_id") < nQueries)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](vecIdx)).toMap

    def topIds(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSeq

    // exact ground truth per query (query vector excluded from candidates)
    val truth = queries.map { case (qid, qv) =>
      qid -> topIds(Similarity.bruteForceTopK(
        emb.filter(col("vec_id") =!= qid), "vec_id", "embedding", qv, k)).toSet
    }
    // brute-force latency baseline
    val bfLat = median(queries.toSeq.map { case (qid, qv) =>
      timed(topIds(Similarity.bruteForceTopK(
        emb.filter(col("vec_id") =!= qid), "vec_id", "embedding", qv, k)))._2
    })

    println(s"## LSH sweep (n=$n vectors, $nQueries queries, recall@$k, sf=$sfDir)")
    println(s"\nBrute-force exact baseline: ${ms(bfLat)} / query\n")
    println("| planes | tables | recall@10 | median latency | mean candidates |")
    println("|---|---|---|---|---|")
    for (planes <- Seq(3, 4, 6, 8); tables <- Seq(2, 4, 8)) {
      val runs = queries.toSeq.map { case (qid, qv) =>
        val base = emb.filter(col("vec_id") =!= qid)
        val (ids, t) = timed(topIds(
          Similarity.lshTopK(base, "vec_id", "embedding", qv, k, planes, tables)))
        val cand = base.filter(arrays_overlap(
          graft.functions.LshBucketCodes.column(col("embedding"), planes, tables, 42L),
          typedLit(Similarity.queryBucketCodes(qv, planes, tables, 42L)))).count()
        (recall(ids, truth(qid)), t, cand)
      }
      val r = runs.map(_._1).sum / runs.size
      val lat = median(runs.map(_._2))
      val cands = runs.map(_._3).sum / runs.size
      println(f"| $planes | $tables | $r%.2f | ${ms(lat)} | $cands (${100.0 * cands / n}%.1f%%) |")
    }

    println("\n## IVF sweep (nClusters=16)\n")
    println("| nprobe | recall@10 | median latency | scanned fraction |")
    println("|---|---|---|---|")
    val idx = Similarity.ivfIndexFor(emb.filter(col("vec_id") >= 0),
      cacheKey = s"$sfDir/embeddings!sweep!16", "vec_id", "embedding", nClusters = 16)
    for (nprobe <- Seq(1, 2, 4, 8, 16)) {
      val runs = queries.toSeq.map { case (qid, qv) =>
        val pruned = Similarity.IvfIndex(
          idx.assigned.filter(col("vec_id") =!= qid), idx.centroids)
        val (ids, t) = timed(topIds(
          Similarity.ivfTopK(pruned, "vec_id", "embedding", qv, k, nprobe)))
        (recall(ids, truth(qid)), t)
      }
      val r = runs.map(_._1).sum / runs.size
      println(f"| $nprobe | $r%.2f | ${ms(median(runs.map(_._2)))} | ${nprobe / 16.0}%.2f |")
    }

    // density-scaled sizing (nClusters = 0 → ivfClustersForCorpus ≈ √n):
    // the production default's recall/latency at this corpus density
    val kDerived = Similarity.ivfClustersForCorpus(n)
    println(s"\n## IVF sweep, density-scaled k (nClusters=0 -> k=$kDerived for n=$n)\n")
    println("| nprobe | recall@10 | median latency | scanned fraction |")
    println("|---|---|---|---|")
    val idxT = Similarity.ivfIndexFor(emb.filter(col("vec_id") >= 0),
      cacheKey = s"$sfDir/embeddings!sweep!tuned", "vec_id", "embedding",
      nClusters = 0)
    for (nprobe <- Seq(1, 2, 4, 8, kDerived / 2, kDerived).distinct.filter(_ >= 1)) {
      val runs = queries.toSeq.map { case (qid, qv) =>
        val pruned = Similarity.IvfIndex(
          idxT.assigned.filter(col("vec_id") =!= qid), idxT.centroids)
        val (ids, t) = timed(topIds(
          Similarity.ivfTopK(pruned, "vec_id", "embedding", qv, k, nprobe)))
        (recall(ids, truth(qid)), t)
      }
      val r = runs.map(_._1).sum / runs.size
      println(f"| $nprobe | $r%.2f | ${ms(median(runs.map(_._2)))} | ${nprobe.toDouble / kDerived}%.2f |")
    }

    // hybrid RRF with a PRUNED dense leg vs the exact hybrid: how much of
    // the fused top-10 survives when the ANN leg probes a cluster subset
    // (the q_hybrid_rrf_ann battery row is the nprobe=all exact gate; at
    // scale the dense leg prunes, and fusion dampens its recall loss
    // because the BM25 leg is unaffected)
    println(s"\n## Hybrid RRF, pruned dense leg (BM25 leg fixed, k=10 fusion)\n")
    println("| dense nprobe | fused-top10 overlap vs exact hybrid |")
    println("|---|---|")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bmIdx = graft.operators.Search.bm25IndexFor(docs,
      cacheKey = s"$sfDir/documents!sweep-bm25", "doc_id", "text")
    val bm = graft.operators.Search.bm25TopKIndexed(
      bmIdx, Seq("vector", "spark", "customer"), k = 20).select("id", "rank")
    val qv0 = queries(0L)
    def denseLeg(nprobe: Int) =
      Similarity.ivfTopK(Similarity.IvfIndex(
          idxT.assigned.filter(col("vec_id") =!= 0L), idxT.centroids),
        "vec_id", "embedding", qv0, 20, nprobe)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
            .orderBy(col("cos").desc, col("vec_id"))).cast("long"))
        .select(col("vec_id").as("id"), col("rank"))
    def fusedIds(nprobe: Int): Seq[Long] =
      graft.operators.Search.rrfFuse(Seq(bm, denseLeg(nprobe)), "id", "rank", 10)
        .select("id").collect().map(_.getLong(0)).toSeq
    val exactFused = fusedIds(kDerived).toSet
    for (nprobe <- Seq(2, 4, 8, kDerived / 2).distinct) {
      val got = fusedIds(nprobe)
      println(f"| $nprobe/$kDerived | ${got.count(exactFused) / 10.0}%.2f |")
    }
    spark.stop()
  }

  private def recall(got: Seq[Long], truth: Set[Long]): Double =
    got.count(truth).toDouble / truth.size

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }
  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
  private def ms(s: Double): String = f"${s * 1000}%.0f ms"
}
