package graft.tools

import graft.LocalSession
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Quantifies the SemDeDup approximation (Abbas et al. 2023): the policy
  * only examines near-dup pairs INSIDE a k-means cluster, so true pairs
  * whose endpoints land in different clusters are structurally missed.
  * This sweep measures that miss rate on the test corpus — exact
  * brute-force cosine pairs as ground truth vs the within-cluster pair
  * set, per nClusters and threshold — the same
  * measured-not-assumed treatment ANN_SWEEP.md gives the LSH/IVF tiers.
  * Output is the markdown for SEMDEDUP.md.
  *
  * Run: sbt 'runMain graft.tools.SemDedupSweep [sfDir]'
  */
object SemDedupSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = LocalSession(32)

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
    val n = emb.count()
    println(s"## SemDeDup cross-cluster miss rate (n=$n vectors, sf=$sfDir)")
    println()
    println("Ground truth: exact all-pairs cosine (the q_embed_neardup anchor).")
    println("pair recall = |within-cluster true pairs| / |all true pairs|;")
    println("survivor agreement = fraction of corpus whose keep/drop decision")
    println("matches the exact policy's.")
    println()
    println("| threshold | nClusters | true pairs | pair recall | survivor agreement |")
    println("|---|---|---|---|---|")
    for (threshold <- Seq(0.45, 0.6, 0.8)) {
      val exactPairs = Dedup.embeddingPairs(emb, "vec_id", "embedding", threshold)
        .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exactSurvivors = survivors(exactPairs)
      for (nClusters <- Seq(4, 8, 16, 32, 64)) {
        val idx = Similarity.ivfIndexFor(emb,
          cacheKey = s"$sfDir/embeddings!semsweep", "vec_id", "embedding", nClusters)
        val within = idx.assigned.alias("a")
          .join(idx.assigned.alias("b"), "__cluster")
          .filter(col("a.vec_id") < col("b.vec_id"))
          .filter(graft.functions.VectorFunctions.cosine(
            col("a.embedding"), col("b.embedding")) >= threshold)
          .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val recall =
          if (exactPairs.isEmpty) 1.0
          else within.intersect(exactPairs).size.toDouble / exactPairs.size
        val semSurvivors = survivors(within)
        val agree = {
          val all = emb.select("vec_id").collect().map(_.getLong(0)).toSet
          all.count(id => exactSurvivors(id) == semSurvivors(id)).toDouble / all.size
        }
        println(f"| $threshold | $nClusters | ${exactPairs.size} | $recall%.3f | $agree%.3f |")
      }
    }
    spark.stop()
  }

  /** Driver-side restatement of dropNearDuplicates' keep rule (smaller id
    * survives; a doc drops if ANY kept smaller neighbor links to it) —
    * greedy over sorted ids, identical to the operator's min-reachable
    * semantics on pair sets.
    */
  private def survivors(pairs: Set[(Long, Long)]): Long => Boolean = {
    val larger = pairs.map(_._2)
    id => !larger.contains(id)
  }
}
