package graft.tools

import graft.LocalSession
import org.apache.spark.sql.functions._

/** VOTE-recall sweep for the label-propagation rungs (round-16): neighbor
  * recall (ANN_SWEEP.md) understates a voting operator's robustness — a
  * missed neighbor only matters when it FLIPS the majority. This tool
  * measures, per (planes, tables) tuning, the fraction of queries whose
  * [[graft.operators.Similarity.labelPropagateLsh]] prediction equals the
  * exact [[graft.operators.Similarity.labelPropagate]] prediction on the
  * same split (every 10th vector queries the labeled rest, k = 5 — the
  * q_knn_label convention), plus how many queries the bucket join loses
  * entirely (zero candidates → no row).
  *
  * Run: java -cp … graft.tools.LabelVoteSweep [sfDir]
  */
object LabelVoteSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = LocalSession(32)
    import spark.implicits._

    // `normalize` mode sweeps the UNIT-NORM regime (the intended
    // production shape, where dot ≡ cosine and the angular buckets rank
    // the same quantity the vote does) — the regime LshTuning.forVote's
    // collision-loss model is exact in
    val normalize = args.lift(1).contains("normalize")
    // `clustered` mode swaps in a synthetic corpus with REAL cluster
    // structure (200 families × 10 unit-jittered members, label =
    // family mod 7, top-k genuinely at cosine ≈ 0.99) — the regime
    // LshTuning.forVote's collision-loss model is stated for; the sfDir
    // corpus's weak clusters put true top-k far BELOW any tuning
    // threshold, where no table arithmetic is exact
    val clustered = args.lift(1).contains("clustered")
    val tuneTh = if (clustered) 0.9 else 0.7
    val emb0 =
      if (clustered) graft.Queries.clusteredLabelCorpus(spark)
      else spark.read.parquet(s"$sfDir/embeddings.parquet")
    val emb =
      if (!normalize) emb0
      else emb0.withColumn("embedding", expr(
        """transform(embedding, x -> CAST(x / sqrt(
             aggregate(embedding, CAST(0.0 AS DOUBLE),
               (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
           AS FLOAT))"""))
    val queries = emb.filter(col("vec_id") % 10 === 0)
    val seeds = emb.filter(col("vec_id") % 10 =!= 0)
    val brute = graft.operators.Similarity
      .labelPropagate(queries, seeds, "vec_id", "embedding", "label", k = 5)
      .as[(Long, Int, Long)].collect().map(r => r._1 -> r._2).toMap
    val nSeeds = seeds.count()
    val nPairs = brute.size.toLong * nSeeds
    println(s"corpus=$sfDir queries=${brute.size} seeds=$nSeeds k=5")
    // the two DERIVED tunings at this corpus: pair-recall tuning
    // (forCorpus — labelPropagateLsh's default) vs vote-target tuning
    // (forVote, the OPT-IN vote-target mode from r17; measurably wrong
    // out of its unit-norm clustered regime, so it never became the
    // default) — the sweep's job is to show the vote-tuned candidate
    // fraction drops while agreement stays in band
    val tCorpus = graft.operators.LshTuning.forCorpus(nSeeds, tuneTh)
    val tVote = graft.operators.LshTuning.forVote(nSeeds, tuneTh, k = 5)
    println(s"forCorpus default=(${tCorpus.planes},${tCorpus.tables}) " +
      s"forVote default=(${tVote.planes},${tVote.tables})")
    println("| planes | tables | vote agreement | candidate pairs | queries lost |")
    println("|---|---|---|---|---|")
    for ((p, t) <- (Seq((2, 4), (3, 8), (4, 8), (4, 16), (6, 16)) ++
        Seq((tCorpus.planes, tCorpus.tables),
            (tVote.planes, tVote.tables))).distinct) {
      val lsh = graft.operators.Similarity
        .labelPropagateLsh(queries, seeds, "vec_id", "embedding", "label",
          k = 5, planes = p, tables = t, seed = 42L)
        .as[(Long, Int, Long)].collect().map(r => r._1 -> r._2).toMap
      def codes(c: org.apache.spark.sql.Column) =
        graft.functions.LshBucketCodes.column(c, p, t, 42L)
      val cand = seeds.select(col("vec_id").as("sid"),
          explode(codes(col("embedding"))).as("__code"))
        .join(queries.select(col("vec_id").as("qid"),
          explode(codes(col("embedding"))).as("__code")), "__code")
        .select("qid", "sid").distinct().count()
      val agree = brute.count { case (q, l) => lsh.get(q).contains(l) }
      val lost = brute.size - lsh.size
      println(f"| $p | $t | $agree/${brute.size} (${100.0 * agree / brute.size}%.1f%%) " +
        f"| $cand%d (${100.0 * cand / nPairs}%.1f%% of Q·N) | $lost |")
    }
    spark.stop()
  }
}
