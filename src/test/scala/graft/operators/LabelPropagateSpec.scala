package graft.operators

import graft.SparkSpec

class LabelPropagateSpec extends SparkSpec {
  import spark.implicits._

  // deterministic synthetic embeddings (seeded per id), labeled by seed id
  private def vec(i: Long): Seq[Float] = {
    val rnd = new scala.util.Random(i * 6151 + 29)
    Seq.fill(16)(rnd.nextFloat() * 2f - 1f)
  }
  private lazy val emb = (0L until 90L)
    .map(i => (i, vec(i), (i % 4).toInt))
    .toDF("vec_id", "embedding", "label").repartition(5)
  private lazy val queries = emb.filter($"vec_id" % 30 === 0) // 3 queries
  private lazy val seeds = emb.filter($"vec_id" % 30 =!= 0)

  private def qdot(a: Seq[Float], b: Seq[Float]): Long =
    a.zip(b).map { case (x, y) =>
      math.round(x.toDouble * 10000) * math.round(y.toDouble * 10000)
    }.sum

  test("labelPropagate == driver-reference vote over exact quantized dots") {
    val got = Similarity
      .labelPropagate(queries, seeds, "vec_id", "embedding", "label", k = 5)
      .as[(Long, Int, Long)].collect().sortBy(_._1).toSeq
    val sd = seeds.as[(Long, Seq[Float], Int)].collect()
    val expected = queries.as[(Long, Seq[Float], Int)].collect().map {
      case (qid, qv, _) =>
        val top = sd.map { case (sid, sv, l) => (sid, l, qdot(qv, sv)) }
          .sortBy { case (sid, _, d) => (-d, sid) }.take(5)
        val (label, votes) = top.groupBy(_._2).view.mapValues(_.length).toSeq
          .sortBy { case (l, n) => (-n, l) }.head
        (qid, label, votes.toLong)
    }.sortBy(_._1).toSeq
    assert(got == expected && got.nonEmpty)
  }

  test("vote ties break to the smallest label; rank ties to the smallest seed id") {
    val q = Seq((0L, Seq(1f, 0f, 0f, 0f), -1)).toDF("vec_id", "embedding", "label")
    // the 4 nearest split votes 2/2 across labels 3 and 1 -> label 1 wins
    val s = Seq(
      (1L, Seq(0.9f, 0f, 0f, 0f), 3), (2L, Seq(0.9f, 0f, 0f, 0f), 3),
      (3L, Seq(0.8f, 0f, 0f, 0f), 1), (4L, Seq(0.8f, 0f, 0f, 0f), 1),
      (5L, Seq(0.7f, 0f, 0f, 0f), 2)) // excluded at k=4
      .toDF("vec_id", "embedding", "label")
    val got = Similarity
      .labelPropagate(q, s, "vec_id", "embedding", "label", k = 4)
      .as[(Long, Int, Long)].collect().toSeq
    assert(got == Seq((0L, 1, 2L)))
    // three seeds at an IDENTICAL dot, k cuts between them: the two
    // smallest ids (labels 3, 3) take the slots, never id 3 (label 1) —
    // a wrong rank tie-break would flip the vote to a 1/1 tie -> label 1
    val s2 = Seq(
      (1L, Seq(0.9f, 0f, 0f, 0f), 3), (2L, Seq(0.9f, 0f, 0f, 0f), 3),
      (3L, Seq(0.9f, 0f, 0f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got2 = Similarity
      .labelPropagate(q, s2, "vec_id", "embedding", "label", k = 2)
      .as[(Long, Int, Long)].collect().toSeq
    assert(got2 == Seq((0L, 3, 2L)))
  }

  test("labelPropagateLsh == driver mirror (bucket candidates, same dot/vote)") {
    val got = Similarity.labelPropagateLsh(queries, seeds, "vec_id",
        "embedding", "label", k = 5, planes = 3, tables = 8, seed = 42L)
      .as[(Long, Int, Long)].collect().sortBy(_._1).toSeq
    def codes(v: Seq[Float]) =
      Similarity.queryBucketCodes(v, 3, 8, 42L).toSet
    val sd = seeds.as[(Long, Seq[Float], Int)].collect()
    val expected = queries.as[(Long, Seq[Float], Int)].collect().flatMap {
      case (qid, qv, _) =>
        val qc = codes(qv)
        val top = sd.filter { case (_, sv, _) => codes(sv).intersect(qc).nonEmpty }
          .map { case (sid, sv, l) => (sid, l, qdot(qv, sv)) }
          .sortBy { case (sid, _, d) => (-d, sid) }.take(5)
        if (top.isEmpty) None
        else {
          val (label, votes) = top.groupBy(_._2).view.mapValues(_.length)
            .toSeq.sortBy { case (l, n) => (-n, l) }.head
          Some((qid, label, votes.toLong))
        }
    }.sortBy(_._1).toSeq
    assert(got == expected && got.nonEmpty)
  }

  test("labelPropagateLsh == labelPropagate on exact-duplicate clusters (total recall)") {
    // identical vectors share every bucket, so LSH recalls the full
    // top-k and the two rungs must agree exactly
    val base = Seq(Seq(1f, 0f, 0f), Seq(0f, 1f, 0f), Seq(0f, 0f, 1f))
    val emb = (0L until 30L).map(i =>
      (i, base((i % 3).toInt), (i % 3).toInt + 10))
      .toDF("vec_id", "embedding", "label")
    val q = emb.filter($"vec_id" < 3)
    val sds = emb.filter($"vec_id" >= 3)
    val brute = Similarity.labelPropagate(q, sds, "vec_id", "embedding",
      "label", k = 5).as[(Long, Int, Long)].collect().sortBy(_._1).toSeq
    val lsh = Similarity.labelPropagateLsh(q, sds, "vec_id", "embedding",
        "label", k = 5, planes = 3, tables = 8, seed = 42L)
      .as[(Long, Int, Long)].collect().sortBy(_._1).toSeq
    assert(lsh == brute && brute.size == 3)
  }

  test("forVote tuning in its regime: LSH vote == brute vote on the pinned clustered fixture") {
    // the q_knn_label_vote battery row's meaningfulness claim, pinned:
    // on the unit-norm clustered corpus (the regime forVote's
    // collision-loss model is stated for), the vote-target tuning's
    // FEWER tables still reproduce every brute prediction (ANN_SWEEP
    // round-17 measured 100% agreement at 23.6% of Q·N candidates)
    val emb = graft.Queries.clusteredLabelCorpus(spark)
    val q = emb.filter($"vec_id" % 10 === 0)
    val sds = emb.filter($"vec_id" % 10 =!= 0)
    val t = LshTuning.forVote(1800L, 0.9, k = 5)
    assert(t.tables < LshTuning.forCorpus(1800L, 0.9).tables)
    val brute = Similarity.labelPropagate(q, sds, "vec_id", "embedding",
        "label", k = 5, maxQueries = 500L)
      .as[(Long, Int, Long)].collect().map(r => r._1 -> r._2).toMap
    val lsh = Similarity.labelPropagateLsh(q, sds, "vec_id", "embedding",
        "label", k = 5, planes = t.planes, tables = t.tables, seed = 42L)
      .as[(Long, Int, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(brute.size == 200)
    assert(lsh == brute)
  }

  test("query-side broadcast guard refuses an unbounded query batch") {
    val e = intercept[IllegalArgumentException](
      Similarity.labelPropagate(queries, seeds, "vec_id", "embedding",
        "label", k = 3, maxQueries = 2L))
    assert(e.getMessage.contains("labelPropagate"))
  }
}
