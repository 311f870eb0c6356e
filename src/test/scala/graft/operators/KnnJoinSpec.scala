package graft.operators

import graft.SparkSpec

class KnnJoinSpec extends SparkSpec {
  import spark.implicits._

  // deterministic synthetic embeddings (seeded per id)
  private def vec(i: Long): Seq[Float] = {
    val rnd = new scala.util.Random(i * 7919 + 13)
    Seq.fill(16)(rnd.nextFloat() * 2f - 1f)
  }
  private lazy val emb =
    (0L until 120L).map(i => (i, vec(i))).toDF("vec_id", "embedding").repartition(5)
  private lazy val queries = emb.filter($"vec_id" % 40 === 0) // 3 queries
  private lazy val corpus = emb.filter($"vec_id" % 40 =!= 0)

  private def cosine(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; nx += x * x; ny += y * y; i += 1
    }
    val d = math.sqrt(nx) * math.sqrt(ny)
    if (d == 0.0) 0.0 else dot / d
  }

  test("knnJoin == per-query brute-force top-k, rank 1-based") {
    val k = 7
    val got = Similarity.knnJoin(queries, corpus, "vec_id", "embedding", k)
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
    val cs = corpus.as[(Long, Seq[Float])].collect()
    val expected = queries.as[(Long, Seq[Float])].collect().flatMap {
      case (qid, qv) =>
        cs.map { case (cid, cv) => (cid, cosine(qv, cv)) }
          .sortBy { case (cid, c) => (-c, cid) }.take(k)
          .zipWithIndex.map { case ((cid, c), i) => (qid, cid, c, (i + 1).toLong) }
    }.sortBy(r => (r._1, r._4)).toSeq
    assert(got == expected)
  }

  test("knnJoinLsh == brute-force ranking restricted to shared-bucket candidates") {
    val (k, planes, tables, seed) = (5, 2, 4, 42L)
    val got = Similarity.knnJoinLsh(queries, corpus, "vec_id", "embedding",
        k, planes, tables, seed)
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
    def codes(v: Seq[Float]) =
      Similarity.queryBucketCodes(v, planes, tables, seed).toSet
    val cs = corpus.as[(Long, Seq[Float])].collect()
    val expected = queries.as[(Long, Seq[Float])].collect().flatMap {
      case (qid, qv) =>
        val qc = codes(qv)
        cs.filter { case (_, cv) => codes(cv).intersect(qc).nonEmpty }
          .map { case (cid, cv) => (cid, cosine(qv, cv)) }
          .sortBy { case (cid, c) => (-c, cid) }.take(k)
          .zipWithIndex.map { case ((cid, c), i) => (qid, cid, c, (i + 1).toLong) }
    }.sortBy(r => (r._1, r._4)).toSeq
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("knnJoin refuses an oversized query side and points at knnJoinLsh") {
    val e = intercept[IllegalArgumentException] {
      Similarity.knnJoin(emb, corpus, "vec_id", "embedding", 3, maxQueries = 50L)
    }
    assert(e.getMessage.contains("knnJoinLsh"))
    // at exactly the bound it runs (the guard is <=, not <)
    val ok = Similarity.knnJoin(queries, corpus, "vec_id", "embedding", 3,
      maxQueries = 3L)
    assert(ok.count() == 9)
  }

  test("knnJoin plans the bounded heap (ObjectHashAggregate), not a window sort") {
    val plan = Similarity.knnJoin(queries, corpus, "vec_id", "embedding", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("knnJoinLsh candidate generation is an equi-join — no cartesian, no BNLJ") {
    val plan = Similarity.knnJoinLsh(queries, corpus, "vec_id", "embedding", 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
