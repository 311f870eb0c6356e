package graft.operators

import graft.SparkSpec

class SearchSpec extends SparkSpec {
  import spark.implicits._

  private val filler = "lorem words pad the document out " // 6 tokens

  test("bm25TopK: tf raises rank, length normalization lowers it, idf weights rarity") {
    val docs = Seq(
      (1L, s"apple $filler"),                       // 1×apple, short
      (2L, s"apple apple apple $filler"),           // 3×apple, short
      (3L, s"apple ${filler * 20}"),                // 1×apple, long
      (4L, filler * 4),                             // no match
      (5L, s"banana $filler"),                      // rare term (df=1)
      (6L, s"apple banana $filler")                 // both terms
    ).toDF("doc_id", "text")
    val got = Search.bm25TopK(docs, "doc_id", "text", Seq("apple", "banana"), k = 10)
      .select("id", "rank", "n_terms", "sum_tf", "dl")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._2)
    val ranks = got.map(r => r._1 -> r._2).toMap
    // non-matching doc 4 never appears
    assert(!ranks.contains(4L) && got.length == 5)
    // two-term doc 6 beats every single-term doc of similar length
    assert(ranks(6L) < ranks(1L) && ranks(6L) < ranks(5L))
    // higher tf at equal length wins
    assert(ranks(2L) < ranks(1L))
    // same tf, longer doc loses (length normalization)
    assert(ranks(1L) < ranks(3L))
    // integer stats are faithful
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(6L)._3 == 2 && byId(6L)._4 == 2)
    assert(byId(2L)._4 == 3)
  }

  test("bm25TopK: k bounds output; ties resolve by ascending id; empty query refused") {
    val docs = (1L to 8L).map(i => (i, s"target $filler")).toDF("doc_id", "text")
    val got = Search.bm25TopK(docs, "doc_id", "text", Seq("target"), k = 3)
      .select("id", "rank").as[(Long, Long)].collect().sortBy(_._2)
    // all scores identical -> ids in ascending order fill the ranks
    assert(got.toSeq == Seq((1L, 1L), (2L, 2L), (3L, 3L)))
    intercept[IllegalArgumentException] {
      Search.bm25TopK(docs, "doc_id", "text", Seq.empty, k = 3)
    }
  }

  test("bm25TopKIndexed == the scan path when no matched token overflows the cap") {
    val docs = Seq(
      (1L, s"apple $filler"),
      (2L, s"apple apple apple $filler"),
      (3L, s"apple ${filler * 20}"),
      (4L, filler * 4),
      (5L, s"banana $filler"),
      (6L, s"apple banana $filler")
    ).toDF("doc_id", "text")
    val idx = Search.buildBm25Index(docs, "doc_id", "text", maxPostings = 100)
    val scan = Search.bm25TopK(docs, "doc_id", "text",
        Seq("apple", "banana"), k = 10)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    val served = Search.bm25TopKIndexed(idx, Seq("apple", "banana"), k = 10)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(served == scan && scan.nonEmpty)
    // an overflowed token degrades to its top-cap docs, never errors
    val tiny = Search.buildBm25Index(docs, "doc_id", "text", maxPostings = 2)
    val capped = Search.bm25TopKIndexed(tiny, Seq("apple"), k = 10)
      .select("id").as[Long].collect().toSet
    assert(capped.size == 2 && capped.subsetOf(Set(1L, 2L, 3L, 6L)))
  }

  test("invertedPostings: df exact, postings tf-ordered, Zipf cap holds") {
    val docs = Seq(
      (1L, "alpha alpha beta"),
      (2L, "alpha beta beta beta"),
      (3L, "alpha gamma")
    ).toDF("doc_id", "text")
    val got = Search.invertedPostings(docs, "doc_id", "text", maxPostings = 2)
      .as[(String, Long, Seq[(Long, Long)])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got("alpha")._1 == 3)            // df counts all three docs…
    assert(got("alpha")._2.length == 2)     // …but postings cap at 2
    // highest-tf docs survive the cap: doc 1 (tf 2) then doc 2/3 (tf 1, min id)
    assert(got("alpha")._2.head == (1L, 2L))
    assert(got("beta")._2 == Seq((2L, 3L), (1L, 1L)))
    assert(got("gamma") == (1L, Seq((3L, 1L))))
  }

  test("bm25IndexFor: persists under the configured root, serves equal results") {
    val docs = Seq(
      (1L, "alpha alpha beta"), (2L, "alpha beta beta beta"), (3L, "alpha gamma")
    ).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_bm25").toString
    spark.conf.set("spark.graft.indexDir", root)
    try {
      var builds = 0
      Search.bm25IndexFor({ builds += 1; docs },
        cacheKey = "spec!bm25", "doc_id", "text")
      val again = Search.bm25IndexFor(
        { builds += 1; sys.error("memo must not rebuild"): org.apache.spark.sql.DataFrame },
        cacheKey = "spec!bm25", "doc_id", "text")
      assert(builds == 1)
      // the artifact landed under the configured root
      assert(new java.io.File(root).listFiles().nonEmpty)
      // serving from the persisted index == the inline build
      val fromDisk = Search.bm25TopKIndexed(again, Seq("beta"), k = 3)
        .select("id", "rank").as[(Long, Long)].collect().toSeq
      val inline = Search.bm25TopKIndexed(
          Search.buildBm25Index(docs, "doc_id", "text"), Seq("beta"), k = 3)
        .select("id", "rank").as[(Long, Long)].collect().toSeq
      assert(fromDisk == inline && fromDisk.nonEmpty)
      // a different cap is a different artifact key (no silent sharing)
      val other = Search.bm25IndexFor(docs, "spec!bm25", "doc_id", "text",
        maxPostings = 1)
      assert(other.postings.select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col("postings"))).as[Int].collect().forall(_ <= 1))
    } finally spark.conf.unset("spark.graft.indexDir")
  }

  test("retrievalMetrics: exact ppm metrics, trec_eval conventions") {
    // qA: 4 retrieved at <= k, relevant at ranks 2 and 4 (plus one judged
    //     doc never retrieved); qB: retrieved but its only relevant doc
    //     sits at rank 9 > k (filtered); qC: judged, never retrieved;
    //     qX: retrieved, unjudged -> dropped from the output entirely
    val results = Seq(
      ("qA", 10L, 1L), ("qA", 11L, 2L), ("qA", 12L, 3L), ("qA", 13L, 4L),
      ("qA", 14L, 5L), // rank 5 > k=4: filtered before any metric
      ("qB", 20L, 1L), ("qB", 21L, 2L), ("qB", 22L, 3L), ("qB", 30L, 9L),
      ("qX", 50L, 1L)).toDF("query_id", "id", "rank")
    val qrels = Seq(
      ("qA", 11L), ("qA", 11L), // duplicate pair counts once
      ("qA", 13L), ("qA", 99L),
      ("qB", 30L),
      ("qC", 40L), ("qC", 41L)).toDF("query_id", "id")
    val got = Search.retrievalMetrics(results, qrels, k = 4)
      .as[(String, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq(
      // hits=2 of n_rel=3: P@4 = 2e6 div 4, R = 2e6 div 3 (floor), RR = 1e6 div 2
      ("qA", 3L, 4L, 2L, 500000L, 666666L, 500000L),
      // the relevant doc was retrieved at rank 9 > k: scores zero
      ("qB", 1L, 3L, 0L, 0L, 0L, 0L),
      // judged but never retrieved: all-zero row, not a missing row
      ("qC", 2L, 0L, 0L, 0L, 0L, 0L)))
    // perfect run: every metric saturates at exactly 1e6
    val perfect = Search.retrievalMetrics(
      Seq(("q", 1L, 1L), ("q", 2L, 2L)).toDF("query_id", "id", "rank"),
      Seq(("q", 1L), ("q", 2L)).toDF("query_id", "id"), k = 2)
      .select("precision_ppm", "recall_ppm", "rr_ppm")
      .as[(Long, Long, Long)].head()
    assert(perfect == ((1000000L, 1000000L, 1000000L)))
    intercept[IllegalArgumentException] {
      Search.retrievalMetrics(results, qrels, k = 0)
    }
  }

  test("rrfFuse == driver-side RRF mirror; fixed association; absent ids score 0") {
    // three lists so association order matters in float addition
    val l0 = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "rank")
    val l1 = Seq((2L, 1L), (4L, 2L)).toDF("id", "rank")
    val l2 = Seq((3L, 1L), (1L, 2L), (5L, 3L)).toDF("id", "rank")
    val got = Search.rrfFuse(Seq(l0, l1, l2), "id", "rank", k = 10, c = 60)
      .select("id", "rank", "rrf")
      .as[(Long, Long, Double)].collect().sortBy(_._2)
    // independent mirror: same fixed left-to-right term order
    def term(r: Option[Long]): Double = r.map(x => 1.0 / (60.0 + x)).getOrElse(0.0)
    val lists = Seq(Map(1L -> 1L, 2L -> 2L, 3L -> 3L),
      Map(2L -> 1L, 4L -> 2L), Map(3L -> 1L, 1L -> 2L, 5L -> 3L))
    val ids = lists.flatMap(_.keys).distinct
    val expect = ids.map(i => i -> lists.map(m => term(m.get(i))).reduce(_ + _))
      .sortBy { case (i, s) => (-s, i) }
    assert(got.map(r => (r._1, r._3)).toSeq == expect)
    // ranks are 1..n in fused order
    assert(got.map(_._2).toSeq == (1L to ids.length))
    // symmetric ranks tie exactly and break on ascending id
    val a = Seq((7L, 1L), (8L, 2L)).toDF("id", "rank")
    val b = Seq((8L, 1L), (7L, 2L)).toDF("id", "rank")
    val tied = Search.rrfFuse(Seq(a, b), "id", "rank", k = 2)
      .select("id", "rank").as[(Long, Long)].collect().sortBy(_._2)
    assert(tied.toSeq == Seq((7L, 1L), (8L, 2L)))
    // k bounds output
    assert(Search.rrfFuse(Seq(l0, l1, l2), "id", "rank", k = 2).count() == 2)
    intercept[IllegalArgumentException] {
      Search.rrfFuse(Seq.empty, "id", "rank", k = 1)
    }
    // a retriever that emits the same id twice in ONE list violates the
    // (id, list)-uniqueness contract — the fusion must fail loudly, not
    // silently pick one of the ranks
    val dup = Seq((9L, 1L), (9L, 3L), (10L, 2L)).toDF("id", "rank")
    val err = intercept[Throwable] {
      Search.rrfFuse(Seq(dup, l1), "id", "rank", k = 10).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(messages(err).exists(_.contains("appears more than once")))
  }
}
