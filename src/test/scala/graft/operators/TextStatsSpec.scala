package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class TextStatsSpec extends SparkSpec {

  test("charClassCounts: exact hand counts incl. replacement and control chars") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Hello, W0rld! café"),
      (2L, "bad \uFFFD bytes \uFFFD\uFFFD here\u0001\u0007"),
      (3L, ""),
      (4L, "tab\tand\nnewline\rare not control here"),
      (5L, "vt\u000Band\u000Cff")
    ).toDF("doc_id", "text")
    val got = TextStats.charClassCounts(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    // doc 1: "Hello, W0rld! café" — 18 chars, letters H,e,l,l,o,W,r,l,d,c,a,f
    //   = 12 ([A-Za-z] excludes é), 1 digit, 2 spaces, 1 non-ascii (é)
    assert(got(1L) == ((1L, 18L, 12L, 1L, 2L, 1L, 0L, 0L)))
    // doc 2: 3 replacement chars (each also non-ascii), 2 control chars
    val d2 = got(2L)
    assert(d2._7 == 3L && d2._6 == 3L && d2._8 == 2L)
    // empty doc: all zeros
    assert(got(3L) == ((3L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)))
    // tab/newline/CR count as whitespace, NOT control
    val d4 = got(4L)
    assert(d4._8 == 0L && d4._5 == 6L) // \t \n \r + 3 spaces
    // VT/FF are CONTROL for this signal, not whitespace (and exactly
    // where Java's \s and RE2's \s disagree — the explicit class)
    assert(got(5L) == ((5L, 9L, 7L, 0L, 0L, 0L, 0L, 2L)))
  }
  import spark.implicits._

  private val docs = Seq(
    ("en", "the cat and the hat"),
    ("en", "the cat sat"),
    ("de", "der der die das"),
    ("de", "")
  ).toDF("lang", "text")

  test("topTokensPerGroup equals the window formulation, count desc then token asc") {
    val counts = docs.select(col("lang"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("token"))
      .groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("token"))
    val expected = counts.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 2)
      .select("lang", "token", "cnt", "rank")
      .as[(String, String, Long, Long)].collect().sorted.toSeq
    val got = TextStats.topTokensPerGroup(docs, Seq("lang"), col("text"), k = 2)
      .as[(String, String, Long, Long)].collect().sorted.toSeq
    assert(got == expected)
    assert(got.contains(("en", "the", 3L, 1L))) // 'the' wins en
    assert(got.contains(("de", "der", 2L, 1L))) // 'der' wins de
  }

  test("topTokensPerGroup avoids window sorts (two hash aggregates)") {
    val plan = TextStats.topTokensPerGroup(docs, Seq("lang"), col("text"), k = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("repetitionSignals: duplicate lines and dominant bigrams, zero-safe") {
    val rep = Seq(
      // 4 non-blank lines, 2 of them repeats of "spam spam"; bigrams of
      // "spam spam spam spam a" = [spam spam ×3, spam a] → top 3/4
      (1L, "spam spam\nspam spam\n\nspam spam\nunique line a"),
      (2L, "all distinct lines\nno repeats here"), // top bigram ties at 1
      (3L, "one"),                                 // 1 token → no bigrams
      (4L, "")                                     // empty → all zeros
    ).toDF("doc_id", "text")
    val got = TextStats.repetitionSignals(rep, "doc_id", "text")
      .as[(Long, Long, Double, Long, Double)].collect().sortBy(_._1).toSeq
    val (id1, n1, dup1, nb1, top1) = got(0)
    assert((id1, n1, nb1) == (1L, 4L, 8L))
    assert(dup1 == 0.5) // 2 repeated lines of 4
    // tokenization sees newlines as whitespace: 6×spam + unique line a =
    // 9 tokens → 8 bigrams, "spam spam" 5 of them
    assert(top1 == 5.0 / 8.0)
    assert(got(2) == ((3L, 1L, 0.0, 0L, 0.0)))
    assert(got(3) == ((4L, 0L, 0.0, 0L, 0.0)))
  }

  test("qualityRuleSignals: each rule trips independently; keep is their AND") {
    val rules = TextStats.QualityRules(
      minTokens = 4, maxTokens = 20, minMeanWordLen = 2.0, maxMeanWordLen = 8.0,
      maxSymbolRatio = 0.2, maxBulletFrac = 0.5, minAlphaFrac = 0.5,
      minStopwordHits = 2)
    val docsQ = Seq(
      (1L, "the cat and the dog sat in that warm house"),   // passes all
      (2L, "the cat"),                                      // too few tokens
      (3L, "the #### cat and #### the dog in it"),          // symbol-heavy
      (4L, "- the cat\n- and dog\n- it naps\n* the end"),   // bullets 4/4
      (5L, "12 34 56 78 90 11 the of"),                     // alpha 2/8 < 0.5
      (6L, "zebra quokka lemur gnu ibex okapi")              // 0 stopword hits
    ).toDF("doc_id", "text")
    val got = TextStats.qualityRuleSignals(docsQ, "doc_id", "text", rules)
      .orderBy("doc_id")
      .select("doc_id", "keep").as[(Long, Int)].collect().toSeq
    assert(got == Seq(1L -> 1, 2L -> 0, 3L -> 0, 4L -> 0, 5L -> 0, 6L -> 0))
    // spot-check the signal arithmetic on doc 1: 10 tokens, 33 chars
    val row = TextStats.qualityRuleSignals(docsQ, "doc_id", "text", rules)
      .filter(col("doc_id") === 1L)
      .select("n_tokens", "mean_word_len", "symbol_ratio", "bullet_frac",
        "alpha_frac", "stopword_hits")
      .as[(Long, Double, Double, Double, Double, Long)].collect().head
    assert(row._1 == 10L)
    assert(row._2 == 33.0 / 10.0)
    assert(row._3 == 0.0 && row._4 == 0.0)
    assert(row._5 == 1.0)
    assert(row._6 == 5L) // the, and, the, in, that
  }

  test("qualityRuleSignals is one narrow pass — no shuffle, no join") {
    val plan = TextStats.qualityRuleSignals(
        Seq((1L, "some text")).toDF("doc_id", "text"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("importanceStats == a driver string-gram reference (exact integer sums)") {
    val raw = Seq(
      (1L, "the quick brown fox jumps high"),
      (2L, "the quick red fox"),
      (3L, "zzz yyy xxx www"),
      (4L, "a")) // < 2 tokens -> no grams -> absent from output
    val tgt = Seq("the quick brown dog", "quick brown shoes on the quick brown")
    val got = TextStats.importanceStats(
        raw.toDF("id", "text"), "id", "text",
        tgt.map(Tuple1(_)).toDF("t"), "t", ngramSize = 2)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    def grams(s: String): Seq[String] =
      s.split("\\s+").filter(_.nonEmpty).sliding(2).filter(_.size == 2)
        .map(_.mkString(" ")).toSeq.distinct
    val rawCnt = raw.flatMap(d => grams(d._2)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val tgtCnt = tgt.flatMap(grams).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val expected = raw.filter(d => grams(d._2).nonEmpty).map { d =>
      val gs = grams(d._2)
      d._1 -> (gs.size.toLong,
        gs.map(g => tgtCnt.getOrElse(g, 0L)).sum,
        gs.map(rawCnt).sum,
        gs.count(g => !tgtCnt.contains(g)).toLong)
    }.toMap
    assert(got == expected)
    // sanity: doc 1 shares "the quick"+"quick brown" with the target,
    // doc 3 shares nothing
    assert(got(1L)._2 > 0 && got(3L)._2 == 0L && got(3L)._4 == got(3L)._1)
    assert(!got.contains(4L))
    // the persisted-vocabulary path (gramCountsFor → FromCounts) serves
    // the same stats on first build AND on the disk re-read
    val key = System.nanoTime()
    (1 to 2).foreach { i =>
      val viaIndex = TextStats.importanceStatsFromCounts(
          raw.toDF("id", "text"), "id", "text",
          TextStats.gramCountsFor(raw.toDF("id", "text"),
            s"textstatsspec-raw-$key", "text", ngramSize = 2),
          TextStats.gramCountsFor(tgt.map(Tuple1(_)).toDF("t"),
            s"textstatsspec-tgt-$key", "t", ngramSize = 2),
          ngramSize = 2)
        .as[(Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
      assert(viaIndex == expected, s"pass $i")
    }
  }

  test("modelQualityScore == driver reference; bias-only empty docs; threshold") {
    import graft.tools.QualityTrain.featureBuckets
    val nBuckets = 64
    val docs = Seq(
      (1L, "good clean prose with many words"),
      (2L, "good clean prose"),
      (3L, "zzz!!!"),
      (4L, ""),            // no tokens: bias-only
      (5L, "good good good") // repeated features count per occurrence (bag)
    ).toDF("doc_id", "text")
    // hand weight table: every bucket weighted by its index (signed), bias 100
    val weights = ((-1L, 100L) +:
      (0 until nBuckets).map(b => (b.toLong, (b - 32).toLong * 3L)))
      .toDF("bucket", "w_q16")
    val got = TextStats.modelQualityScore(docs, "doc_id", "text",
        weights, nBuckets, thresholdQ16 = 0L)
      .as[(Long, Long, Long, Int)].collect().map(r => r._1 -> r).toMap
    // independent reference via the trainer's own hashing (same md5 contract)
    val texts = Map(1L -> "good clean prose with many words",
      2L -> "good clean prose", 3L -> "zzz!!!", 4L -> "", 5L -> "good good good")
    for ((id, t) <- texts) {
      val bs = featureBuckets(t, nBuckets)
      val logit = 100L + bs.map(b => (b - 32).toLong * 3L).sum
      assert(got(id)._2 == bs.length.toLong, s"n_feats doc $id")
      assert(got(id)._3 == logit, s"logit doc $id")
      assert(got(id)._4 == (if (logit >= 0) 1 else 0), s"keep doc $id")
    }
    assert(got(4L)._2 == 0L && got(4L)._3 == 100L && got(4L)._4 == 1)
    // bag semantics: doc 5 has 3 unigram occurrences + 2 bigram occurrences
    assert(got(5L)._2 == 5L)
    // a weights table WITHOUT a bias row means bias 0, not an empty result
    val noBias = TextStats.modelQualityScore(docs, "doc_id", "text",
        weights.filter($"bucket" >= 0), nBuckets)
      .as[(Long, Long, Long, Int)].collect().map(r => r._1 -> r).toMap
    assert(noBias.size == 5 && noBias(4L)._3 == 0L)
    assert(noBias(1L)._3 == got(1L)._3 - 100L)
  }

  test("bigramBitCost == driver integer reference; short docs zero-cost") {
    val docs = Seq(
      (1L, "a b a b"),
      (2L, "a b c"),
      (3L, "x"),     // < 2 tokens: zero bigrams, keep
      (4L, "")
    ).toDF("doc_id", "text")
    // corpus bigrams: (a,b)x3 [doc1 twice? no: doc1 pairs = (a,b),(b,a),(a,b)]
    // -> c12: (a,b)=3, (b,a)=1, (b,c)=1; prefix c1: a=3, b=2; V=4 (a,b,c,x)
    def bitlen(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)
    val cost = Map( // (w1,w2) -> bitlen(c1+V) - bitlen(c12)
      ("a", "b") -> (bitlen(3 + 4) - bitlen(3)),
      ("b", "a") -> (bitlen(2 + 4) - bitlen(1)),
      ("b", "c") -> (bitlen(2 + 4) - bitlen(1)))
    val expect = Map(
      1L -> (3L, cost(("a", "b")) * 2 + cost(("b", "a"))),
      2L -> (2L, cost(("a", "b")) + cost(("b", "c"))),
      3L -> (0L, 0L), 4L -> (0L, 0L))
    val got = TextStats.bigramBitCost(docs, "doc_id", "text", keepMilliBits = 2000L)
      .as[(Long, Long, Long, Long, Int)].collect().map(r => r._1 -> r).toMap
    for ((id, (n, bits)) <- expect) {
      assert(got(id)._2 == n, s"n_bigrams doc $id")
      assert(got(id)._3 == bits, s"bit_cost doc $id")
      val milli = if (n == 0) 0L else bits * 1000 / n
      assert(got(id)._4 == milli, s"milli_bits doc $id")
      assert(got(id)._5 == (if (milli <= 2000) 1 else 0), s"keep doc $id")
    }
  }

  test("buildVocab: rank by count desc then token asc, cap, dense ids") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat"),
      (3L, "a cat")
    ).toDF("doc_id", "text")
    val got = TextStats.buildVocab(docs, $"text", maxVocab = 4)
      .as[(String, Long, Long)].collect().toSeq
    // counts: the=3, cat=2, sat=2, then (a, dog, mat, on)=1 -> 'a' wins asc
    assert(got == Seq(("the", 3L, 0L), ("cat", 2L, 1L), ("sat", 2L, 2L),
      ("a", 1L, 3L)))
    // cap above the vocab size returns the whole vocabulary
    assert(TextStats.buildVocab(docs, $"text", maxVocab = 100).count() == 7L)
    // bounded heap, never a global window sort
    val plan = TextStats.buildVocab(docs, $"text", maxVocab = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("encodeWithVocab: order preserved, OOV -> unk, empty docs empty") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, ""),                       // token-less: empty sequence
      (3L, "unseen words only")
    ).toDF("doc_id", "text")
    val vocab = TextStats.buildVocab(docs.filter($"doc_id" === 1L), $"text",
      maxVocab = 100)
    val ids = vocab.as[(String, Long, Long)].collect()
      .map(v => v._1 -> v._3).toMap
    val got = TextStats.encodeWithVocab(docs, "doc_id", $"text", vocab)
      .as[(Long, Seq[Long], Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 == Seq("the", "cat", "sat", "on", "the", "mat").map(ids))
    assert(got(1L)._3 == 6L)
    assert(got(2L)._2.isEmpty && got(2L)._3 == 0L)
    assert(got(3L)._2 == Seq(-1L, -1L, -1L) && got(3L)._3 == 3L)
  }

  test("encodeWithVocab: oversized vocab takes the shuffle join, equal to the broadcast path") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, ""),
      (3L, "unseen words only")
    ).toDF("doc_id", "text")
    val vocab = TextStats.buildVocab(docs, $"text", maxVocab = 100)
    // Spark's own size-based broadcast is off, so a broadcast in the plan
    // is the operator's choice
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def encode(bound: Long) =
        TextStats.encodeWithVocab(docs, "doc_id", $"text", vocab, maxBroadcastVocab = bound)
      // at the bound the vocab broadcasts, one entry over it does not
      val n = vocab.count()
      val atBound = encode(n)
      val overBound = encode(n - 1)
      assert(atBound.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        atBound.queryExecution.executedPlan)
      val viaBroadcast = atBound.as[(Long, Seq[Long], Long)].collect().sortBy(_._1).toSeq
      val viaShuffle = overBound.as[(Long, Seq[Long], Long)].collect().sortBy(_._1).toSeq
      assert(viaShuffle == viaBroadcast)
      assert(viaBroadcast.map(_._3) == Seq(6L, 0L, 3L))
      // the plan over the oversized vocab holds no broadcast
      assert(!overBound.queryExecution.executedPlan.toString.contains("Broadcast"),
        overBound.queryExecution.executedPlan)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
