package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
    (3L, "completely unrelated text about spark query engines and distributed joins"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (5L, "another fully distinct document mentioning embeddings and similarity search")
  ).toDF("doc_id", "text")

  test("exact dedup keeps smallest id per key, deterministically") {
    val got = Dedup.exact(docs, col("text"), col("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 3L, 5L))
  }

  test("ngram Jaccard prefix-filter join finds near-dups and exact dups, no false pairs") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // near-dup
    assert(pairs.contains((1L, 4L))) // exact dup
    assert(pairs.contains((2L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("ngram containment: catches the quote Jaccard misses, == brute force, maxDf trades recall") {
    val quote = "the sixteen word quotation that appears verbatim inside the much " +
      "longer containing document body here"
    val filler = (1 to 60).map(i => s"filler$i").mkString(" ")
    val cdocs = Seq(
      (1L, quote),                       // short doc, wholly quoted in 2
      (2L, s"$filler $quote $filler"),   // the container
      (3L, "entirely unrelated text about spark engines and joins today ok")
    ).toDF("doc_id", "text")
    val got = Dedup.ngramContainmentPairs(cdocs, "doc_id", "text",
        shingleSize = 3, threshold = 0.9)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // 1 ⊂ 2 at containment 1.0 — while Jaccard is tiny (union dominated
    // by the container), so the symmetric operator must NOT pair them
    assert(got.keySet == Set((1L, 2L)))
    assert(got((1L, 2L)) == 1.0)
    val jac = Dedup.ngramJaccardPairs(cdocs, "doc_id", "text", 3, 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(!jac.contains((1L, 2L)))
    // == brute force over every directed pair (driver reference)
    def shingles(t: String): Set[Seq[String]] =
      t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq.sliding(3).toSet
        .filter(_.size == 3).map(_.toSeq)
    val texts = Map(1L -> quote, 2L -> s"$filler $quote $filler",
      3L -> "entirely unrelated text about spark engines and joins today ok")
    val ref = (for {
      (a, ta) <- texts; (b, tb) <- texts if a != b
      sa = shingles(ta); inter = (sa & shingles(tb)).size
      c = inter.toDouble / sa.size if c >= 0.9
    } yield (a, b)).toSet
    assert(got.keySet == ref)
    // a tiny maxDf starves candidate generation (documented recall trade)
    val starved = Dedup.ngramContainmentPairs(cdocs, "doc_id", "text",
      shingleSize = 3, threshold = 0.9, maxDf = 1)
    assert(starved.count() == 0L)
    // no cartesian anywhere
    val plan = Dedup.ngramContainmentPairs(cdocs, "doc_id", "text", 3, 0.9)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("minhash LSH pairs find the same near-dup cluster") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", 3, 128, 32, 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash pairs: exact dup has distance 0; unrelated docs excluded") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", 3)
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(pairs((1L, 4L)) == 0L)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("dropNearDuplicates keeps smallest id of each cluster") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", 3, 128, 32, 0.5)
    val kept = Dedup.dropNearDuplicates(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(1L) && kept.contains(3L) && kept.contains(5L))
    assert(!kept.contains(4L) && !kept.contains(2L))
  }

  test("incrementalNearDups against a band index == cross-slice of full-corpus pairs") {
    val history = docs.filter($"doc_id" <= 3)
    val fresh = docs.filter($"doc_id" > 3) // docs 4 (dup of 1) and 5
    val index = Dedup.minhashBandIndex(history, "doc_id", "text")
    val inc = Dedup.incrementalNearDups(fresh, "doc_id", "text", index, threshold = 0.5)
      .select("new_id", "old_id").as[(Long, Long)].collect()
      .map(p => Set(p._1, p._2)).toSet
    val full = Dedup.minhashPairs(docs, "doc_id", "text", 3, 128, 32, 0.5)
      .select("id1", "id2").as[(Long, Long)].collect()
      .filter(p => (p._1 > 3) != (p._2 > 3)) // exactly one side in the new batch
      .map(p => Set(p._1, p._2)).toSet
    assert(inc == full && inc.contains(Set(1L, 4L)))
  }

  test("dropRepeatedLines keeps the globally-first occurrence, spares short lines") {
    val pages = Seq(
      (1L, "SHARED NAVIGATION HEADER\nunique article one body text\n--"),
      (2L, "SHARED NAVIGATION HEADER\nunique article two body text\n--"),
      (3L, "totally original page with no boilerplate")
    ).toDF("doc_id", "text")
    val got = Dedup.dropRepeatedLines(pages, "doc_id", "text", minLineLen = 10)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "SHARED NAVIGATION HEADER\nunique article one body text\n--", 3L, 0L),
      // doc 2 loses the header (doc 1 owns the first occurrence) but
      // keeps the short "--" separator
      (2L, "unique article two body text\n--", 3L, 1L),
      (3L, "totally original page with no boilerplate", 1L, 0L)))
  }

  test("repeatedSpans finds maximal cross-doc and within-doc spans; removeRepeatedSpans cuts them") {
    // 10 shared boilerplate tokens (b0..b9) embedded in distinct contexts,
    // plus doc 3 repeating ITS OWN 8-token phrase twice
    val boiler = (0 until 10).map(i => s"b$i").mkString(" ")
    val selfRep = (0 until 8).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (1L, s"u1a u1b u1c $boiler u1d u1e"),
      (2L, s"$boiler v2a v2b v2c v2d v2e v2f"),
      (3L, s"w3a $selfRep w3b $selfRep w3c"),
      (4L, "clean x1 x2 x3 x4 x5 x6 x7 x8 x9 !with? original.punct")
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(docs, "doc_id", "text",
        gramSize = 8, minCount = 2, minSpanTokens = 8)
      .as[(Long, Long, Long, Long)].collect().toSet
    // doc 1: boiler at tokens 3..12; doc 2: tokens 0..9;
    // doc 3: selfRep at 1..8 and 10..17 (two islands, gap of 1 token)
    assert(spans == Set((1L, 3L, 12L, 10L), (2L, 0L, 9L, 10L),
      (3L, 1L, 8L, 8L), (3L, 10L, 17L, 8L)))
    val cut = Dedup.removeRepeatedSpans(docs, "doc_id", "text",
        gramSize = 8, minCount = 2, minSpanTokens = 8)
      .select("doc_id", "text", "n_cut_tokens")
      .as[(Long, String, Long)].collect().map(r => r._1 -> r).toMap
    assert(cut(1L)._2 == "u1a u1b u1c u1d u1e" && cut(1L)._3 == 10L)
    assert(cut(2L)._2 == "v2a v2b v2c v2d v2e v2f")
    assert(cut(3L)._2 == "w3a w3b w3c" && cut(3L)._3 == 16L)
    // untouched docs pass through BYTE-identical (punctuation, case)
    assert(cut(4L)._2 == "clean x1 x2 x3 x4 x5 x6 x7 x8 x9 !with? original.punct")
    assert(cut(4L)._3 == 0L)
  }

  test("repeatedSpans windows partition by document — no global window") {
    val docs = Seq((1L, ("t " * 20).trim)).toDF("doc_id", "text")
    val plan = Dedup.repeatedSpans(docs, "doc_id", "text")
      .queryExecution.optimizedPlan.toString
    // every Window in the plan carries the per-doc partition spec
    val windows = plan.split("\n").filter(_.contains("windowspecdefinition"))
    assert(windows.nonEmpty && windows.forall(_.contains("id#")), plan)
  }

  test("dropRepeatedLines plans a hash aggregate, not a per-line window") {
    val pages = Seq((1L, "aaaaaaaaaaaa\nbbbbbbbbbbbb")).toDF("doc_id", "text")
    val plan = Dedup.dropRepeatedLines(pages, "doc_id", "text")
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("minhashPairsFromIndex over the persisted index == direct minhashPairs") {
    val idx = Dedup.minhashIndexFor(docs, cacheKey = "opspec!docs", "doc_id", "text")
    val fromIdx = Dedup.minhashPairsFromIndex(idx, numHashes = 128, threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val direct = Dedup.minhashPairs(docs, "doc_id", "text", 3, 128, 32, 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(fromIdx == direct)
    assert(fromIdx.contains((1L, 4L))) // the exact dup must collide
  }

  test("sliced-index incremental probe == incrementalNearDups on raw slices") {
    val idx = Dedup.minhashIndexFor(docs, cacheKey = "opspec!docs", "doc_id", "text")
    val viaIdx = Dedup.incrementalNearDupsIndexed(
        Dedup.sliceIndex(idx, col("id") >= 4), Dedup.sliceIndex(idx, col("id") < 4),
        numHashes = 128, threshold = 0.5)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    val direct = Dedup.incrementalNearDups(docs.filter($"doc_id" >= 4), "doc_id", "text",
        Dedup.minhashBandIndex(docs.filter($"doc_id" < 4), "doc_id", "text"),
        threshold = 0.5)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    assert(viaIdx == direct)
    assert(viaIdx.contains((4L, 1L)))
  }

  test("memoized simhash/ngram/winnow tables reproduce the direct pair paths") {
    val sim = Dedup.simhashPairsFromTable(
        Dedup.simhashTableFor(docs, "opspec!sim", "doc_id", "text"), maxDistance = 3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(sim == Dedup.simhashPairs(docs, "doc_id", "text", 3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet)
    val ngram = Dedup.ngramJaccardPairsFromSets(
        Dedup.ngramSetsFor(docs, "opspec!ngram", "doc_id", "text"), threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(ngram == Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet)
    assert(ngram.contains((1L, 4L)))
    val winnow = Dedup.winnowPairsFromPostings(
        Dedup.winnowPostingsFor(docs, "opspec!winnow", "doc_id", "text"),
        minShared = 1, maxDf = 100)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(winnow == Dedup.winnowPairs(docs, "doc_id", "text",
        minShared = 1, maxDf = 100)
      .select("id1", "id2").as[(Long, Long)].collect().toSet)
  }

  test("contamination join is a hash equi-join on the gram, never a cross join") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("bid", "btext")
    val plan = graft.operators.Curation.contaminationHits(
        docs, "doc_id", "text", bench, "btext", ngramSize = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"decontamination must stay a gram equi-join:\n$plan")
  }

  test("contaminationHits counts distinct shared n-grams; decontaminate drops them") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("bid", "btext")
    val hits = graft.operators.Curation.contaminationHits(
        docs, "doc_id", "text", bench, "btext", ngramSize = 8)
      .as[(Long, Long)].collect().toMap
    // docs 1, 2, 4 contain the benchmark's full 9-token sentence prefix
    // ("the quick ... dog" = two 8-grams, both shared)
    assert(hits.keySet == Set(1L, 2L, 4L))
    assert(hits.values.toSet == Set(2L))
    val kept = graft.operators.Curation.decontaminate(
        docs, "doc_id", "text", bench, "btext", ngramSize = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L, 5L))
  }

  test("tokenRarity: integer-exact corpus-frequency profile") {
    val tiny = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = graft.operators.TextStats.tokenRarity(tiny, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // corpus counts: a=2, b=2, c=1
    assert(got == Seq(
      (1L, 3L, 2L + 2L + 2L, 2L, 0L), // a a b → sum 6, min 2, no hapax
      (2L, 2L, 2L + 1L, 1L, 1L)))     // b c → sum 3, min 1, c is hapax
  }

  test("incrementalNearDups excludes self-matches on re-ingest") {
    val index = Dedup.minhashBandIndex(docs, "doc_id", "text")
    val again = Dedup.incrementalNearDups(docs.filter($"doc_id" === 3), "doc_id", "text",
      index, threshold = 0.5)
    assert(again.filter($"new_id" === $"old_id").isEmpty)
    assert(again.isEmpty) // doc 3 has no near-dups besides itself
  }

  test("resizeToFit preserves aspect ratio, never upscales, floors at 1px") {
    val feats = Seq((1L, 448, 224), (2L, 100, 50), (3L, 10000, 2))
      .toDF("media_id", "width", "height")
    val got = Multimodal.resizeToFit(feats, 224, 224)
      .select("media_id", "resized_width", "resized_height")
      .as[(Long, Int, Int)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(got(1L) == ((224, 112)))  // downscale by the binding axis
    assert(got(2L) == ((100, 50)))   // already fits: untouched
    assert(got(3L)._1 == 224 && got(3L)._2 == 1) // extreme ratio floors at 1
  }

  test("sampleFrames emits every Nth fixed-size slice with a short tail frame") {
    val df = Seq((7L, "abcdefghij")).toDF("media_id", "text") // 10 bytes
    val frames = Multimodal.sampleFrames(
        Multimodal.withPayload(df, "text"), "media_id",
        frameBytes = 3, everyNth = 2)
      .as[(Long, Long, Array[Byte])].collect()
      .map(t => (t._2, new String(t._3, "UTF-8"))).sortBy(_._1).toSeq
    // frames: [abc][def][ghi][j] -> sampled 0 and 2
    assert(frames == Seq((0L, "abc"), (2L, "ghi")))
    val all = Multimodal.sampleFrames(
        Multimodal.withPayload(df, "text"), "media_id",
        frameBytes = 3, everyNth = 1)
      .as[(Long, Long, Array[Byte])].collect().map(t => new String(t._3, "UTF-8")).sorted.toSeq
    assert(all == Seq("abc", "def", "ghi", "j")) // tail kept, shorter
  }

  test("connectedComponents labels transitive clusters with the min reachable id") {
    // chain 10-20, 20-30 (no 10-30 pair) + pair 40-50 + isolated 60
    val nodes = Seq(10L, 20L, 30L, 40L, 50L, 60L).toDF("doc_id")
    val pairs = Seq((10L, 20L), (20L, 30L), (40L, 50L)).toDF("id1", "id2")
    val got = Dedup.connectedComponents(nodes, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 10L, 20L -> 10L, 30L -> 10L,
      40L -> 40L, 50L -> 40L, 60L -> 60L))
  }

  test("connectedComponents converges on a long chain (diameter > 2 iterations of 1-hop)") {
    val n = 30
    val nodes = (1L to n.toLong).toDF("doc_id")
    val pairs = (1L until n.toLong).map(i => (i, i + 1)).toDF("id1", "id2")
    val got = Dedup.connectedComponents(nodes, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(got.values.toSet == Set(1L)) // the whole chain is one component
  }

  test("dropNearDuplicateClusters beats the one-hop greedy policy on shared-id2 graphs") {
    // pairs (1,2) and (3,2): greedy drops only {2} and keeps BOTH 1 and 3,
    // though 1~2~3 is one transitive cluster; components keep just 1
    val nodes = Seq(1L, 2L, 3L, 9L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (3L, 2L)).toDF("id1", "id2")
    val greedy = Dedup.dropNearDuplicates(nodes, "doc_id", pairs)
      .as[Long].collect().toSet
    val transitive = Dedup.dropNearDuplicateClusters(nodes, "doc_id", pairs)
      .as[Long].collect().toSet
    assert(greedy == Set(1L, 3L, 9L))
    assert(transitive == Set(1L, 9L))
  }

  private lazy val vecs = Seq(
    (0L, Seq(1f, 0f, 0f)),
    (1L, Seq(0.9f, 0.1f, 0f)),
    (2L, Seq(0f, 1f, 0f)),
    (3L, Seq(0.8f, 0.2f, 0f)),
    (4L, Seq(0f, 0f, 1f))).toDF("vec_id", "embedding")

  test("bruteForceTopK orders by cosine desc with id tiebreak") {
    val got = Similarity.bruteForceTopK(vecs.filter(col("vec_id") =!= 0),
      "vec_id", "embedding", Seq(1f, 0f, 0f), 2)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 3L))
  }

  test("embeddingPairs finds the near-parallel cluster only") {
    val pairs = Dedup.embeddingPairs(vecs, "vec_id", "embedding", 0.95)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L), (0L, 3L), (1L, 3L)))
  }

  test("embeddingPairsLsh: subset of exact pairs, full recall on near-parallel cluster, NO cross join in plan") {
    val lsh = Dedup.embeddingPairsLsh(vecs, "vec_id", "embedding", 0.95,
      planes = 2, tables = 8)
    val plan = lsh.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"LSH pair join must not degenerate to a cross join:\n$plan")
    val got = lsh.select("id1", "id2").as[(Long, Long)].collect().toSet
    val exact = Dedup.embeddingPairs(vecs, "vec_id", "embedding", 0.95)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(exact), "verify step must keep only true pairs")
    // 8 tables × 2 planes on a 3-vector near-parallel cluster: recall 1.0
    assert(got == exact)
  }

  test("embeddingPairsLsh plan: dedup happens AFTER verification, never over raw candidates") {
    // the scale contract (see scaladoc): the candidate set — the
    // quadratic quantity — must never feed an aggregate/exchange; the
    // only distinct runs over verified (threshold-filtered) pairs. In
    // the optimized plan that means every Aggregate sits ABOVE the
    // cosine filter: no Aggregate may appear between the bucket Join
    // and the Filter that applies the threshold.
    val plan = Dedup.embeddingPairsLsh(vecs, "vec_id", "embedding", 0.95,
      planes = 2, tables = 8)
      .queryExecution.optimizedPlan
    def containsJoin(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p.collectFirst { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.isDefined
    val aggs = plan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggs.nonEmpty, "expected the verified-pair distinct")
    aggs.filter(containsJoin).foreach { a =>
      // any aggregate above the join must already sit above verification:
      // the cosine threshold appears in a Filter below it, or — the
      // optimizer's even better shape — pushed INTO the join condition
      val verifiedBelow = a.child.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.toString.contains("cosine_similarity") => f
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.exists(_.toString.contains("cosine_similarity")) => j
      }.isDefined
      assert(verifiedBelow,
        s"aggregate over unverified candidates:\n$a")
    }
  }

  test("embeddingPairsLsh default tuning == explicit LshTuning.forCorpus params") {
    // the production default (planes=0/tables=0) must be EXACTLY the
    // closed-form tuner at the corpus count — no silent drift between
    // the auto path and what LshTuningSpec pins
    val auto = Dedup.embeddingPairsLsh(vecs, "vec_id", "embedding", 0.95)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val t = LshTuning.forCorpus(vecs.count(), 0.95)
    val explicit = Dedup.embeddingPairsLsh(vecs, "vec_id", "embedding", 0.95,
        planes = t.planes, tables = t.tables)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(auto == explicit)
  }

  test("embedding degenerate-clique guard: certificate components, linear cliques, cap trade") {
    // mixed corpus: a 10-member exact-VECTOR clique, a 5-member exact
    // clique far away, a near-dup of clique A, a far singleton, and two
    // ZERO vectors (identical, but cos(0,0) = 0 — must not pair, exactly
    // as unguarded)
    val tbl = ((0L to 9L).map(i => (i, Seq(1f, 0f, 0f))) ++
      (10L to 14L).map(i => (i, Seq(0f, 1f, 0f))) ++
      Seq((20L, Seq(0.9f, 0.1f, 0f)), (30L, Seq(0f, 0f, 1f)),
        (40L, Seq(0f, 0f, 0f)), (41L, Seq(0f, 0f, 0f))))
      .toDF("vec_id", "embedding")
    val allIds = ((0L to 14L) ++ Seq(20L, 30L, 40L, 41L)).toSet
    def comps(pairs: Set[(Long, Long)]): Set[Set[Long]] = {
      val parent = scala.collection.mutable.Map(allIds.map(i => i -> i).toSeq: _*)
      def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
      allIds.groupBy(find).values.map(_.toSet).toSet
    }
    val unguarded = Dedup.embeddingPairsLsh(tbl, "vec_id", "embedding", 0.95,
        planes = 2, tables = 8)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val guarded = Dedup.embeddingPairsLsh(tbl, "vec_id", "embedding", 0.95,
        planes = 2, tables = 8, maxBucket = 16)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    // the certificate: same connected components (so same min-id
    // survivors), but linear where cliques are exact
    assert(comps(guarded) == comps(unguarded))
    assert(unguarded.size == 45 + 10 + 10)  // quadratic cliques + 20's pairs
    assert(guarded.size == 9 + 4 + 1)            // stars + one rep pair (0, 20)
    assert(guarded.contains((0L, 20L)))
    assert(!guarded.exists { case (a, b) => a == 40L || b == 41L })
    // adversarial: 5000 identical vectors — 4999 star edges, never m²/2
    val big = (0L until 5000L).map(i => (i, Seq(1f, 2f, 3f)))
      .toDF("vec_id", "embedding")
    assert(Dedup.embeddingPairsLsh(big, "vec_id", "embedding", 0.95,
      planes = 2, tables = 8, maxBucket = 16).count() == 4999)
    // the documented cap trade: DISTINCT near-identical vectors share
    // every bucket, so a cap below the group size loses their pairs
    // (exact duplicates are never lost — stars bypass the join)
    val shear = (0L to 20L).map(k => (k, Seq(1f, k * 1e-6f, 0f)))
      .toDF("vec_id", "embedding")
    assert(Dedup.embeddingPairsLsh(shear, "vec_id", "embedding", 0.95,
      planes = 2, tables = 8).count() == 210)
    assert(Dedup.embeddingPairsLsh(shear, "vec_id", "embedding", 0.95,
      planes = 2, tables = 8, maxBucket = 10).count() == 0)
  }

  test("incrementalEmbeddingPairsLsh collapsed probe: per-vector output, rep-id collision safe") {
    // index = the 5-vector corpus; batch = an exact-vector clique whose
    // MIN-ID MEMBER (0) also exists in the index (the rep-id collision:
    // a rep-level self filter would drop the whole clique's matches),
    // plus a re-sent id with its own vector, plus exact duplicate rows
    val batch = (Seq((0L, Seq(1f, 0f, 0f)), (100L, Seq(1f, 0f, 0f)),
      (101L, Seq(1f, 0f, 0f)), (101L, Seq(1f, 0f, 0f)),
      (3L, Seq(0.8f, 0.2f, 0f)), (200L, Seq(0f, 0f, 1f))))
      .toDF("vec_id", "embedding")
    val idx = Dedup.embeddingLshIndex(vecs, "vec_id", "embedding",
      planes = 2, tables = 8)
    // the output of a per-vector (uncollapsed) probe of the same batch
    val plainSelf = Set((0L, 1L, 0.9938837341719244), (0L, 3L, 0.9701425001453319),
      (3L, 0L, 0.9701425001453319), (3L, 1L, 0.9909924310187174),
      (100L, 0L, 1.0), (100L, 1L, 0.9938837341719244), (100L, 3L, 0.9701425001453319),
      (101L, 0L, 1.0), (101L, 1L, 0.9938837341719244), (101L, 3L, 0.9701425001453319),
      (200L, 4L, 1.0))
    val plain = Map(
      true -> plainSelf,
      false -> (plainSelf ++ Set((0L, 0L, 1.0), (3L, 3L, 0.9999999999999999))))
    for (self <- Seq(true, false)) {
      val collapsed = Dedup.incrementalEmbeddingPairsLsh(batch, "vec_id",
          "embedding", idx, 0.9, planes = 2, tables = 8, excludeSelf = self)
        .as[(Long, Long, Double)].collect().toSet
      assert(collapsed == plain(self), s"excludeSelf=$self")
      // the clique members 100/101 must match old 0 even though their
      // rep (0) is self-excluded against the index
      if (self) {
        assert(collapsed.exists { case (n, o, _) => n == 100L && o == 0L })
        assert(!collapsed.exists { case (n, o, _) => n == o })
      } else {
        assert(collapsed.exists { case (n, o, _) => n == 0L && o == 0L })
      }
    }
  }

  test("semanticDedup drops within-cluster near-dups only; cross-cluster pairs are out of scope") {
    // hand-assigned clusters: 0/1/3 are near-parallel; put 3 in ANOTHER
    // cluster so its pairs with 0/1 must NOT be examined
    val assigned = Seq(
      (0L, Seq(1f, 0f, 0f), 10),
      (1L, Seq(0.9f, 0.1f, 0f), 10),  // ~cos 0.99 with 0 → dropped (same cluster)
      (3L, Seq(0.8f, 0.2f, 0f), 20),  // near-dup of 0/1 but other cluster → kept
      (2L, Seq(0f, 1f, 0f), 10),      // same cluster as 0, far → kept
      (4L, Seq(0f, 0f, 1f), 20)       // far → kept
    ).toDF("vec_id", "embedding", "__cluster")
    val kept = Dedup.semanticDedup(assigned, "vec_id", "embedding", threshold = 0.95)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(0L, 2L, 3L, 4L))
    // pair generation is a cluster-key equi-join — never a cross join
    val plan = Dedup.semanticDedup(assigned, "vec_id", "embedding", 0.95)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("ivfIndexFor memoizes the build and probes with SOURCE partition pruning") {
    val idx = Similarity.ivfIndexFor(vecs, cacheKey = "operators-spec-vecs",
      "vec_id", "embedding", nClusters = 2)
    val again = Similarity.ivfIndexFor(
      sys.error("must not rebuild"): org.apache.spark.sql.DataFrame,
      cacheKey = "operators-spec-vecs", "vec_id", "embedding", nClusters = 2)
    assert(again eq idx, "second lookup must hit the cache without touching df")
    val probe = Similarity.ivfTopK(idx, "vec_id", "embedding", Seq(1f, 0f, 0f), 2, nprobe = 1)
    val scan = probe.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("__cluster"),
      s"probe must prune __cluster partitions at the source:\n$scan")
    assert(probe.select("vec_id").as[Long].collect().toSeq == Seq(0L, 1L))
  }

  test("IVF index: clustered probe finds the near-parallel neighbors") {
    val idx = Similarity.buildIvf(vecs, "vec_id", "embedding", nClusters = 2)
    assert(idx.centroids.length == 2)
    val got = Similarity.ivfTopK(idx, "vec_id", "embedding", Seq(1f, 0f, 0f), 2, nprobe = 1)
      .select("vec_id").as[Long].collect().toSeq
    // cluster containing the x-axis family must surface 0 and 1 first
    assert(got == Seq(0L, 1L))
  }

  test("lshTopK returns a subset of true neighbors (never fabricates rows)") {
    val got = Similarity.lshTopK(vecs.filter(col("vec_id") =!= 0),
      "vec_id", "embedding", Seq(1f, 0f, 0f), 3, planes = 2, tables = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(got.subsetOf(Set(1L, 2L, 3L, 4L)))
  }

  test("winnowPairs finds substring-sharing docs via fingerprint index") {
    val pairs = Dedup.winnowPairs(docs, "doc_id", "text",
      k = 12, w = 4, minShared = 2, maxDf = 10)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // long shared prefix
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("decodeFeatures parses real PNG/BMP headers back from withImagePayload") {
    val ids = Seq(0L, 1L, 2L, 57L, 113L, 9999L).toDF("doc_id")
    val out = Multimodal.decodeFeatures(
      Multimodal.withImagePayload(ids, "doc_id"), "doc_id")
    assert(out.columns.toSeq ==
      Seq("media_id", "n_bytes", "checksum", "width", "height", "format"))
    val rows = out.as[MediaFeatures].collect().sortBy(_.media_id)
    rows.foreach { r =>
      // the DECODED dimensions equal the encode-side arithmetic — a true
      // codec round-trip, not an echo of metadata
      assert(r.width == 8 + math.floorMod(r.media_id, 57L).toInt)
      assert(r.height == 8 + math.floorMod(r.media_id, 41L).toInt)
      assert(r.format == (if (r.media_id % 2 == 0) "png" else "bmp"))
      assert(r.n_bytes > 0)
    }
    val again = Multimodal.decodeFeatures(
      Multimodal.withImagePayload(ids, "doc_id"), "doc_id")
      .as[MediaFeatures].collect().sortBy(_.media_id)
    assert(rows.toSeq == again.toSeq)
  }

  test("decodeFeatures degrades corrupt/non-image payloads to the sentinel row") {
    // text bytes are not a decodable image: a 100 TB scan must flag the
    // row, never throw
    val out = Multimodal.decodeFeatures(
      Multimodal.withPayload(docs, "text"), "doc_id")
      .as[MediaFeatures].collect().sortBy(_.media_id)
    assert(out.length == 5)
    assert(out.forall(r => r.width == -1 && r.height == -1 && r.format == "invalid"))
    val text1 = docs.filter(col("doc_id") === 1L).select("text").as[String].head()
    assert(out(0).n_bytes == text1.getBytes("UTF-8").length.toLong)
    // a TRUNCATED real image header (first 8 bytes of a PNG) is also invalid
    val png = Multimodal.withImagePayload(Seq(2L).toDF("doc_id"), "doc_id")
      .select("payload").as[Array[Byte]].head()
    val truncated = Seq((7L, java.util.Arrays.copyOf(png, 8))).toDF("doc_id", "payload")
    val t = Multimodal.decodeFeatures(truncated, "doc_id").as[MediaFeatures].head()
    assert(t.width == -1 && t.format == "invalid")
  }

  test("dHash64: codec round-trip == driver-side pattern mirror; variants near, families far") {
    // driver mirror of the gradient pattern + dHash arithmetic — shares
    // nothing with the operator but the spec
    def mirror(id: Long): Long = {
      val k = id / 4; val v = (id % 4).toInt
      val a = k % 256; val bc = (k / 256) % 256; val cc = (k / 65536) % 256
      def gray(x: Int, y: Int): Long = {
        val bump = if (v > 0 && x / 4 == v && y / 4 == v) 64L else 0L
        java.lang.Math.floorMod(
          7L * x * x + 13L * y * y + a * 31L * (x + 1) * (y + 1) +
            bc * 53L * (x + 2) * (y + 3) + cc * 17L * (x + 3) * (y + 5) + bump, 256L)
      }
      val cells = Array.tabulate(8, 9) { (gy, gx) =>
        var s = 0L
        for (x <- gx * 4 until gx * 4 + 4; y <- gy * 4 until gy * 4 + 4) s += gray(x, y)
        s / 16
      }
      (0 until 64).foldLeft(0L) { (acc, b) =>
        if (cells(b / 8)(b % 8 + 1) > cells(b / 8)(b % 8)) acc | (1L << b) else acc
      }
    }
    // ids beyond 2^18 exercise the third (anti-aliasing) coefficient;
    // below it the pattern is bit-identical to the two-coefficient form
    val ids = Seq(0L, 1L, 2L, 3L, 4L, 7L, 100L, 101L, 300000L, 300001L, 5000000L)
    val got = Multimodal.dHash64(
        Multimodal.withGradientImagePayload(ids.toDF("doc_id"), "doc_id"), "doc_id")
      .as[(Long, Option[Long])].collect().toMap
    ids.foreach(i => assert(got(i).contains(mirror(i)),
      s"id $i: PNG/BMP encode→decode→dHash must equal the pattern mirror"))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // same family (div 4): a one-cell perturbation flips at most 2 bits
    assert(ham(got(0L).get, got(1L).get) <= 2 && ham(got(0L).get, got(3L).get) <= 2)
    // different families mix k into the gradients: far apart
    assert(ham(got(0L).get, got(4L).get) > 3 && ham(got(0L).get, got(100L).get) > 3)
    // undecodable payload hashes to NULL, not a crash or a fake hash
    val bad = Seq((1L, "not an image".getBytes("UTF-8"))).toDF("doc_id", "payload")
    assert(Multimodal.dHash64(bad, "doc_id").as[(Long, Option[Long])].head()._2.isEmpty)
    // and the pair pipeline composes: family pairs surface, cross-family don't
    val pairs = Dedup.simhashPairsFromTable(
        Multimodal.dHash64(
          Multimodal.withGradientImagePayload(ids.toDF("doc_id"), "doc_id"), "doc_id")
          .filter(col("sh").isNotNull),
        maxDistance = 3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((100L, 101L)))
    assert(!pairs.exists { case (a, b) => a / 4 != b / 4 })
  }

  test("incrementalHammingPairs == cross-slice of the full Hamming pair set") {
    val ids = (0L until 48L)
    val hashed = Multimodal.dHash64(
      Multimodal.withGradientImagePayload(ids.toDF("doc_id"), "doc_id"), "doc_id")
    val full = Dedup.simhashPairsFromTable(hashed, maxDistance = 3)
      .as[(Long, Long, Int)].collect()
      .map { case (a, b, h) => (a, b, h) }.toSet
    // split INSIDE family 6 (ids 24-27): near-dups only form within a
    // family, so a boundary at a multiple of 4 would make the cross
    // slice trivially empty
    val inc = Dedup.incrementalHammingPairs(
        hashed.filter(col("id") >= 26), hashed.filter(col("id") < 26),
        maxDistance = 3)
      .as[(Long, Long, Int)].collect().toSet
    // full pairs orient id1 < id2; the incremental probe orients
    // (new, old) = (>= 26, < 26) — the cross-slice subset, re-oriented
    val expected = full.collect {
      case (a, b, h) if a < 26 && b >= 26 => (b, a, h)
      case (a, b, h) if a >= 26 && b < 26 => (a, b, h)
    }
    assert(inc == expected && inc.nonEmpty)
    // re-ingest of an identical item is excluded as a self-match
    val again = Dedup.incrementalHammingPairs(
      hashed.filter(col("id") === 0), hashed.filter(col("id") === 0),
      maxDistance = 3)
    assert(again.count() == 0)
  }

  test("incrementalAlignedHammingPairs == cross-slice of alignedHammingPairs") {
    // (id, pos, sh): families of 4 share a per-position base hash;
    // variants flip ≤ 2 low bits, so family pairs match at every pos
    val rows = for (id <- 0L until 20L; pos <- 0L until 3L) yield
      (id, pos, (id / 4) * 2654435761L + pos * 40503L ^ (id % 4))
    val tbl = rows.toDF("id", "pos", "sh")
    val full = Dedup.alignedHammingPairs(tbl, maxDistance = 3)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(full.nonEmpty && full.forall { case (a, b, _, _) => a / 4 == b / 4 })
    // split INSIDE family 2 (ids 8-11) so the cross slice is non-trivial
    val inc = Dedup.incrementalAlignedHammingPairs(
        tbl.filter(col("id") >= 10), tbl.filter(col("id") < 10),
        maxDistance = 3)
      .as[(Long, Long, Long, Int)].collect().toSet
    val expected = full.collect {
      case (a, b, p, h) if a < 10 && b >= 10 => (b, a, p, h)
      case (a, b, p, h) if a >= 10 && b < 10 => (a, b, p, h)
    }
    assert(inc == expected && inc.nonEmpty)
    // re-sent clip vs itself: excluded by default, flagged for the loops
    val self = tbl.filter(col("id") === 0)
    assert(Dedup.incrementalAlignedHammingPairs(self, self, 3).count() == 0)
    assert(Dedup.incrementalAlignedHammingPairs(self, self, 3,
      excludeSelf = false).count() == 3) // one match per position
  }

  test("videoNearDupPairs: frame mirror, aligned matching, fraction verdict, corrupt clip") {
    // driver mirror of the per-frame dHash: frame f of clip id carries the
    // gradient pattern of EFFECTIVE id ((id div 4)·nFrames + f)·4 + id mod 4
    def mirror(e: Long): Long = {
      val k = e / 4; val v = (e % 4).toInt
      val a = k % 256; val bc = (k / 256) % 256; val cc = (k / 65536) % 256
      def gray(x: Int, y: Int): Long = {
        val bump = if (v > 0 && x / 4 == v && y / 4 == v) 64L else 0L
        java.lang.Math.floorMod(
          7L * x * x + 13L * y * y + a * 31L * (x + 1) * (y + 1) +
            bc * 53L * (x + 2) * (y + 3) + cc * 17L * (x + 3) * (y + 5) + bump, 256L)
      }
      val cells = Array.tabulate(8, 9) { (gy, gx) =>
        var s = 0L
        for (x <- gx * 4 until gx * 4 + 4; y <- gy * 4 until gy * 4 + 4) s += gray(x, y)
        s / 16
      }
      (0 until 64).foldLeft(0L) { (acc, b) =>
        if (cells(b / 8)(b % 8 + 1) > cells(b / 8)(b % 8)) acc | (1L << b) else acc
      }
    }
    val ids = Seq(0L, 1L, 2L, 4L, 5L, 100L)
    val vids = Multimodal.withVideoPayload(ids.toDF("doc_id"), "doc_id", nFrames = 8)
    // every-2nd sampling → frames 0,2,4,6; each hash equals the mirror of
    // its effective pattern id (lossless BMP round-trip)
    val fh = Multimodal.videoFrameHashes(vids, "doc_id", everyNth = 2)
      .as[(Long, Long, Option[Long])].collect()
    assert(fh.length == ids.size * 4)
    fh.foreach { case (id, f, sh) =>
      assert(f % 2 == 0 && sh.contains(mirror((id / 4 * 8 + f) * 4 + id % 4)),
        s"clip $id frame $f: demux→decode→dHash must equal the pattern mirror")
    }
    // clip verdict: same-family variant-0 pairs match on EVERY aligned
    // frame; cross-family pairs never surface (aligned frames far apart)
    val pairs = Multimodal.videoNearDupPairs(vids, "doc_id", everyNth = 2,
        maxDistance = 3, minMatchFrac = 0.5)
      .as[(Long, Long, Long, Long)].collect()
      .map(p => (p._1, p._2) -> (p._3, p._4)).toMap
    assert(pairs.keySet.forall { case (a, b) => a / 4 == b / 4 })
    assert(pairs((0L, 1L)) == (4L, 4L) && pairs((4L, 5L)) == (4L, 4L))
    // a corrupt payload decodes no frames → the clip pairs with nothing
    val withBad = vids.unionByName(
      Seq((999L, "definitely not video bytes".getBytes("UTF-8")))
        .toDF("doc_id", "payload"))
    assert(Multimodal.videoNearDupPairs(withBad, "doc_id", everyNth = 2)
      .filter(col("id1") === 999L || col("id2") === 999L).count() == 0)
  }

  test("encodeAvi/encodeAviMjpeg: container bytes of the fixtures are pinned") {
    // SHA-256 of both encoders' output for the round-trip fixtures below,
    // taken before the two encoders shared one container writer
    def sha(b: Array[Byte]) = java.security.MessageDigest.getInstance("SHA-256")
      .digest(b).map(x => f"${x & 0xff}%02x").mkString
    val dib = Multimodal.withVideoPayload(Seq(7L).toDF("doc_id"),
        "doc_id", nFrames = 8)
      .select("payload").as[Array[Byte]].head()
    val mjpeg = Multimodal.encodeAviMjpeg((0 until 5).map(jpegOf),
      width = 20, height = 16)
    assert(sha(dib) == "0973b674bcce5de897b318098adc7c3c1da7f333b979e0799986c404d3e2249d")
    assert(sha(mjpeg) == "bf8bdd733c079c5d74f4ca7233ae7bc5704cdb444dca97196c1656199020126e")
  }

  test("encodeAvi/demuxAviFrames: real RIFF/AVI round-trip; corrupt and truncated payloads demux empty") {
    val payload = Multimodal.withVideoPayload(Seq(7L).toDF("doc_id"),
        "doc_id", nFrames = 8)
      .select("payload").as[Array[Byte]].head()
    // container structure: RIFF('AVI ') with an idx1 index present
    assert(new String(payload, 0, 4, "ISO-8859-1") == "RIFF")
    assert(new String(payload, 8, 4, "ISO-8859-1") == "AVI ")
    assert(new String(payload, "ISO-8859-1").contains("idx1"))
    assert(new String(payload, "ISO-8859-1").contains("movi"))
    // demux: all 8 frames in order, each a real BMP ImageIO decodes at 36x32
    val frames = Multimodal.demuxAviFrames(payload).toSeq
    assert(frames.map(_._1) == (0L until 8L))
    frames.foreach { case (_, bmp) =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bmp))
      assert(img != null && img.getWidth == 36 && img.getHeight == 32)
    }
    // corrupt / truncated / null-ish payloads never throw, demux empty
    assert(Multimodal.demuxAviFrames("not a container".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.demuxAviFrames(java.util.Arrays.copyOfRange(payload, 0, 100)).isEmpty)
    assert(Multimodal.demuxAviFrames(Array.emptyByteArray).isEmpty)
  }

  test("demuxAviFrames: compressed '00dc' (MJPEG) frames pass through to ImageIO") {
    // hand-build a minimal RIFF(AVI (LIST movi (00dc <jpeg>)))
    def le32(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
      o.write(v & 0xff); o.write((v >>> 8) & 0xff)
      o.write((v >>> 16) & 0xff); o.write((v >>> 24) & 0xff)
    }
    val img = new java.awt.image.BufferedImage(12, 10,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val jout = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", jout)
    val jpeg = jout.toByteArray
    val movi = new java.io.ByteArrayOutputStream()
    movi.write("movi".getBytes("ISO-8859-1"))
    movi.write("00dc".getBytes("ISO-8859-1")); le32(movi, jpeg.length)
    movi.write(jpeg); if ((jpeg.length & 1) == 1) movi.write(0)
    val body = new java.io.ByteArrayOutputStream()
    body.write("AVI ".getBytes("ISO-8859-1"))
    body.write("LIST".getBytes("ISO-8859-1")); le32(body, movi.size())
    body.write(movi.toByteArray)
    val riff = new java.io.ByteArrayOutputStream()
    riff.write("RIFF".getBytes("ISO-8859-1")); le32(riff, body.size())
    riff.write(body.toByteArray)
    val frames = Multimodal.demuxAviFrames(riff.toByteArray).toSeq
    assert(frames.size == 1)
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(frames.head._2))
    assert(back != null && back.getWidth == 12 && back.getHeight == 10)
  }

  private def jpegOf(seed: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(20, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 20)
      img.setRGB(x, y, (seed * 2654435761L.toInt + x * 31 + y * 7) & 0xffffff)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    out.toByteArray
  }

  test("encodeAviMjpeg: writer-produced MJPEG demuxes to the exact JPEG frames written") {
    val jpegs = (0 until 5).map(jpegOf)
    val avi = Multimodal.encodeAviMjpeg(jpegs, width = 20, height = 16)
    assert(new String(avi, 0, 4, "ISO-8859-1") == "RIFF")
    assert(new String(avi, 8, 4, "ISO-8859-1") == "AVI ")
    assert(new String(avi, "ISO-8859-1").contains("MJPG"))
    val frames = Multimodal.demuxAviFrames(avi).toSeq
    assert(frames.map(_._1) == (0L until 5L))
    // '00dc' is a byte-exact pass-through: frame hashes match the input
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(b: Array[Byte]) = java.util.Base64.getEncoder.encodeToString(md.digest(b))
    assert(frames.map(f => h(f._2)) == jpegs.map(h))
    frames.foreach { case (_, j) =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(j))
      assert(img != null && img.getWidth == 20 && img.getHeight == 16)
    }
  }

  test("demuxAviFrames: malformed chunk sizes terminate (no hang, no throw); short '00db' and non-stream-0 chunks skipped") {
    def le32(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
      o.write(v & 0xff); o.write((v >>> 8) & 0xff)
      o.write((v >>> 16) & 0xff); o.write((v >>> 24) & 0xff)
    }
    def riffAvi(moviPayload: Array[Byte],
                preMovi: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
      val movi = new java.io.ByteArrayOutputStream()
      movi.write("movi".getBytes("ISO-8859-1")); movi.write(moviPayload)
      val body = new java.io.ByteArrayOutputStream()
      body.write("AVI ".getBytes("ISO-8859-1"))
      body.write(preMovi)
      body.write("LIST".getBytes("ISO-8859-1")); le32(body, movi.size())
      body.write(movi.toByteArray)
      val riff = new java.io.ByteArrayOutputStream()
      riff.write("RIFF".getBytes("ISO-8859-1")); le32(riff, body.size())
      riff.write(body.toByteArray)
      riff.toByteArray
    }
    def chunkBytes(id: String, sz: Int, data: Array[Byte]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(id.getBytes("ISO-8859-1")); le32(o, sz); o.write(data)
      o.toByteArray
    }
    // (a) top-level chunk whose 8+sz+pad wraps to 0 in Int (sz=0xFFFFFFF7):
    // pre-fix this looped forever in the top-level walk; now it terminates
    // (movi unreachable past the bogus size → zero frames)
    val wrapTop = riffAvi(Array.emptyByteArray,
      preMovi = chunkBytes("JUNK", 0xFFFFFFF7, new Array[Byte](16)))
    assert(Multimodal.demuxAviFrames(wrapTop).isEmpty)
    // (b) same wrapping size INSIDE movi: pre-fix the iterator re-emitted
    // the same chunk unboundedly; now it clamps to the list end and stops
    val wrapIn = riffAvi(chunkBytes("00db", 0xFFFFFFF7, new Array[Byte](8)))
    assert(Multimodal.demuxAviFrames(wrapIn).toSeq.isEmpty)
    // (c) '00db' with < 40 data bytes (pre-fix: AIOOBE reading biSize)
    val tiny = riffAvi(chunkBytes("00db", 2, Array[Byte](1, 2)))
    assert(Multimodal.demuxAviFrames(tiny).isEmpty)
    // (d) sz that wraps `after` negative (pre-fix: StringIndexOutOfBounds)
    val negAfter = riffAvi(chunkBytes("00db", 0x7FFFFFFF, new Array[Byte](8)))
    assert(Multimodal.demuxAviFrames(negAfter).toSeq.isEmpty)
    // (e) second-stream '01db' chunks are NOT stream 0: ignored, so a
    // multi-stream file yields only stream 0's frames in frame_idx order
    val f0 = Multimodal.withVideoPayload(Seq(3L).toDF("doc_id"), "doc_id",
      nFrames = 2).select("payload").as[Array[Byte]].head()
    val realFrames = Multimodal.demuxAviFrames(f0).toSeq
    assert(realFrames.size == 2)
    val dib = java.util.Arrays.copyOfRange(realFrames.head._2, 14,
      realFrames.head._2.length)
    val multi = riffAvi(
      chunkBytes("01db", dib.length, dib) ++
        (if ((dib.length & 1) == 1) Array[Byte](0) else Array.emptyByteArray) ++
        chunkBytes("00db", dib.length, dib) ++
        (if ((dib.length & 1) == 1) Array[Byte](0) else Array.emptyByteArray))
    val got = Multimodal.demuxAviFrames(multi).toSeq
    assert(got.size == 1 && got.head._1 == 0L)
  }

  test("videoContainmentPairs: trimmed clip contained, direction asymmetric, aligned join misses it") {
    // clip 0: 8 source frames; clip at +2^40: a TRIMMED cut carrying
    // source frames 2..5 (frameOffset=2 under the source's 8-frame
    // indexing); clip 400: an unrelated family
    val base = Multimodal.withVideoPayload(Seq(0L, 400L).toDF("doc_id"),
      "doc_id", nFrames = 8)
    val trimmed = Multimodal.withVideoPayload(Seq(0L).toDF("doc_id"),
        "doc_id", nFrames = 4, frameOffset = 2, indexFrames = 8)
      .withColumn("doc_id", col("doc_id") + lit(1099511627776L))
    val all = base.unionByName(trimmed)
    val tid = 1099511627776L
    // sampled: clip 0 → source frames {0,2,4,6}; trimmed → payload
    // frames {0,2} = source frames {2,4} ⊂ clip 0's set, but at payload
    // POSITIONS {0,2} ≠ source positions {2,4} — the aligned join
    // structurally misses the relation
    assert(Multimodal.videoNearDupPairs(all, "doc_id", everyNth = 2,
      maxDistance = 3, minMatchFrac = 0.5)
      .filter(col("id1") === tid || col("id2") === tid).count() == 0)
    val got = Multimodal.videoContainmentPairs(all, "doc_id", everyNth = 2,
        maxDistance = 3, minContainFrac = 0.75)
      .as[(Long, Long, Long, Long)].collect()
      .map(p => (p._1, p._2) -> (p._3, p._4)).toMap
    // trimmed ⊂ clip 0: 2/2 frames matched; the reverse direction is
    // only 2/4 and must NOT surface at τ=0.75; unrelated family never
    assert(got((0L, tid)) == (2L, 2L))
    assert(!got.contains((tid, 0L)))
    assert(!got.keySet.exists { case (a, b) => a == 400L || b == 400L })
  }

  test("keepBestPerCluster keeps the highest score per component; null scores lose; isolated docs survive") {
    val docs = Seq(
      (1L, 50L), (2L, 90L), (3L, 90L),   // cluster {1,2,3} via chain 1-2, 2-3
      (10L, 5L),                          // isolated
      (20L, 0L), (21L, 0L)                // cluster with one NULL score below
    ).toDF("doc_id", "n_chars")
      // doc 21's score is NULL: it must lose to scored doc 20
      .withColumn("n_chars", when(col("doc_id") === 21L, lit(null).cast("long"))
        .otherwise(col("n_chars")))
    val pairs = Seq((1L, 2L), (2L, 3L), (20L, 21L)).toDF("id1", "id2")
    val kept = Dedup.keepBestPerCluster(docs, "doc_id", pairs, col("n_chars"))
      .select("doc_id").as[Long].collect().toSet
    // {1,2,3}: max score 90 tie → smallest id 2; {20,21}: 20 (21 is NULL);
    // 10 isolated survives
    assert(kept == Set(2L, 10L, 20L))
    // all-NULL cluster falls back to smallest id
    val docs2 = Seq((5L, null.asInstanceOf[java.lang.Long]),
      (6L, null.asInstanceOf[java.lang.Long])).toDF("doc_id", "n_chars")
    assert(Dedup.keepBestPerCluster(docs2, "doc_id",
      Seq((5L, 6L)).toDF("id1", "id2"), col("n_chars"))
      .select("doc_id").as[Long].collect().toSet == Set(5L))
  }

  test("Hamming degenerate-chunk guard: connectivity preserved, cliques linear, cap documented") {
    // mixed corpus: a 10-item exact clique (sh=0), a 5-item exact clique
    // (far), a near-dup of clique A (hamming 2), a far singleton
    val tbl = ((0L to 9L).map(i => (i, 0L)) ++
      (10L to 14L).map(i => (i, 0xFF000000FF000000L)) ++
      Seq((20L, 3L), (30L, 0x5555555555555555L))).toDF("id", "sh")
    val allIds = ((0L to 9L) ++ (10L to 14L) ++ Seq(20L, 30L)).toSet
    def comps(pairs: Set[(Long, Long, Int)]): Set[Set[Long]] = {
      val parent = scala.collection.mutable.Map(allIds.map(i => i -> i).toSeq: _*)
      def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      pairs.foreach { case (a, b, _) => parent(find(a)) = find(b) }
      allIds.groupBy(find).values.map(_.toSet).toSet
    }
    val unguarded = Dedup.simhashPairsFromTable(tbl, 3)
      .as[(Long, Long, Int)].collect().toSet
    val guarded = Dedup.simhashPairsFromTable(tbl, 3, maxBucket = 16)
      .as[(Long, Long, Int)].collect().toSet
    // the guard emits a connectivity CERTIFICATE: same components, same
    // min-id survivor per cluster — but linear where cliques are exact
    assert(comps(guarded) == comps(unguarded))
    assert(unguarded.size == 45 + 10 + 10) // quadratic in the cliques
    assert(guarded.size == 9 + 4 + 1)      // stars + one rep pair
    assert(guarded.contains((0L, 20L, 2)))
    // adversarial: 5000 identical hashes — 4999 star edges, never m²/2
    val big = (0L until 5000L).map(i => (i, 42L)).toDF("id", "sh")
    assert(Dedup.simhashPairsFromTable(big, 3, maxBucket = 100).count() == 4999)
    // incremental probe against the giant clique: an exact batch match
    // costs ONE row (vs 5000 unguarded), a near match finds the rep
    val probe = Seq((9000L, 42L), (9001L, 43L)).toDF("id", "sh")
    assert(Dedup.incrementalHammingPairs(probe, big, 3, maxBucket = 100)
      .as[(Long, Long, Int)].collect().toSet ==
      Set((9000L, 0L, 0), (9001L, 0L, 1)))
    // rep-self re-probe (excludeSelf): a probe item that IS the indexed
    // clique's min-id representative must still flag against the clique's
    // OTHER members — (0, secondMin, 0), one row, never "unique" and
    // never the 4999 unguarded rows. A singleton's rep matches nothing.
    val repProbe = Seq((0L, 42L), (7000L, 42L)).toDF("id", "sh")
    assert(Dedup.incrementalHammingPairs(repProbe, big, 3, maxBucket = 100)
      .as[(Long, Long, Int)].collect().toSet ==
      Set((0L, 1L, 0), (7000L, 0L, 0)))
    val singleton = Seq((7L, 99L)).toDF("id", "sh")
    assert(Dedup.incrementalHammingPairs(Seq((7L, 99L)).toDF("id", "sh"),
      singleton, 3, maxBucket = 100).count() == 0)
    // and with excludeSelf = false (streaming re-sent-id contract) the
    // rep-self match itself must still surface
    assert(Dedup.incrementalHammingPairs(Seq((7L, 99L)).toDF("id", "sh"),
      singleton, 3, excludeSelf = false, maxBucket = 100)
      .as[(Long, Long, Int)].collect().toSet == Set((7L, 7L, 0)))
    // the documented recall trade: a pair whose EVERY agreeing chunk
    // group is oversized is skipped (here 21 distinct hashes k<<16 agree
    // on chunks 0/2/3 and differ on chunk 1, so a cap of 10 loses the
    // (0, 1<<16) hamming-1 pair); exact duplicates are never lost
    val shear = (0L to 20L).map(k => (k, k << 16)).toDF("id", "sh")
    assert(Dedup.simhashPairsFromTable(shear, 3)
      .filter(col("id1") === 0 && col("id2") === 1).count() == 1)
    assert(Dedup.simhashPairsFromTable(shear, 3, maxBucket = 10).count() == 0)
  }

  test("audioFingerprint64: WAV round-trip == driver-side tone mirror; null on non-audio") {
    def mirror(id: Long): Long = {
      val k = id / 4; val v = (id % 4).toInt
      val a = k % 2048; val bc = (k / 2048) % 2048
      def raw(t: Int): Long = {
        val bump = if (v > 0 && t / 32 == v) 600L else 0L
        java.lang.Math.floorMod(
          (a * 31L + 7L) * (t + 1L) + bc * 53L * (t + 3L) * (t + 5L) +
            3L * t * t * t + bump, 4096L) - 2048L
      }
      val e = Array.tabulate(65)(w =>
        (w * 32 until w * 32 + 32).map(t => math.abs(raw(t))).sum)
      (0 until 64).foldLeft(0L)((acc, b) =>
        if (e(b + 1) > e(b)) acc | (1L << b) else acc)
    }
    val ids = Seq(0L, 1L, 3L, 4L, 100L, 101L)
    val got = Multimodal.audioFingerprint64(
        Multimodal.withToneAudioPayload(ids.toDF("doc_id"), "doc_id"), "doc_id")
      .as[(Long, Option[Long])].collect().toMap
    ids.foreach(i => assert(got(i).contains(mirror(i)),
      s"id $i: WAV encode→decode→fingerprint must equal the tone mirror"))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(got(0L).get, got(1L).get) <= 3)
    assert(ham(got(0L).get, got(4L).get) > 3 && ham(got(0L).get, got(100L).get) > 3)
    // a PNG payload is not decodable audio → NULL, never a crash
    val img = Multimodal.withImagePayload(Seq(2L).toDF("doc_id"), "doc_id")
    assert(Multimodal.audioFingerprint64(img, "doc_id")
      .as[(Long, Option[Long])].head()._2.isEmpty)
  }

  test("parseRiffWav == javax.sound sample-for-sample; AIFF falls back; stereo rejected") {
    val ids = Seq(0L, 1L, 7L, 42L, 4097L, 99999L)
    val payloads = Multimodal.withToneAudioPayload(ids.toDF("doc_id"), "doc_id")
      .select("doc_id", "payload").as[(Long, Array[Byte])].collect()
    // the pure parser and the JDK provider must agree on the SAMPLES, not
    // just the fingerprint: byte-for-byte equality of the demuxed PCM
    payloads.foreach { case (id, wav) =>
      val parsed = Multimodal.parseRiffWav(wav) match {
        case Multimodal.RiffParse.Pcm16Mono(data) => data
        case other => fail(s"id $id: expected Pcm16Mono, got $other")
      }
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(wav))
      val f = ais.getFormat
      assert(f.getChannels == 1 && f.getSampleSizeInBits == 16 && !f.isBigEndian)
      val ref = ais.readAllBytes()
      assert(java.util.Arrays.equals(parsed, ref),
        s"id $id: parser and javax.sound must demux identical sample bytes")
    }
    // an AIFF twin (big-endian, non-RIFF container) rides the provider
    // fallback and lands on the SAME fingerprint as its WAV original
    val wav0 = payloads.head._2
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(wav0)),
      javax.sound.sampled.AudioFileFormat.Type.AIFF, baos)
    val aiff = baos.toByteArray
    assert(Multimodal.parseRiffWav(aiff) == Multimodal.RiffParse.NotRiff)
    val hs = Multimodal.audioFingerprint64(
        Seq((1L, wav0), (2L, aiff)).toDF("doc_id", "payload"), "doc_id")
      .as[(Long, Option[Long])].collect().toMap
    assert(hs(1L).nonEmpty && hs(1L) == hs(2L))
    // a stereo PCM16 WAV is a WELL-FORMED RIFF the fingerprint rejects
    // outright — no provider resolution, hash NULL
    val stereoPcm = new Array[Byte](4 * 200)
    val sf2 = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, false)
    val sb = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(stereoPcm), sf2, 200L),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, sb)
    val stereoWav = sb.toByteArray
    assert(Multimodal.parseRiffWav(stereoWav) == Multimodal.RiffParse.Rejected)
    assert(Multimodal.audioFingerprint64(
        Seq((9L, stereoWav)).toDF("doc_id", "payload"), "doc_id")
      .as[(Long, Option[Long])].head()._2.isEmpty)
  }

  test("parseRiffWav: crafted chunk sizes near 2^31 hash NULL, never throw") {
    // a valid RIFF/WAVE preamble followed by a chunk whose declared size
    // overflows an Int bounds sum (off + 8 + sz < 0): the corrupt-payload
    // contract is hash-to-NULL, not an executor ArrayIndex/IllegalArgument
    // a WELL-FORMED PCM16-mono fmt chunk precedes the hostile data chunk,
    // so the only defense left is the bounds check itself
    def crafted(sz: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(56).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(48)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1)             // PCM, mono
        .putInt(8000).putInt(16000)          // rates
        .putShort(2).putShort(16)            // block align, bits
        .put("data".getBytes("US-ASCII")).putInt(sz)
      b.array()
    }
    for (sz <- Seq(0x7FFFFFF0, Int.MaxValue, 100))
      assert(Multimodal.parseRiffWav(crafted(sz)) == Multimodal.RiffParse.NotRiff,
        s"size $sz must be rejected as malformed")
    assert(Multimodal.audioFingerprint64(
        Seq((1L, crafted(0x7FFFFFF0))).toDF("doc_id", "payload"), "doc_id")
      .as[(Long, Option[Long])].head()._2.isEmpty)
  }

  test("incrementalEmbeddingPairsLsh == cross-slice of embeddingPairsLsh; slim index; excludeSelf") {
    val rnd = new scala.util.Random(11)
    def jitter(base: Array[Float]): Array[Float] =
      base.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
    val bases = Array.fill(6)(Array.fill(16)(rnd.nextGaussian().toFloat))
    // ids 0-11 = index side (two per family); 100-105 = new side, each a
    // jitter of family i — near its two indexed family members, far from
    // the rest
    val indexRows = (0 until 12).map(i => i.toLong -> jitter(bases(i / 2)))
    val newRows = (0 until 6).map(i => (100L + i) -> jitter(bases(i)))
    val indexDf = indexRows.toDF("vec_id", "embedding")
    val newDf = newRows.toDF("vec_id", "embedding")
    val (p, t, seed, th) = (3, 8, 42L, 0.8)

    val idx = Dedup.embeddingLshIndex(indexDf, "vec_id", "embedding", p, t, seed)
    // slim layout: one vector-bearing row per id, `tables` bucket rows
    assert(idx.filter(col("v").isNotNull).count() == 12L)
    assert(idx.count() == 12L * t)

    val got = Dedup.incrementalEmbeddingPairsLsh(newDf, "vec_id", "embedding",
        idx, th, p, t, seed)
      .as[(Long, Long, Double)].collect().sorted.toSeq

    // the re-oriented cross-slice of the all-pairs operator over the union
    val all = Dedup.embeddingPairsLsh(
        indexDf.unionByName(newDf), "vec_id", "embedding", th, p, t, seed)
      .as[(Long, Long, Double)].collect()
    val want = all.collect {
      case (id1, id2, cos) if id1 < 100L && id2 >= 100L => (id2, id1, cos)
    }.sorted.toSeq
    assert(got == want)
    assert(got.nonEmpty, "fixture must produce cross-slice near-dups")

    // excludeSelf: a re-probed id matches itself only when asked to
    // (0.99: only the identical vector scores that high in this fixture)
    val selfProbe = indexDf.filter(col("vec_id") === 0L)
    assert(Dedup.incrementalEmbeddingPairsLsh(selfProbe, "vec_id", "embedding",
        idx, 0.99, p, t, seed)
      .filter(col("new_id") === col("old_id")).count() == 0L)
    val selfHits = Dedup.incrementalEmbeddingPairsLsh(selfProbe, "vec_id", "embedding",
        idx, 0.99, p, t, seed, excludeSelf = false)
      .as[(Long, Long, Double)].collect().toSeq
    assert(selfHits.exists { case (n, o, c) => n == 0L && o == 0L && c > 0.999 })
  }
}
