package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpec {
  import spark.implicits._

  private val fluent = "the cat and the hat is in the house and it is a good day " * 3

  test("pretrainingPipeline: scrub, filter, dedup transitively, chunk, pack") {
    val docs = Seq(
      (1L, s"$fluent contact me at a.b@example.com"),
      (2L, s"$fluent contact me at a.b@example.com"),       // exact dup of 1
      (3L, s"$fluent contact me at a.b@example.com please"), // near dup of 1
      (4L, "der die das und ist nicht ein zu " * 6),          // German: filtered
      (5L, "x! y? z!!!"),                                     // low quality: filtered
      (6L, "it is a fine morning and the river is calm today so we walk to " +
        "the old market and buy fresh bread and it is good " * 3)
    ).toDF("doc_id", "text")
    val out = Curation.pretrainingPipeline(docs, "doc_id", "text",
      Curation.Config(chunkTokens = 16, chunkStride = 16, packBudgetTokens = 40,
        nearDupThreshold = 0.5))
    val rows = out.select("doc_id", "chunk_id", "chunk_text", "n_tokens", "pack_id")
      .as[(Long, Long, String, Long, Long)].collect().toSeq
    // survivors: 1 (smallest of the transitive {1,2,3} cluster) and 6
    assert(rows.map(_._1).toSet == Set(1L, 6L))
    // PII never reaches the chunks
    assert(rows.forall(!_._3.contains("example.com")))
    assert(rows.exists(_._3.contains("<email>"))) // chunk tokens are lowercased
    // chunking respects the token budget per chunk
    assert(rows.forall(_._4 <= 16))
    // packs fill contiguously from 0
    val packs = rows.map(_._5).distinct.sorted
    assert(packs.head == 0L && packs == (0L to packs.last).toSeq)
  }

  test("pretrainingPipeline with decontamination drops benchmark-overlapping docs") {
    val unique = "it is a fine morning and the river is calm today so we walk " +
      "to the old market and buy fresh bread and it is good"
    val docs = Seq(
      (1L, fluent),           // survives filters; no benchmark overlap
      (6L, unique * 2)        // shares an 8-gram with the benchmark below
    ).toDF("doc_id", "text")
    val benchmark = Seq(s"an eval question mentions: $unique").toDF("text")
    val cfg = Curation.Config(chunkTokens = 16, chunkStride = 16,
      packBudgetTokens = 40, nearDupThreshold = 0.5)
    val without = Curation.pretrainingPipeline(docs, "doc_id", "text", cfg)
      .select("doc_id").distinct().as[Long].collect().toSet
    val withDecon = Curation.pretrainingPipeline(docs, "doc_id", "text", cfg,
        decontaminateAgainst = Some((benchmark, "text")))
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(without == Set(1L, 6L))
    assert(withDecon == Set(1L)) // doc 6 is contaminated
  }

  test("pretrainingPipeline(semanticDecontaminateAgainst) == composition; missing embeddings pass") {
    val unique = "it is a fine morning and the river is calm today so we walk " +
      "to the old market and buy fresh bread and it is good"
    val evening = "it is a good and quiet evening and we read the long book " +
      "by the warm fire and the tea is hot and it is calm"
    val docs = Seq(
      (1L, fluent),        // embedding ~parallel to the benchmark → dropped
      (6L, unique * 2),    // embedding orthogonal → kept
      (7L, evening * 2)    // NO embedding row → passes (the stage contract)
    ).toDF("doc_id", "text")
    val emb = Seq((1L, Seq(1f, 0f, 0f)), (6L, Seq(0f, 1f, 0f))).toDF("id", "v")
    val bench = Seq((100L, Seq(0.95f, 0.05f, 0f))).toDF("bid", "bv")
    val cfg = Curation.Config(chunkTokens = 16, chunkStride = 16,
      packBudgetTokens = 40, nearDupThreshold = 0.5)
    val sd = Curation.SemanticDecontam(emb, "id", "v", bench, "bid", "bv",
      threshold = 0.9)
    val got = Curation.pretrainingPipeline(docs, "doc_id", "text", cfg,
      semanticDecontaminateAgainst = Some(sd))
    assert(got.select("doc_id").distinct().as[Long].collect().toSet == Set(6L, 7L))
    // flag == the explicit composition (the battery row's shape)
    val cur = Curation.curatedCorpus(docs, "doc_id", "text", cfg)
    val corpusEmb = emb.select(col("id").as("__eid"), col("v").as("__evec"))
      .join(cur.select(col("doc_id").as("__eid")), Seq("__eid"), "left_semi")
    val bad = Curation.semanticContaminationHits(corpusEmb, "__eid", "__evec",
        bench, "bid", "bv", threshold = 0.9)
      .select(col("id")).distinct()
    val comp = Curation.chunkAndPack(
      cur.join(bad, cur("doc_id") === bad("id"), "left_anti"),
      "doc_id", "text", cfg)
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select("doc_id", "chunk_id", "chunk_text", "n_tokens", "pack_id")
        .as[(Long, Long, String, Long, Long)].collect().toSeq.sorted
    assert(key(got) == key(comp))
  }

  test("shared persisted prefix: chunkAndPack(curatedCorpusFor) == pretrainingPipeline") {
    val docs = Seq(
      (1L, s"$fluent alpha"),
      (2L, s"$fluent alpha"),
      (3L, s"$fluent alpha beta"),
      (6L, "it is a fine morning and the river is calm today so we walk to " +
        "the old market and buy fresh bread and it is good " * 3)
    ).toDF("doc_id", "text")
    val cfg = Curation.Config(chunkTokens = 16, chunkStride = 16,
      packBudgetTokens = 40, nearDupThreshold = 0.5)
    val whole = Curation.pretrainingPipeline(docs, "doc_id", "text", cfg)
      .as[(Long, Long, String, Long, Long)].collect().sorted.toSeq
    // the two-variant battery shape: one persisted prefix, two suffixes
    val cur = Curation.curatedCorpusFor(docs,
      cacheKey = s"curationspec_${System.nanoTime}", "doc_id", "text", cfg)
    val viaPrefix = Curation.chunkAndPack(cur, "doc_id", "text", cfg)
      .as[(Long, Long, String, Long, Long)].collect().sorted.toSeq
    assert(viaPrefix == whole && whole.nonEmpty)
    val decon = Curation.chunkAndPack(
      Curation.decontaminate(cur, "doc_id", "text",
        docs.filter($"doc_id" === 6L), "text", 8, 1),
      "doc_id", "text", cfg)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(decon == Set(1L)) // doc 6 self-contaminates; {1,2,3} collapse to 1
  }

  test("contaminationHits with Bloom pushdown == exact path (no false negatives)") {
    val unique = "it is a fine morning and the river is calm today so we walk " +
      "to the old market and buy fresh bread and it is good"
    val docs = Seq(
      (1L, fluent),
      (2L, unique * 2),
      (3L, s"prefix words then $unique and a tail"),
      (4L, "completely different words that never shingle with anything here " * 4)
    ).toDF("doc_id", "text")
    val benchmark = Seq(s"an eval question mentions: $unique",
      fluent.take(200)).toDF("text")
    val exact = Curation.contaminationHits(docs, "doc_id", "text",
        benchmark, "text", ngramSize = 8)
      .as[(Long, Long)].collect().sorted.toSeq
    // sweep fpp including an aggressive one — output must stay identical
    // because the exact join scrubs every Bloom false positive
    for (fpp <- Seq(0.5, 0.01)) {
      val bloomed = Curation.contaminationHits(docs, "doc_id", "text",
          benchmark, "text", ngramSize = 8,
          bloom = Some(Curation.BloomConfig(fpp = fpp)))
        .as[(Long, Long)].collect().sorted.toSeq
      assert(bloomed == exact, s"fpp=$fpp")
    }
    assert(exact.nonEmpty)
    // decontaminate through the same pushdown
    val d0 = Curation.decontaminate(docs, "doc_id", "text", benchmark, "text")
      .select("doc_id").as[Long].collect().toSet
    val d1 = Curation.decontaminate(docs, "doc_id", "text", benchmark, "text",
        bloom = Some(Curation.BloomConfig()))
      .select("doc_id").as[Long].collect().toSet
    assert(d1 == d0)
    // sketchKey memoization: first call builds, second reuses the cached
    // sketch (no count/fold jobs) — results stay identical to the exact path
    val key = Some(s"curationspec-memo-${System.nanoTime()}")
    val m1 = Curation.contaminationHits(docs, "doc_id", "text",
        benchmark, "text", ngramSize = 8,
        bloom = Some(Curation.BloomConfig(sketchKey = key)))
      .as[(Long, Long)].collect().sorted.toSeq
    val m2 = Curation.contaminationHits(docs, "doc_id", "text",
        benchmark, "text", ngramSize = 8,
        bloom = Some(Curation.BloomConfig(sketchKey = key)))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(m1 == exact && m2 == exact)
    // the persisted-gram-table path (benchGramsFor → FromGrams) serves
    // identical hits on first build AND on the disk re-read
    val gk = s"curationspec-grams-${System.nanoTime()}"
    (1 to 2).foreach { i =>
      val viaIndex = Curation.contaminationHitsFromGrams(docs, "doc_id", "text",
          Curation.benchGramsFor(benchmark, gk, "text", ngramSize = 8),
          ngramSize = 8)
        .as[(Long, Long)].collect().sorted.toSeq
      assert(viaIndex == exact, s"pass $i")
    }
  }

  test("pretrainingPipeline(nearDupPairs = full-corpus pairs) == the self-contained path") {
    val docs = Seq(
      (1L, s"$fluent alpha"),
      (2L, s"$fluent alpha"),            // exact dup of 1
      (3L, s"$fluent alpha beta"),       // near dup of 1
      (4L, "der die das und ist nicht ein zu " * 6), // filtered out
      (6L, "it is a fine morning and the river is calm today so we walk to " +
        "the old market and buy fresh bread and it is good " * 3)
    ).toDF("doc_id", "text")
    val cfg = Curation.Config(chunkTokens = 16, chunkStride = 16,
      packBudgetTokens = 40, nearDupThreshold = 0.5)
    val self = Curation.pretrainingPipeline(docs, "doc_id", "text", cfg)
      .as[(Long, Long, String, Long, Long)].collect().sorted.toSeq
    // the precomputed table carries FULL-corpus pairs (including pairs with
    // the filtered-out doc 4) — the pipeline must restrict to survivors
    val fullPairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
    val indexed = Curation.pretrainingPipeline(docs, "doc_id", "text", cfg,
        nearDupPairs = Some(fullPairs))
      .as[(Long, Long, String, Long, Long)].collect().sorted.toSeq
    assert(indexed == self)
    assert(self.nonEmpty)
  }

  test("chunkAndPack(removeRepeatedSpans(curatedCorpus)) cuts the corpus-repeated span") {
    val boiler = "subscribe to our newsletter for daily updates and exclusive offers today"
    val docs = Seq(
      (1L, s"it is a fine morning and the river is calm $boiler and we walk on"),
      (2L, s"the old market sells fresh bread and fruit $boiler and the day is long"),
      (3L, "a completely different english document about spark engines and it is good")
    ).toDF("doc_id", "text")
    val cfg = Curation.Config(chunkTokens = 8, chunkStride = 8,
      packBudgetTokens = 16, nearDupThreshold = 0.5)
    val curated = Curation.curatedCorpus(docs, "doc_id", "text", cfg)
    val composed = Curation.chunkAndPack(
        Dedup.removeRepeatedSpans(curated,
          "doc_id", "text", gramSize = 4, minCount = 2, minSpanTokens = 4)
          .drop("n_cut_tokens"),
        "doc_id", "text", cfg)
      .as[(Long, Long, String, Long, Long)].collect().sorted.toSeq
    // the boilerplate span is actually gone from every chunk
    assert(composed.nonEmpty)
    assert(!composed.exists(_._3.contains("subscribe to our newsletter")))
    // and without the span stage it would have survived
    val without = Curation.chunkAndPack(curated, "doc_id", "text", cfg)
      .as[(Long, Long, String, Long, Long)].collect()
    assert(without.exists(_._3.contains("subscribe to our newsletter")))
  }

  test("semanticContaminationHits == driver brute force; decontaminate drops exactly the hit ids") {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    val corpusRows = Seq(
      1L -> Array(1f, 0f, 0f, 0f),     // cos 1.0 to bench 100
      2L -> Array(0.8f, 0.6f, 0f, 0f), // cos 0.8 to bench 100
      3L -> Array(0f, 0f, 1f, 0f),     // orthogonal to both — clean
      4L -> Array(0.6f, 0.8f, 0f, 0f)) // cos 0.8 to bench 101
    val benchRows = Seq(
      100L -> Array(1f, 0f, 0f, 0f),
      101L -> Array(0f, 1f, 0f, 0f))
    val corpus = corpusRows.toDF("vec_id", "embedding")
    val bench = benchRows.toDF("vec_id", "embedding")

    val got = Curation.semanticContaminationHits(corpus, "vec_id", "embedding",
        bench, "vec_id", "embedding", threshold = 0.7)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    val want = (for {
      (cid, cv) <- corpusRows; (bid, bv) <- benchRows
      c = cos(cv, bv) if c >= 0.7
    } yield (cid, bid, c)).sorted
    assert(got == want)
    assert(got.map(_._1).toSet == Set(1L, 2L, 4L))

    val kept = Curation.semanticDecontaminate(corpus, "vec_id", "embedding",
      bench, "vec_id", "embedding", threshold = 0.7)
    // corpus schema preserved; exactly the un-hit items survive
    assert(kept.columns.toSeq == Seq("vec_id", "embedding"))
    assert(kept.select("vec_id").as[Long].collect().toSeq == Seq(3L))
  }

  test("semanticContaminationHits: inclusive threshold, empty benchmark, broadcast guard") {
    val corpus = Seq(1L -> Array(1f, 0f)).toDF("vec_id", "embedding")
    val bench = Seq(100L -> Array(1f, 0f)).toDF("vec_id", "embedding")
    // identical unit vectors score exactly 1.0, and >= keeps the boundary
    assert(Curation.semanticContaminationHits(corpus, "vec_id", "embedding",
      bench, "vec_id", "embedding", threshold = 1.0).count() == 1L)
    // an empty suite contaminates nothing and the filter is the identity
    val none = bench.filter(col("vec_id") < 0L)
    assert(Curation.semanticContaminationHits(corpus, "vec_id", "embedding",
      none, "vec_id", "embedding", threshold = 0.0).count() == 0L)
    assert(Curation.semanticDecontaminate(corpus, "vec_id", "embedding",
      none, "vec_id", "embedding", threshold = 0.0).count() == 1L)
    // the broadcast contract is enforced, not assumed
    val big = Seq(100L, 101L, 102L).map(_ -> Array(1f, 0f)).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Curation.semanticContaminationHits(corpus, "vec_id", "embedding",
        big, "vec_id", "embedding", threshold = 0.5, maxBenchmark = 2L)
    }
    assert(e.getMessage.contains("semanticContaminationHitsLsh"))
  }

  test("semanticContaminationHitsLsh == driver mirror (code overlap + cosine); subset of exact; tuned default") {
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val corpusRows = (100L until 180L).map(_ -> vec())
    // half the suite vectors are jittered corpus vectors, so real hits exist
    val benchRows = (0L until 20L).map { i =>
      i -> (if (i % 2 == 0) corpusRows(i.toInt * 3)._2.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
            else vec())
    }
    val corpus = corpusRows.toDF("vec_id", "embedding")
    val bench = benchRows.toDF("vec_id", "embedding")
    val (planes, tables, seed, th) = (3, 8, 42L, 0.4)

    val got = Curation.semanticContaminationHitsLsh(corpus, "vec_id", "embedding",
        bench, "vec_id", "embedding", th, planes, tables, seed)
      .as[(Long, Long, Double)].collect().sorted.toSeq

    // driver mirror: bucket-code overlap (the engine's own per-vector code
    // path) + the GoldenGen sequential-cosine accumulation order
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < 16) { val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; nx += x * x; ny += y * y; i += 1 }
      dot / (math.sqrt(nx) * math.sqrt(ny))
    }
    def codes(v: Array[Float]) =
      Similarity.queryBucketCodes(v.toSeq, planes, tables, seed).toSet
    val want = (for {
      (cid, cv) <- corpusRows; (bid, bv) <- benchRows
      if codes(cv).intersect(codes(bv)).nonEmpty
      c = cos(cv, bv) if c >= th
    } yield (cid, bid, c)).sorted
    assert(got == want)
    assert(want.nonEmpty, "fixture must produce real hits")

    // subset of the exact broadcast path, with identical cos values
    val exact = Curation.semanticContaminationHits(corpus, "vec_id", "embedding",
        bench, "vec_id", "embedding", th)
      .as[(Long, Long, Double)].collect().toSet
    assert(got.forall(exact.contains))

    // the density-tuned default (planes = tables = 0) is still a
    // verified-hits subset of exact
    val tuned = Curation.semanticContaminationHitsLsh(corpus, "vec_id", "embedding",
        bench, "vec_id", "embedding", th)
      .as[(Long, Long, Double)].collect().toSet
    assert(tuned.forall(exact.contains))
  }

  test("attritionReport: first-drop stage per doc, kept == pipeline survivors") {
    val base = "the quick brown fox jumps over the lazy dog while the clever " +
      "student reads an old book about lakes and forests near the quiet " +
      "village where people gather in the evening to share warm bread"
    val secret = "the secret benchmark phrase about rivers mountains and valleys"
    val docs = Seq(
      (1L, "der hund und die katze ist nicht ein zu haus und die sonne"),
      (2L, "the cat and the dog live in a house of wood today"),
      (3L, "the cat and the dog live in a house of wood today"), // exact dup of 2
      (4L, s"$base and then some closing words"),
      (5L, s"$base and then some closing lines"),               // near dup of 4
      (6L, s"it is known that $secret flows in the story we tell"),
      (7L, "the weather in the town is mild and the sky is blue"),
      (8L, "the engine runs the query and the results are fast and good")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, secret)).toDF("bid", "btext")
    val emb = Seq((7L, Array(1f, 0f, 0f))).toDF("eid", "vec")
    val suite = Seq((900L, Array(1f, 0f, 0f))).toDF("sid", "svec")
    val cfg = Curation.Config(minQuality = 0.0, nearDupThreshold = 0.5)
    val sd = Curation.SemanticDecontam(emb, "eid", "vec",
      suite, "sid", "svec", threshold = 0.9)
    val report = Curation.attritionReport(docs, "doc_id", "text", cfg,
      decontaminateAgainst = Some((bench, "btext")),
      semanticDecontaminateAgainst = Some(sd))
    val got = report.as[(Long, Int, String)].collect()
    // exactly one row per raw document
    assert(got.map(_._1).sorted.toSeq == (1L to 8L).toSeq)
    val byId = got.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byId(1L) == ((1, "lang_quality")))
    assert(byId(3L) == ((2, "exact_dup")))
    assert(byId(5L) == ((3, "near_dup")))
    assert(byId(6L) == ((4, "decontam")))
    assert(byId(7L) == ((5, "semantic_decontam")))
    assert(Seq(2L, 4L, 8L).forall(byId(_) == ((6, "kept"))))
    // the kept set is the doc-level survivor set of the pipeline with the
    // same arguments (explicit stage composition)
    val cur = Curation.decontaminate(
      Curation.curatedCorpus(docs, "doc_id", "text", cfg),
      "doc_id", "text", bench, "btext", cfg.decontamNgram, cfg.decontamMinHits)
    val semBad = Curation.semanticContaminationHits(
        emb.join(cur.select(col("doc_id").as("eid")), Seq("eid"), "left_semi"),
        "eid", "vec", suite, "sid", "svec", 0.9)
      .select(col("id")).distinct()
    val survivors = cur.join(semBad, cur("doc_id") === semBad("id"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(got.filter(_._3 == "kept").map(_._1).toSet == survivors)
  }

  test("contaminationAttribution: per-item pairing, counts exact, ids == hits ids") {
    val b1 = "the secret benchmark phrase about rivers mountains and valleys" // 9 words -> 2 8-grams
    val b2 = "the hidden test question about oceans and the deep blue water"  // 11 words -> 4 8-grams
    val docs = Seq(
      (1L, s"intro words $b1 and some trailing text"),
      (2L, "we note that the hidden test question about oceans and the story ends"), // w1..w8 of b2 only
      (3L, s"first comes $b1 and then also $b2 at the end"),
      (4L, "a completely clean document about cooking pasta with garlic and oil")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, b1), (200L, b2)).toDF("bid", "btext")
    val got = Curation.contaminationAttribution(docs, "doc_id", "text",
        bench, "bid", "btext")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 100L, 2L), (2L, 200L, 1L), (3L, 100L, 2L), (3L, 200L, 4L)))
    // the attributed doc set is exactly the contaminationHits doc set
    val hitIds = Curation.contaminationHits(docs, "doc_id", "text",
        bench, "btext")
      .filter(col("n_hits") >= 1).select("id").as[Long].collect().toSet
    assert(got.map(_._1) == hitIds)
    // minHits filters PAIRS, not docs: at 2, doc 2's single-gram pairing
    // drops while doc 3 keeps both of its rows
    val strict = Curation.contaminationAttribution(docs, "doc_id", "text",
        bench, "bid", "btext", minHits = 2L)
      .as[(Long, Long, Long)].collect().toSet
    assert(strict == Set((1L, 100L, 2L), (3L, 100L, 2L), (3L, 200L, 4L)))
  }

  test("attritionReport: disabled stages drop nothing") {
    val docs = Seq(
      (1L, "the cat and the dog live in a house of wood today"),
      (2L, "the engine runs the query and the results are fast and good")
    ).toDF("doc_id", "text")
    val report = Curation.attritionReport(docs, "doc_id", "text",
        Curation.Config(minQuality = 0.0))
      .as[(Long, Int, String)].collect()
    assert(report.forall(_._3 == "kept"))
    assert(report.map(_._1).sorted.toSeq == Seq(1L, 2L))
  }
}
