package graft.streaming

import graft.SparkSpec
import graft.operators.{Dedup, PathCommit}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class DocumentStreamsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  test("streaming ingest-dedup drops history dups, in-batch dups, and cross-batch dups") {
    implicit val sqlCtx = spark.sqlContext
    val indexPath = tmp("graft_idx")
    val outPath = tmp("graft_lake")

    // history: 3 documents, index persisted up front (the nightly job)
    val history = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely unrelated text about spark query engines and distributed joins"),
      (3L, "another fully distinct document mentioning embeddings and similarity search")
    ).toDF("doc_id", "text")
    PathCommit.seed(
      Dedup.minhashBandIndex(history, "doc_id", "text"), indexPath)

    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val q = DocumentStreams.ingestDedup(stream, "doc_id", "text",
      indexPath, outPath, threshold = 0.5).start()
    try {
      // batch 1: 10 ~ history doc 1 (dropped), 11 novel (kept),
      // 12 ~ 11 within the batch (dropped, larger id)
      mem.addData(
        (10L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
        (11L, "a brand new article describing winnowing fingerprints and rolling hashes"),
        (12L, "a brand new article describing winnowing fingerprints and rolling hash"))
      q.processAllAvailable()
      // batch 2: 20 ~ batch-1 survivor 11 (dropped — the index GREW),
      // 21 novel (kept)
      mem.addData(
        (20L, "a brand new article describing winnowing fingerprints and rolling hashes"),
        (21L, "entirely fresh content on bucketed joins and adaptive query execution"))
      q.processAllAvailable()
    } finally q.stop()

    val lake = spark.read.parquet(outPath)
    assert(lake.select("doc_id").as[Long].collect().toSet == Set(11L, 21L))
    // idempotence marker rides along
    assert(lake.columns.contains("__batch_id"))
    // the index holds exactly history + the two survivors
    val idxIds = spark.read.parquet(indexPath)
      .select("id").distinct().as[Long].collect().toSet
    assert(idxIds == Set(1L, 2L, 3L, 11L, 21L))
    // and probing it with yet another near-dup of 21 finds the collision
    val probe = Seq((30L, "entirely fresh content on bucketed joins and adaptive query executions"))
      .toDF("doc_id", "text")
    val hits = Dedup.incrementalNearDups(probe, "doc_id", "text",
        spark.read.parquet(indexPath), threshold = 0.5)
      .select("old_id").as[Long].collect().toSet
    assert(hits == Set(21L))
  }

  test("doc loop: published doc re-sent under its own id in a later batch is dropped") {
    val indexPath = tmp("graft_idx_resend")
    val outPath = tmp("graft_lake_resend")
    val doc = (1L, "the quick brown fox jumps over the lazy dog near the river bank today")
    PathCommit.seed(
      Dedup.minhashBandIndex(Seq(doc).toDF("doc_id", "text"), "doc_id", "text"),
      indexPath)
    // the same (id, text) arrives again — at-least-once ACROSS batch ids
    // (a source-level replay, not a foreachBatch retry): the same-id index
    // match must drop it, not publish a duplicate lake row for id 1
    DocumentStreams.processBatch(Seq(doc).toDF("doc_id", "text"), 5L,
      "doc_id", "text", indexPath, outPath, 3, 128, 32, 0.5)
    // zero survivors → nothing written to the lake at all
    assert(!new java.io.File(outPath).listFiles()
      .exists(_.getName.startsWith("__batch_id=")))
    assert(spark.read.parquet(indexPath).select("id").distinct()
      .as[Long].collect().toSet == Set(1L))
  }

  test("ingestCurated: admission, scrub, exact+near dedup across batches; == batch prefix") {
    implicit val sqlCtx = spark.sqlContext
    val exactIdx = tmp("graft_exact_idx")
    val bandIdx = tmp("graft_band_idx")
    val outPath = tmp("graft_curated_lake")
    // the index dirs must not pre-exist for the bootstrap path
    java.nio.file.Files.delete(java.nio.file.Paths.get(exactIdx))
    java.nio.file.Files.delete(java.nio.file.Paths.get(bandIdx))

    val fluent = "the cat and the hat is in the house and it is a good day " * 3
    val novel = "it is a fine morning and the river is calm today so we walk to " +
      "the old market and buy fresh bread and it is good " * 3
    val cfg = graft.operators.Curation.Config(nearDupThreshold = 0.5)

    val b1 = Seq(
      (1L, s"$fluent contact me at a.b@example.com"), // kept, scrubbed
      (2L, "der die das und ist nicht ein zu " * 6),  // German: filtered
      (3L, "x! y? z!!!"),                              // low quality: filtered
      (4L, s"$fluent contact me at a.b@example.com"), // exact dup of 1 in-batch
      (5L, novel))                                     // kept
    val b2 = Seq(
      (10L, s"$fluent contact me at a.b@example.com"), // exact dup of history 1
      (11L, s"$fluent contact me at a.b@example.com please"), // near-dup of history 1
      (12L, "completely unrelated text about spark query engines and the " +
        "distributed joins that it is running today and it is a good engine " * 2))

    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val q = DocumentStreams.ingestCurated(stream, "doc_id", "text", cfg,
      exactIdx, bandIdx, outPath).start()
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()

    val lake = spark.read.parquet(outPath)
    val kept = lake.select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 5L, 12L))
    // PII never reaches the lake; the scrub tag does
    val texts = lake.select("text").as[String].collect()
    assert(texts.forall(!_.contains("example.com")))
    assert(texts.exists(_.contains("<EMAIL>")))
    // both indices grew to exactly the survivors
    assert(spark.read.parquet(bandIdx).select("id").distinct()
      .as[Long].collect().toSet == kept)
    assert(spark.read.parquet(exactIdx).count() == 3)
    // first-arrival-wins == the batch prefix when dups arrive after
    // originals: same survivor set as Curation.curatedCorpus over the
    // full corpus
    val all = (b1 ++ b2).toDF("doc_id", "text")
    val batchIds = graft.operators.Curation
      .curatedCorpus(all, "doc_id", "text", cfg)
      .select("doc_id").as[Long].collect().toSet
    assert(batchIds == kept)
    // a third run of the same data is fully suppressed (replay idempotence
    // at the dedup level: every doc is now an exact dup of history)
    DocumentStreams.processCuratedBatch((b1 ++ b2).toDF("doc_id", "text"),
      99L, "doc_id", "text", cfg, exactIdx, bandIdx, outPath, 3, 128, 32)
    assert(spark.read.parquet(outPath).count() == 3)
  }

  test("ingestCurated decontamGrams: contaminated docs never publish or index; unpublished never suppresses") {
    implicit val sqlCtx = spark.sqlContext
    val exactIdx = tmp("graft_dc_exact"); val bandIdx = tmp("graft_dc_band")
    val outPath = tmp("graft_dc_lake")
    Seq(exactIdx, bandIdx).foreach(p =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(p)))
    val secret = "the famous benchmark question about the speed of light in a vacuum"
    val cfg = graft.operators.Curation.Config(nearDupThreshold = 0.5)
    // the suite gram table is PREBUILT (the benchGramsFor contract)
    val grams = graft.operators.Curation.benchGramTable(
      Seq((100L, secret)).toDF("bid", "btext"), "btext", cfg.decontamNgram)
      .persist()
    // 1 and 11 share a LONG identical base of mostly-DISTINCT words
    // (repetition adds no distinct shingles — a repeated sentence
    // contributes ~15 trigrams no matter how many copies) so their
    // shingle Jaccard clears the 0.5 threshold; 11's middle swaps every
    // few words of the secret, so no 8-gram of the suite survives in it
    val base = "the quick brown fox jumps over a lazy dog while some clever " +
      "young student reads an old book about rivers and mountains near " +
      "this quiet village where many kind people gather to share warm " +
      "bread with sweet tea during one long summer evening as happy birds sing"
    val b1 = Seq(
      (1L, s"$base and then $secret and more words follow here"), // contaminated
      (2L, "completely unrelated text about spark query engines and the " +
        "distributed joins that it is running today and it is a good engine " * 2))
    // 11: near-dup of CONTAMINATED 1 (same base) WITHOUT the suite
    // gram — 1 never published, so 11 must not be suppressed by it
    val b2 = Seq(
      (11L, s"$base and then the handy reference question about the pace " +
        "of sound in a tunnel and more words follow here"))
    val mem = MemoryStream[(Long, String)]
    val q = DocumentStreams.ingestCurated(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", cfg, exactIdx, bandIdx, outPath,
      decontamGrams = Some(grams)).start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val kept = spark.read.parquet(outPath)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 11L))
    // the contaminated doc reached NO sink: lake, band index, hash index
    assert(spark.read.parquet(bandIdx).select("id").distinct()
      .as[Long].collect().toSet == Set(2L, 11L))
    assert(spark.read.parquet(exactIdx).count() == 2)
    // counterfactual pin (the test is not vacuous): WITHOUT the stage,
    // doc 1 publishes and its band-index entry SUPPRESSES near-dup 11
    val exactIdx2 = tmp("graft_dc_exact2"); val bandIdx2 = tmp("graft_dc_band2")
    val outPath2 = tmp("graft_dc_lake2")
    Seq(exactIdx2, bandIdx2).foreach(p =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(p)))
    DocumentStreams.processCuratedBatch(b1.toDF("doc_id", "text"), 0L,
      "doc_id", "text", cfg, exactIdx2, bandIdx2, outPath2, 3, 128, 32)
    DocumentStreams.processCuratedBatch(b2.toDF("doc_id", "text"), 1L,
      "doc_id", "text", cfg, exactIdx2, bandIdx2, outPath2, 3, 128, 32)
    assert(spark.read.parquet(outPath2)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    grams.unpersist()
  }

  test("compactIndex: history content preserved, partitions consolidated, loop unaffected") {
    val indexPath = tmp("graft_c_idx"); val outPath = tmp("graft_c_lake")
    Seq(outPath).foreach(p =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(p)))
    def doc(i: Long, tail: String) =
      (i, s"a long enough document about streaming compaction and indexes $tail")
    // seeded index (the loop's contract) + three committed batches
    PathCommit.seed(
      Dedup.minhashBandIndex(
        Seq((100L, "an entirely separate seed document about nothing in particular here"))
          .toDF("doc_id", "text"),
        "doc_id", "text"),
      indexPath)
    DocumentStreams.processBatch(Seq(doc(1L, "alpha alpha")).toDF("doc_id", "text"),
      0L, "doc_id", "text", indexPath, outPath, 3, 128, 32, 0.5)
    DocumentStreams.processBatch(
      Seq((2L, "completely different text about graph algorithms and pagerank today"))
        .toDF("doc_id", "text"),
      1L, "doc_id", "text", indexPath, outPath, 3, 128, 32, 0.5)
    DocumentStreams.processBatch(
      Seq((3L, "a third unrelated piece mentioning tokenizers and byte level encodings"))
        .toDF("doc_id", "text"),
      2L, "doc_id", "text", indexPath, outPath, 3, 128, 32, 0.5)
    val before = spark.read.parquet(indexPath)
      .select("id", "band", "bh").as[(Long, Int, Long)].collect().toSet
    PathCommit.compactIntoSeed(spark, indexPath, uptoBatch = 1L, targetFiles = 1)(identity)
    // content identical, partitions consolidated to {-1, 2}
    val after = spark.read.parquet(indexPath)
    assert(after.select("id", "band", "bh")
      .as[(Long, Int, Long)].collect().toSet == before)
    assert(after.select("__batch_id").distinct().as[Long].collect().toSet ==
      Set(-1L, 2L))
    // the loop continues against compacted history: a near-dup of the
    // COMPACTED batch-0 doc still drops, a fresh doc still publishes
    DocumentStreams.processBatch(Seq(
        doc(10L, "alpha alphas"),
        (11L, "yet another novel document on winnowing and rolling hash windows"))
      .toDF("doc_id", "text"),
      3L, "doc_id", "text", indexPath, outPath, 3, 128, 32, 0.5)
    assert(spark.read.parquet(outPath).select("doc_id").as[Long]
      .collect().toSet == Set(1L, 2L, 3L, 11L))
    // a RETRY of the uncompacted batch 2 is still idempotent
    DocumentStreams.processBatch(
      Seq((3L, "a third unrelated piece mentioning tokenizers and byte level encodings"))
        .toDF("doc_id", "text"),
      2L, "doc_id", "text", indexPath, outPath, 3, 128, 32, 0.5)
    assert(spark.read.parquet(outPath).filter(col("doc_id") === 3L).count() == 1L)
    // compacting everything (uptoBatch covers all) leaves one partition
    PathCommit.compactIntoSeed(spark, indexPath, uptoBatch = 3L, targetFiles = 1)(identity)
    assert(spark.read.parquet(indexPath).select("__batch_id").distinct()
      .as[Long].collect().toSet == Set(-1L))
    assert(spark.read.parquet(indexPath).select("id").distinct()
      .as[Long].collect().toSet ==
      Set(100L, 1L, 2L, 3L, 11L)) // 10 was dropped, never indexed
  }

  test("curated-ingest metrics sink: per-stage counts sum to n_in, retry rewrites") {
    val exactIdx = tmp("graft_m_exact"); val bandIdx = tmp("graft_m_band")
    val outPath = tmp("graft_m_lake"); val mPath = tmp("graft_m_metrics")
    Seq(exactIdx, bandIdx, mPath).foreach(p =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(p)))
    val fluent = "the cat and the hat is in the house and it is a good day " * 3
    val secret = "the famous benchmark question about the speed of light in a vacuum"
    val cfg = graft.operators.Curation.Config(nearDupThreshold = 0.5)
    val grams = graft.operators.Curation.benchGramTable(
      Seq((100L, secret)).toDF("bid", "btext"), "btext", cfg.decontamNgram)
    val b0 = Seq(
      (1L, s"$fluent and then $secret appears here"),        // contaminated
      (2L, "the spark engine joins the tables and it is a good plan today " * 2),
      (3L, "the spark engine joins the tables and it is a good plan today " * 2), // exact dup of 2
      (4L, "der die das und ist nicht ein zu " * 6))          // filtered
    val b1 = Seq(
      (12L, "the spark engine joins the tables and it is a good plan today " * 2), // exact replay of published 2
      (13L, "a completely fresh document about the weather and the sea and the sun"))
    DocumentStreams.processCuratedBatch(b0.toDF("doc_id", "text"), 0L,
      "doc_id", "text", cfg, exactIdx, bandIdx, outPath, 3, 128, 32,
      Some(grams), Some(mPath))
    DocumentStreams.processCuratedBatch(b1.toDF("doc_id", "text"), 1L,
      "doc_id", "text", cfg, exactIdx, bandIdx, outPath, 3, 128, 32,
      Some(grams), Some(mPath))
    def metrics(batch: Long): (Long, Long, Long, Long, Long, Long, Long, Long) =
      spark.read.parquet(mPath)
        .filter(col("__batch_id") === batch)
        .select("n_in", "n_filtered", "n_exact_dup", "n_exact_history",
          "n_dup_history", "n_dup_batch", "n_contaminated", "n_published")
        .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
        .collect().toSeq match { case Seq(m) => m }
    assert(metrics(0L) == ((4L, 1L, 1L, 0L, 0L, 0L, 1L, 1L)))
    assert(metrics(1L) == ((2L, 0L, 0L, 1L, 0L, 0L, 0L, 1L)))
    // every stage count is a drop tally: they sum to n_in
    val m0 = metrics(0L)
    assert(m0._2 + m0._3 + m0._4 + m0._5 + m0._6 + m0._7 + m0._8 == m0._1)
    // retrying a batch rewrites its metrics partition, never appends
    DocumentStreams.processCuratedBatch(b1.toDF("doc_id", "text"), 1L,
      "doc_id", "text", cfg, exactIdx, bandIdx, outPath, 3, 128, 32,
      Some(grams), Some(mPath))
    assert(spark.read.parquet(mPath).count() == 2L)
    assert(metrics(1L) == ((2L, 0L, 0L, 1L, 0L, 0L, 0L, 1L)))
  }

  test("metrics: a doc near-dupping TWO published docs counts ONCE in n_dup_history") {
    // the history probe emits one row per (new, old) match — counting
    // rows overcounted multi-match docs and drove n_dup_batch (a
    // difference) negative; the fixture publishes two mutually-far docs
    // and then sends one doc near BOTH
    val exactIdx = tmp("graft_mm_exact"); val bandIdx = tmp("graft_mm_band")
    val outPath = tmp("graft_mm_lake"); val mPath = tmp("graft_mm_metrics")
    Seq(exactIdx, bandIdx, mPath).foreach(p =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(p)))
    val cfg = graft.operators.Curation.Config(nearDupThreshold = 0.3)
    val sentA = "the quick brown fox jumps over the lazy dog near the river bank today "
    val sentB = "many people enjoy reading interesting books about science and history every evening "
    val b0 = Seq((1L, sentA * 4), (2L, sentB * 4))
    val b1 = Seq((10L, sentA * 2 + sentB * 2))
    DocumentStreams.processCuratedBatch(b0.toDF("doc_id", "text"), 0L,
      "doc_id", "text", cfg, exactIdx, bandIdx, outPath, 3, 128, 32,
      None, Some(mPath))
    DocumentStreams.processCuratedBatch(b1.toDF("doc_id", "text"), 1L,
      "doc_id", "text", cfg, exactIdx, bandIdx, outPath, 3, 128, 32,
      None, Some(mPath))
    // both seeds published and far apart; the mixed doc matched BOTH
    assert(spark.read.parquet(outPath).select("doc_id").as[Long]
      .collect().toSet == Set(1L, 2L))
    val m1 = spark.read.parquet(mPath).filter(col("__batch_id") === 1L)
      .select("n_in", "n_dup_history", "n_dup_batch", "n_published")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(m1 == Seq((1L, 1L, 0L, 0L)))
  }

  test("curated-ingest batch retry is idempotent, incl. after a partial attempt") {
    val exactIdx = tmp("graft_r_exact")
    val bandIdx = tmp("graft_r_band")
    val outPath = tmp("graft_r_lake")
    Seq(exactIdx, bandIdx).foreach(p =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(p)))
    val cfg = graft.operators.Curation.Config(nearDupThreshold = 0.5)
    val good1 = "it is a fine morning and the river is calm today so we " +
      "walk to the old market and buy fresh bread and it is good " * 3
    val good2 = "the cat and the hat is in the house and it is a good day " * 3
    val b0 = Seq((1L, good1), (2L, good2)).toDF("doc_id", "text")

    // full replay of an already-committed batch (at-least-once): the
    // partition rewrite must not duplicate lake or index rows
    DocumentStreams.processCuratedBatch(b0, 0L, "doc_id", "text", cfg,
      exactIdx, bandIdx, outPath, 3, 128, 32)
    DocumentStreams.processCuratedBatch(b0, 0L, "doc_id", "text", cfg,
      exactIdx, bandIdx, outPath, 3, 128, 32)
    assert(spark.read.parquet(outPath).count() == 2)
    assert(spark.read.parquet(exactIdx).count() == 2)
    assert(spark.read.parquet(bandIdx).select("id").distinct().count() == 2)

    // PARTIAL first attempt: batch 1's band rows reached the index but the
    // lake write never happened (the failure window the ADVICE flagged).
    // The retry must not see its own half-written rows as "history" and
    // suppress the whole batch — that would be silent data loss.
    val good3 = "completely unrelated text about spark query engines and " +
      "the distributed joins that it is running today and it is good " * 2
    val b1 = Seq((10L, good3)).toDF("doc_id", "text")
    Dedup.minhashBandIndex(
        b1.withColumn("text", graft.functions.TextFunctions.scrubPii($"text")),
        "doc_id", "text")
      .withColumn("__batch_id", lit(1L))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch_id").parquet(bandIdx)
    DocumentStreams.processCuratedBatch(b1, 1L, "doc_id", "text", cfg,
      exactIdx, bandIdx, outPath, 3, 128, 32)
    assert(spark.read.parquet(outPath).select("doc_id")
      .as[Long].collect().toSet == Set(1L, 2L, 10L))
  }

  test("heavyTokensStream: state accumulates across batches, MG bounds on overflow") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val stream = mem.toDF().toDF("lang", "text")
    val q = DocumentStreams.heavyTokensStream(stream, "lang", "text", k = 4)
      .toDF("g", "summary")
      .writeStream.format("memory").queryName("hh_stream")
      .outputMode("update").start()
    try {
      mem.addData(("en", "a a a b"), ("en", "b c"))
      q.processAllAvailable()
      mem.addData(("en", "a c d"), ("de", "x x y"))
      q.processAllAvailable()
      val rows = spark.table("hh_stream")
        .as[(String, Seq[(String, Long)])].collect()
      // exact regime (distinct = 4 = k): cumulative exact counts, both
      // groups, latest update per group wins
      val en = rows.filter(_._1 == "en").last._2
      assert(en == Seq(("a", 4L), ("b", 2L), ("c", 2L), ("d", 1L)))
      val de = rows.filter(_._1 == "de").last._2
      assert(de == Seq(("x", 2L), ("y", 1L)))
      // overflow: a 5th distinct token trips one MG reduction; heavy 'a'
      // must survive with count within the n/(k+1) bound (n=12, slack 2)
      mem.addData(("en", "e"))
      q.processAllAvailable()
      val after = spark.table("hh_stream")
        .as[(String, Seq[(String, Long)])].collect()
        .filter(_._1 == "en").last._2.toMap
      assert(after.size <= 4)
      assert(after.contains("a") && after("a") >= 4L - 2L && after("a") <= 4L)
    } finally q.stop()
  }

  test("re-seeding a path evicts readHistory's schema memo: the new column is read") {
    val path = tmp("graft_reseed")
    PathCommit.seed(Seq((1L, "a")).toDF("id", "x"), path)
    assert(PathCommit.history(spark, path, 0L).get.columns.toSet ==
      Set("id", "x", "__batch_id"))
    // a stale memo would read the new files through the old schema and
    // silently drop `y`
    PathCommit.seed(Seq((2L, "b", 7L)).toDF("id", "x", "y"), path)
    val h = PathCommit.history(spark, path, 0L).get
    assert(h.select("id", "y").as[(Long, Long)].collect().toSeq == Seq((2L, 7L)))
  }
}
