package graft

import graft.operators.Multimodal
import org.apache.spark.sql.functions._

/** One family section of the LLM-data-pipeline extension
  * battery (split out of ExtQueries.scala at round 19 — no
  * behavior change; see [[ExtQueries.all]] for the union).
  */
private[graft] object IngestLoopBattery {
  import Queries.{Q, table}
  import BatteryUtil._


  val queries: Seq[(String, Q)] = Seq(
    "q_doc_ingest_stream" -> Q(
      (s, dir) => runDocIngest(s, dir, compactAfterBatch1 = false),
      // pair relation = the committed golden minhash pairs (battery
      // params, independently gated by q_dedup_minhash); the CTE chain
      // replays the loop: drop vs published history, then in-batch id2
      // drops among history-probe survivors, index grows by survivors
      docIngestOracle),

    // INDEX COMPACTION MUST BE INVISIBLE — the MINHASH BAND family
    // (round-18, completing the compaction-twin matrix the embed/BM25
    // twins started): the q_doc_ingest_stream protocol with
    // [[graft.operators.PathCommit.compactIntoSeed]] run between
    // batches 1 and 2 — the seed + batch-1 band-index partitions
    // consolidate (asserted: one __batch_id dir), then batch 2 probes
    // compacted history. Same oracle as the uncompacted row: identical
    // published rows, or the gate goes red.
    "q_doc_compact_loop" -> Q(
      (s, dir) => runDocIngest(s, dir, compactAfterBatch1 = true),
      docIngestOracle),

    // The FULL streaming curation loop under one oracle hash (was
    // spec-only: DocumentStreamsSpec pinned the stage semantics, but no
    // driver gate composed them): admission → scrub → exact dedup
    // (in-batch + history hash index) → first-arrival-wins near-dedup
    // (in-batch + growing band index) → n-gram decontamination →
    // publish, three batches bootstrapped from EMPTY indices. The
    // oracle unrolls the three batches over the admission CTEs + golden
    // pair fixture + suite-gram CTEs — see [[BatteryUtil
    // .curatedIngestChain]] for the composition argument. Like every
    // golden-anchored loop oracle (docIngestOracle), the pair fixture
    // pins this oracle to the sf0.01 corpus the driver gates at; the
    // row itself runs at any SF.
    "q_curated_ingest_stream" -> Q(
      (s, dir) => {
        val (outP, _) = runCuratedIngest(s, dir)
        s.read.parquet(outP)
          .select(col("doc_id"), col("__batch_id").cast("long").as("batch_id"))
      },
      curatedIngestOracle),

    // The loop's ATTRITION-METRICS sink (COVERAGE's streaming funnel row,
    // was spec-only): one row per micro-batch with per-stage drop counts
    // summing to n_in — every count recomputed by the oracle as a
    // cardinality of the same chain, so a funnel that drops the right
    // docs for the wrong stage-attribution reasons still goes red.
    "q_curated_metrics_stream" -> Q(
      (s, dir) => {
        val (_, metP) = runCuratedIngest(s, dir)
        s.read.parquet(metP)
          .select(col("__batch_id").cast("long").as("batch_id"),
            col("n_in"), col("n_filtered"), col("n_exact_dup"),
            col("n_exact_history"), col("n_dup_history"),
            col("n_dup_batch"), col("n_contaminated"), col("n_published"))
      },
      curatedMetricsOracle),
  ) ++ ingestLoopQueries2


  private lazy val ingestLoopQueries2: Seq[(String, Q)] = Seq(
    "q_media_ingest_stream" -> Q(
      (s, dir) => {
        // fixed 500-image input — the q_doc_ingest_stream contract
        val imgs = Multimodal.withGradientImagePayload(
          table(s, dir, "documents").select("doc_id")
            .filter(col("doc_id") < 500).repartition(32),
          "doc_id")
        val base = Queries.tempDir("graft_mediaingest")
        val idxPath = s"$base/idx"; val outPath = s"$base/out"
        val hasher = (df: org.apache.spark.sql.DataFrame, id: String) =>
          Multimodal.dHash64(df, id)
        // bootstraps from the absent index: batch 0 has no history
        (0 until 3).foreach { i =>
          graft.streaming.MediaStreams.processMediaBatch(
            imgs.filter(col("doc_id") % 3 === i), i.toLong, "doc_id",
            hasher, idxPath, outPath, maxDistance = 3)
        }
        s.read.parquet(outPath)
          .select(col("doc_id"), col("__batch_id").cast("long").as("batch_id"))
      },
      // the q_image_neardup hash arithmetic (real codec on the engine
      // side, pure SQL on the oracle side) + the same loop simulation
      Some(s"""${imageHashCtes("""
                     WHERE doc_id < 500""")},
        pr AS (SELECT a.id AS id1, b.id AS id2
               FROM h a JOIN h b ON a.id < b.id
               WHERE bit_count(xor(a.sh, b.sh)) <= 3),$mediaLoopSql""")),

    "q_video_ingest_stream" -> Q(
      (s, dir) => {
        // fixed 500-clip input — the q_doc_ingest_stream contract
        val clips = Multimodal.withVideoPayload(
          table(s, dir, "documents").select("doc_id")
            .filter(col("doc_id") < 500).repartition(32),
          "doc_id", nFrames = 8)
        val base = Queries.tempDir("graft_videoingest")
        val idxPath = s"$base/idx"; val outPath = s"$base/out"
        val hasher = (df: org.apache.spark.sql.DataFrame, id: String) =>
          Multimodal.videoFrameHashes(df, id, everyNth = 2)
        (0 until 3).foreach { i =>
          graft.streaming.MediaStreams.processVideoBatch(
            clips.filter(col("doc_id") % 3 === i), i.toLong, "doc_id",
            hasher, idxPath, outPath, maxDistance = 3, minMatchFrac = 0.5)
        }
        s.read.parquet(outPath)
          .select(col("doc_id"), col("__batch_id").cast("long").as("batch_id"))
      },
      // the q_video_neardup frame-hash arithmetic + the clip verdict
      // (n_matched >= frac * min(frames)) + the same loop simulation
      Some(s"""${videoMatchCtes("""
                     WHERE doc_id < 500""", "nm")},
        pr AS (SELECT id1, id2
               FROM m JOIN nf n1 ON n1.id = m.id1 JOIN nf n2 ON n2.id = m.id2
               WHERE CAST(nm AS DOUBLE)
                     >= 0.5 * CAST(least(n1.n, n2.n) AS DOUBLE)),$mediaLoopSql""")),

    "q_embed_ingest_stream" -> Q(
      (s, dir) => runEmbedIngest(s, dir, compactAfterBatch1 = false),
      // GoldenGen driver mirror: the same 3-batch simulation over
      // code-overlap + sequential-cosine pairs (planes=3/tables=8/seed=42,
      // threshold 0.45 — the q_embed_neardup_lsh convention)
      golden("q_embed_ingest_stream")),

    // PER-BATCH ATTRITION METRICS for the embed ingest loop (VERDICT-r16
    // #7): the metricsPath sink armed end-to-end with the SemanticGuard,
    // one row per micro-batch — n_in through n_published, stage counts
    // summing to n_in by construction (null-vector items pass through
    // into n_published; the fixture has none, which the mirror's
    // n_null_vec = 0 column asserts). Golden mirror replays the funnel
    // per batch: history drop → in-batch drop → contamination (cos ≥ 0.4
    // of any vec_id < 50 suite vector) → published.
    "q_embed_metrics_stream" -> Q(
      (s, dir) => {
        // fixed 500-vector input — the q_doc_ingest_stream contract
        val emb = table(s, dir, "embeddings")
        val vecs = emb.filter(col("vec_id") < 500)
        val suite = emb.filter(col("vec_id") < 50)
        val base = Queries.tempDir("graft_embmetrics")
        val idxPath = s"$base/idx"; val outPath = s"$base/out"
        val mPath = s"$base/metrics"
        val guard = Some(graft.streaming.EmbeddingStreams.SemanticGuard(
          suite, "vec_id", "embedding", threshold = 0.4))
        (0 until 3).foreach { i =>
          graft.streaming.EmbeddingStreams.processEmbeddingBatch(
            vecs.filter(col("vec_id") % 3 === i), i.toLong,
            "vec_id", "embedding", idxPath, outPath,
            threshold = 0.45, planes = 3, tables = 8, seed = 42L,
            guard, Some(mPath))
        }
        s.read.parquet(mPath).select(
          col("__batch_id").cast("long").as("batch_id"),
          col("n_in"), col("n_null_vec"), col("n_dup_history"),
          col("n_dup_batch"), col("n_contaminated"), col("n_published"))
      },
      golden("q_embed_metrics_stream")),

    // INDEX COMPACTION MUST BE INVISIBLE (VERDICT-r16 #4, LSH family):
    // the q_embed_ingest_stream protocol with
    // [[graft.operators.PathCommit.compactIntoSeed]] run between
    // batches 1 and 2 — batches 0–1's index partitions consolidate into
    // the seed (asserted: exactly one __batch_id dir remains), then
    // batch 2 probes the compacted history. Same golden as the
    // uncompacted row: identical published rows, or the gate goes red.
    "q_embed_compact_loop" -> Q(
      (s, dir) => runEmbedIngest(s, dir, compactAfterBatch1 = true),
      golden("q_embed_ingest_stream")),

    // INDEX COMPACTION MUST BE INVISIBLE (VERDICT-r16 #4, BM25 family):
    // the q_bm25_stream protocol with the marker-guarded
    // [[graft.streaming.SearchStreams.compactBm25]] between batches 1
    // and 2 — postings deltas merge into one row per token in the seed
    // (exact df sums, re-capped postings), lengths consolidate, exactly
    // one __batch_id dir remains on both paths (asserted), and serving
    // over compacted-seed + live batch 2 must reproduce the SAME oracle
    // as the never-compacted row.
    "q_bm25_compact_loop" -> Q(
      (s, dir) => runBm25Stream(s, dir, compactAfterBatch1 = true),
      bm25OracleSql),

    // STREAMING CHUNK-STORE INGEST — the storage family's loop, the last
    // loop without an oracle-gated battery row (VERDICT-r17 #4): three
    // micro-batches of blobs (doc_id % 3, the loop convention) are
    // CDC-chunked, probe the grow-only (hash, length) index of earlier
    // batches' STORED chunks, and land a per-batch cdcIngestStats row.
    // The stats rows are served; they transitively gate the index too —
    // batch t's hit counts are computed against the index batches < t
    // published, so a wrong index surfaces as wrong later-batch stats.
    // Oracle: replays the batch order over the committed q_cdc_chunks
    // golden (ids 0..499 at sf0.01 = the whole corpus) — a key is in
    // history for batch t iff it occurs in any batch < t (every key's
    // first occurrence was stored as 'first').
    "q_chunk_ingest_stream" -> Q(
      (s, dir) => runChunkIngest(s, dir, compactAfterBatch1 = false),
      chunkIngestOracle),

    // INDEX COMPACTION MUST BE INVISIBLE — the CHUNK-STORE family
    // (round-18): the q_chunk_ingest_stream protocol with
    // [[graft.operators.PathCommit.compactIntoSeed]] between batches 1
    // and 2 (one __batch_id dir asserted). Same oracle: batch 2's hit counts
    // must be computed against identical history content.
    "q_chunk_compact_loop" -> Q(
      (s, dir) => runChunkIngest(s, dir, compactAfterBatch1 = true),
      chunkIngestOracle),
  ) ++ ingestLoopQueries3


  private lazy val ingestLoopQueries3: Seq[(String, Q)] = Seq(
    // IVF REFIT MUST BE INVISIBLE (VERDICT-r17 #5 — the compaction-twin
    // pattern applied to the marker-guarded refit): the q_ann_ivf_stream
    // protocol with AnnStreams.refitIvf run between batches 1 and 2,
    // re-homing EVERY published vector under the REVERSED centroid list —
    // a real refit (every __cluster value changes; the whole table is
    // staged, marker-committed, and atomically swapped into the seed
    // partition — asserted) with PRESERVED geometry, so the nprobe=4
    // probe must pick the same four clusters (renumbered), see the same
    // candidates, and reproduce the SAME committed golden as the
    // never-refit row. A refit that lost, doubled, or mis-homed any row
    // surfaces as a changed top-10.
    "q_ann_ivf_refit_loop" -> Q(
      (s, dir) => {
        val (emb, q) = embeddingsAndQuery(s, dir)
        val corpus = emb.filter(col("vec_id") =!= 0)
        val centroids = ivf16(s, dir, corpus).centroids
        val base = Queries.tempDir("graft_annrefit")
        val path = s"$base/assigned"
        ivfBatches(corpus, centroids, path, 2)
        val refit = centroids.reverse
        graft.streaming.AnnStreams.refitIvf(s, path, refit,
          "vec_id", "embedding", uptoBatch = 1L)
        // the swap completed: the whole table lives in the seed partition
        assertSinglePartition(path, "refitIvf")
        // the loop continues under the NEW fit
        graft.streaming.AnnStreams.processIvfBatch(
          corpus.filter(col("vec_id") % 3 === 2), 2L,
          "vec_id", "embedding", refit, path)
        graft.streaming.AnnStreams.ivfTopKStreamed(s, path, refit,
          "vec_id", "embedding", q, k = 10, nprobe = 4)
      },
      golden("q_ann_ivf")),

    // CRASH-RESUME MUST BE INVISIBLE (VERDICT-r18 #3 — the refit's three
    // post-marker crash states, each constructed mid-loop and recovered
    // through the production entry point): refitIvf's swap is
    // stage → marker → rename root→old → rename tmp→root → cleanup, and
    // a crash after the marker is completed by the NEXT refitIvf call
    // from whichever rename it died at (PathCommit.resume — the state
    // {root,tmp,old} identifies the step uniquely). This row stages each
    // refit by hand (the same reassign+layout write refitIvf performs),
    // stops at a different post-marker point each time — (A) marker
    // written, nothing renamed; (B) root moved aside, stage not yet
    // promoted; (C) stage promoted, old dir + marker not yet cleaned —
    // and then calls refitIvf, which must detect the marker, finish the
    // swap, and leave a clean single-partition table. Three refits
    // alternate reversed↔original centroids (geometry preserved), the
    // loop continues under the final fit, and the serve must reproduce
    // the SAME committed golden as the never-refit row. A resume that
    // lost, doubled, or mis-homed any row — or left debris that double
    // counts — surfaces as a changed top-10.
    "q_ann_ivf_refit_resume" -> Q(
      (s, dir) => {
        val (emb, q) = embeddingsAndQuery(s, dir)
        val corpus = emb.filter(col("vec_id") =!= 0)
        val centroids = ivf16(s, dir, corpus).centroids
        val base = Queries.tempDir("graft_annresume")
        val path = s"$base/assigned"
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        def p(suffix: String) = new org.apache.hadoop.fs.Path(path + suffix)
        // refitIvf's own stage + marker, stopped before any rename — the
        // state an interrupted refit leaves behind (AnnStreams.refitIvf's
        // staged write, verbatim layout: seed partition, cluster-routed)
        def stageAndMark(fit: Array[Array[Double]]): Unit = {
          s.read.parquet(path)
            .select(col("vec_id"), col("embedding"),
              graft.streaming.AnnStreams
                .assignCluster(col("embedding"), fit).as("__cluster"))
            .repartition(8, col("__cluster"))
            .withColumn("__batch_id", lit(-1L))
            .write.partitionBy("__batch_id", "__cluster")
            .parquet(path + "__refit_tmp")
          val out = fs.create(p("__refit_marker"), true)
          try out.write("1".getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
        }
        def recoverAndCheck(fit: Array[Array[Double]]): Unit = {
          // the production recovery path: the next refitIvf call sees
          // the marker and completes the interrupted swap instead of
          // re-staging
          graft.streaming.AnnStreams.refitIvf(s, path, fit,
            "vec_id", "embedding", uptoBatch = 1L)
          assertSinglePartition(path, "refitIvf resume")
          require(!fs.exists(p("__refit_marker")) &&
            !fs.exists(p("__refit_tmp")) && !fs.exists(p("__refit_old")),
            "refit resume left debris behind")
        }
        ivfBatches(corpus, centroids, path, 2)
        val rev = centroids.reverse
        // state A: marker written, both renames pending
        stageAndMark(rev)
        recoverAndCheck(rev)
        // state B: root moved aside, stage not yet promoted
        stageAndMark(centroids)
        require(fs.rename(p(""), p("__refit_old")), "test rename failed")
        recoverAndCheck(centroids)
        // state C: stage promoted, old dir and marker not yet cleaned
        stageAndMark(rev)
        require(fs.rename(p(""), p("__refit_old")), "test rename failed")
        require(fs.rename(p("__refit_tmp"), p("")), "test rename failed")
        recoverAndCheck(rev)
        // the loop continues under the final fit, and the serve must
        // reproduce the never-refit golden
        graft.streaming.AnnStreams.processIvfBatch(
          corpus.filter(col("vec_id") % 3 === 2), 2L,
          "vec_id", "embedding", rev, path)
        graft.streaming.AnnStreams.ivfTopKStreamed(s, path, rev,
          "vec_id", "embedding", q, k = 10, nprobe = 4)
      },
      golden("q_ann_ivf")),
  )
}
