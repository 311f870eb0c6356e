package graft.streaming

import graft.operators.{Barrier, Dedup, PathCommit}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** STREAMING document ingestion with near-duplicate suppression against a
  * GROWING persisted MinHash band index — the streaming twin of
  * [[graft.operators.Dedup.incrementalNearDups]]:
  *
  * per micro-batch —
  *  1. signature + band rows for the batch (one narrow hash pass);
  *  2. near-dups of HISTORY: band-collision join against the persisted
  *     index (history is only ever JOINED, never re-hashed), verified on
  *     the signature-estimate threshold;
  *  3. near-dups WITHIN the batch: the usual banded pair path over the
  *     batch's own (tiny) index, greedy smallest-id survivor;
  *  4. survivors append to the document lake (tagged `__batch_id`, the
  *     same idempotence marker [[EventStreams.toPartitionedParquet]]
  *     uses), and THEIR band rows append to the index — so batch N+1
  *     dedups against the original history AND batches 1..N.
  *
  * The index stays O(corpus) on disk and the per-batch cost is
  * O(batch × collision rate): exactly the daily-ingest contract, but at
  * micro-batch granularity. In production the index table is bucketed by
  * (band, bh) ([[graft.operators.Bucketing]]) so the probe join is
  * shuffle-free.
  */
object DocumentStreams {

  /** STREAMING Misra–Gries heavy hitters: per group (language, host,
    * source…), the current frequent-token summary over EVERYTHING the
    * stream has carried so far, maintained in `k` bounded counters of
    * `mapGroupsWithState` state — the "trending tokens" view that never
    * re-reads history and whose state cannot grow with the vocabulary.
    * Each micro-batch folds its exact token counts into the state with
    * the mergeable-summaries reduction, so the classic bounds hold over
    * the WHOLE stream: any token with total frequency > n/(k+1) is in
    * the summary, counts never overestimate and undershoot by ≤ n/(k+1)
    * (exact whenever a group's distinct tokens never exceed k — the
    * [[graft.functions.MisraGriesAgg]] contract, per group, per stream).
    * Emits one (group, summary) row per group per batch (Update mode);
    * summary entries order (count desc, token asc).
    */
  def heavyTokensStream(docs: DataFrame, groupCol: String, textCol: String,
                        k: Int): org.apache.spark.sql.Dataset[(String, Seq[(String, Long)])] = {
    require(k > 0, "k must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(groupCol).cast("string").as("g"),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("t"))
      .as[(String, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[Map[String, Long], (String, Seq[(String, Long)])](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (g, rows, state) =>
          val acc = scala.collection.mutable.HashMap[String, Long]()
          state.getOption.foreach(_.foreach { case (t, c) => acc.update(t, c) })
          // exact batch counts first (one pass), then one MG reduction —
          // identical algebra to MisraGriesAgg.merge
          rows.foreach { case (_, t) => acc.update(t, acc.getOrElse(t, 0L) + 1L) }
          if (acc.size > k) {
            val cut = acc.values.toArray.sorted(Ordering[Long].reverse).apply(k)
            val dead = acc.collect { case (t, c) if c - cut <= 0 => t }.toSeq
            acc.mapValuesInPlace((_, c) => c - cut)
            dead.foreach(acc.remove)
          }
          state.update(acc.toMap)
          g -> acc.toSeq.sortBy { case (t, c) => (-c, t) }
      }
  }

  /** Wire a streaming document source into the ingest-dedup loop.
    * `indexPath` must hold the historical [[Dedup.minhashBandIndex]] rows
    * (id, sig, band, bh), seeded via [[PathCommit.seed]] (or bootstraps
    * from absent); `outPath` receives surviving documents. Both paths are
    * loop-owned: hive-partitioned by `__batch_id`, batch retries
    * idempotent per partition.
    */
  def ingestDedup(newDocs: DataFrame, idCol: String, textCol: String,
                  indexPath: String, outPath: String,
                  shingleSize: Int = 3, numHashes: Int = 128,
                  bands: Int = 32, threshold: Double = 0.7): DataStreamWriter[Row] =
    newDocs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processBatch(batch, batchId, idCol, textCol, indexPath, outPath,
        shingleSize, numHashes, bands, threshold)
    }

  /** One micro-batch of the ingest-dedup loop (factored out so batch
    * semantics are testable without a streaming harness).
    */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
                                      idCol: String, textCol: String,
                                      indexPath: String, outPath: String,
                                      shingleSize: Int, numHashes: Int,
                                      bands: Int, threshold: Double): Unit = {
    // the signature rides the band-0 row only, so sig reads filter
    // isNotNull (older full-sig indexes stay readable the same way)
    // cut ([[Barrier]]): the probe, the pairing and the index sink read it
    val newIdx = Barrier.cut(Dedup.minhashBandIndex(batch, idCol, textCol,
        shingleSize, numHashes, bands),
      "DocumentStreams.processBatch/newIdx")
    val asIndex = graft.operators.Dedup.MinhashIndex(
      newIdx.filter(col("sig").isNotNull).select("id", "sig"),
      newIdx.select("id", "band", "bh"))
    val dupOfHistory = Barrier.cut(
      dupsOfHistory(asIndex, indexPath, batchId, numHashes, threshold),
      "DocumentStreams.processBatch/dupOfHistory")
    // near-dups WITHIN the batch, over docs that survived the history
    // probe (a history-dropped doc must not transitively drop batchmates
    // that are far from everything published): smallest id survives
    val eligible = graft.operators.Dedup.MinhashIndex(
      asIndex.sigs.join(dupOfHistory, asIndex.sigs("id") === col("__drop"), "left_anti"),
      asIndex.bands.join(dupOfHistory, asIndex.bands("id") === col("__drop"), "left_anti"))
    val dupInBatch = Dedup.minhashPairsFromIndex(eligible, numHashes, threshold)
      .select(col("id2").as("__drop"))
    // anti-join consumers are duplicate-tolerant — no distinct spent
    val dropIds = dupOfHistory.union(dupInBatch)
    // cut ([[Barrier]]): both sinks consume survivors
    val survivors = Barrier.cut(batch
      .join(dropIds, batch(idCol) === col("__drop"), "left_anti"),
      "DocumentStreams.processBatch/survivors")
    // CONCURRENT sinks (round-20, §2.6): survivors is lineage-cut and the
    // index keep-frame derives from newIdx (lineage = the batch source
    // only) ⋈ the cut survivors — neither input reads a sibling sink path,
    // so the two writes overlap safely. The index grows by the SURVIVORS'
    // band rows only — dropped docs must not suppress future docs they
    // themselves never entered the lake for.
    PathCommit.writeBatches(Seq(
      survivors -> outPath,
      newIdx.join(survivors.select(col(idCol).as("__keep")),
        newIdx("id") === col("__keep"), "left_semi") -> indexPath),
      batchId)
    Barrier.release(survivors)
    Barrier.release(dupOfHistory)
    Barrier.release(newIdx)
  }

  /** Ids of the batch's docs (`asIndex`) that near-duplicate the band
    * index's history at `indexPath`, as `__drop` (empty when the index
    * holds no data). excludeSelf = false — the batch side is unpublished
    * (the history read excludes the in-flight partition), so a same-id
    * index match is a RE-SENT published doc and must be dropped, not
    * republished under a new batch partition. Legacy full-sig indexes
    * stay readable: sig reads filter isNotNull; the operator prunes to
    * candidates, then dedups (no O(history) shuffle).
    */
  private def dupsOfHistory(asIndex: Dedup.MinhashIndex, indexPath: String,
                            batchId: Long, numHashes: Int,
                            threshold: Double): DataFrame =
    PathCommit.history(asIndex.sigs.sparkSession, indexPath, batchId)
      .map(history => Dedup.incrementalNearDupsIndexed(asIndex,
          Dedup.MinhashIndex(history.filter(col("sig").isNotNull).select("id", "sig"),
            history.select("id", "band", "bh")),
          numHashes, threshold, excludeSelf = false)
        .select(col("new_id").as("__drop")))
      .getOrElse(asIndex.sigs.select(col("id").as("__drop")).limit(0))

  /** STREAMING INGEST-TIME CURATION — the streaming twin of
    * [[graft.operators.Curation.curatedCorpus]]: each micro-batch runs
    * admission (fused language+quality predicate) → PII scrub → exact
    * dedup (within batch AND against a growing text-hash index) →
    * near-dedup (within batch AND against the growing band index), and
    * survivors append to the curated lake. The batch pipeline's
    * transitive-cluster policy (smallest id per cluster survives) becomes
    * FIRST-ARRIVAL-WINS here — the only policy an online system can
    * implement without revoking already-published documents; when
    * duplicates arrive after their originals the two policies coincide
    * (spec-pinned against the batch [[graft.operators.Curation]] prefix).
    *
    * State is two grow-only parquet indices, both O(corpus) and both
    * probe-joined per batch (history is never re-hashed or re-scanned in
    * full): `exactIndexPath` holds one 8-byte xxhash64 of each published
    * document's SCRUBBED text; `bandIndexPath` holds the published band
    * rows ([[Dedup.minhashBandIndex]] layout). Bootstraps from empty —
    * absent indices mean no history yet; pre-existing history seeds via
    * [[PathCommit.seed]]. All three paths are loop-owned, hive-partitioned by
    * `__batch_id`, and written with dynamic partition OVERWRITE, so a
    * foreachBatch retry (at-least-once delivery) rewrites its own
    * partitions instead of double-publishing — and history probes exclude
    * the in-flight batch's partition, so a retry cannot be suppressed by
    * its own half-written rows.
    */
  /** Optional `decontamGrams` arms INGEST-TIME DECONTAMINATION: the
    * eval-suite guard at the door, so a benchmark-contaminated document
    * never reaches the lake in the first place (the batch pipeline's
    * `decontaminateAgainst` stage, run per micro-batch). Pass the
    * PREBUILT distinct hashed-gram table of the suite
    * ([[graft.operators.Curation.benchGramsFor]] — built once per suite
    * release, served from its persisted layout), NOT the raw suite:
    * the loop must never re-shingle a constant suite per batch. The
    * stage runs on dedup SURVIVORS (cheapest-stage-first ordering of
    * the batch pipeline); contaminated docs are neither published nor
    * indexed — they never entered the lake and must not suppress
    * future documents (the loops' uniform dropped-item policy; an
    * identical future doc is contaminated too and drops the same way).
    */
  /** Optional `metricsPath` arms the PER-BATCH ATTRITION METRICS sink —
    * the streaming twin of [[graft.operators.Curation.attritionReport]]:
    * one row per micro-batch `(n_in, n_filtered, n_exact_dup,
    * n_exact_history, n_dup_history, n_dup_batch, n_contaminated,
    * n_published)` — drop counts per stage plus the published tally,
    * summing to `n_in` — hive-partitioned by `__batch_id` with the loops'
    * usual retry idempotence (a replayed batch rewrites its own metrics
    * partition). Counting forces extra per-batch jobs on the (persisted,
    * batch-sized) stage frames — that is the price of the funnel and why
    * the sink is opt-in.
    */
  def ingestCurated(newDocs: DataFrame, idCol: String, textCol: String,
                    cfg: graft.operators.Curation.Config,
                    exactIndexPath: String, bandIndexPath: String,
                    outPath: String,
                    shingleSize: Int = 3, numHashes: Int = 128,
                    bands: Int = 32,
                    decontamGrams: Option[DataFrame] = None,
                    metricsPath: Option[String] = None): DataStreamWriter[Row] =
    newDocs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processCuratedBatch(batch, batchId, idCol, textCol, cfg,
        exactIndexPath, bandIndexPath, outPath, shingleSize, numHashes, bands,
        decontamGrams, metricsPath)
    }

  /** One micro-batch of the curated-ingest loop (factored out for direct
    * batch-semantics testing and the battery protocol, like
    * [[processBatch]]).
    */
  private[graft] def processCuratedBatch(batch: DataFrame, batchId: Long,
                                             idCol: String, textCol: String,
                                             cfg: graft.operators.Curation.Config,
                                             exactIndexPath: String,
                                             bandIndexPath: String,
                                             outPath: String,
                                             shingleSize: Int, numHashes: Int,
                                             bands: Int,
                                             decontamGrams: Option[DataFrame] = None,
                                             metricsPath: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    import graft.functions.TextFunctions
    val admitted = batch.filter(
      TextFunctions.langQualityKeep(col(textCol), cfg.keepLangs, cfg.minQuality))
    val scrubbed = admitted.withColumn(textCol,
      TextFunctions.scrubPii(col(textCol)))
    // exact dedup: smallest id in batch survives; anything matching a
    // published text hash is a replay/duplicate of history
    val exactDeduped = Dedup.exact(scrubbed, col(textCol), col(idCol))
      .withColumn("__th", xxhash64(col(textCol)))
    val fresh0 = PathCommit.history(spark, exactIndexPath, batchId)
      .map(h => exactDeduped.join(h, exactDeduped("__th") === col("th"), "left_anti"))
      .getOrElse(exactDeduped)
    // every shared stage frame is cut ([[Barrier]]). Measured on this
    // loop under lazy persists: the survivors execution re-ran the 32-task
    // admission-chain scan per branch, and batch 2's checkpoint was
    // 38 jobs / 1 620 tasks where ~500 would do.
    val fresh = Barrier.cut(fresh0, "DocumentStreams.processCuratedBatch/fresh")
    // near-dedup: batch band rows probe the growing index, then pair
    // within the batch (first-arrival-wins == smallest id in batch)
    // isNotNull sig reads: see [[processBatch]]
    val newIdx = Barrier.cut(Dedup.minhashBandIndex(fresh, idCol, textCol,
        shingleSize, numHashes, bands),
      "DocumentStreams.processCuratedBatch/newIdx")
    val asIndex = graft.operators.Dedup.MinhashIndex(
      newIdx.filter(col("sig").isNotNull).select("id", "sig"),
      newIdx.select("id", "band", "bh"))
    // history probe first ([[dupsOfHistory]]); the within-batch
    // pairing then runs over history-probe SURVIVORS only, so a doc
    // dropped as dup-of-history cannot transitively drop batchmates
    val dupOfHistory = Barrier.cut(
      dupsOfHistory(asIndex, bandIndexPath, batchId, numHashes, cfg.nearDupThreshold),
      "DocumentStreams.processCuratedBatch/dupOfHistory")
    val eligible = graft.operators.Dedup.MinhashIndex(
      asIndex.sigs.join(dupOfHistory, asIndex.sigs("id") === col("__drop"), "left_anti"),
      asIndex.bands.join(dupOfHistory, asIndex.bands("id") === col("__drop"), "left_anti"))
    val dupInBatch = Dedup.minhashPairsFromIndex(eligible, numHashes,
        cfg.nearDupThreshold)
      .select(col("id2").as("__drop"))
    // anti-join consumers are duplicate-tolerant — no distinct spent
    val dropIds = dupOfHistory.union(dupInBatch)
    // with the metrics sink armed, deduped is consumed twice (the
    // decontamination/survivor chain and its own count) — eagerly cut so
    // the dedup DAG runs once, not per consumer (and never raced by
    // concurrent AQE stage builds; see the `fresh` note)
    val deduped0 = fresh
      .join(dropIds, fresh(idCol) === col("__drop"), "left_anti")
    val deduped =
      if (metricsPath.isDefined)
        Barrier.cut(deduped0, "DocumentStreams.processCuratedBatch/deduped")
      else deduped0
    // ingest-time decontamination on dedup survivors (see [[ingestCurated]]):
    // the suite gram table is prebuilt and constant, the batch side is
    // batch-sized — the join cost tracks the BATCH, never the suite scan
    // survivors is cut ([[Barrier]]): its lineage reads BOTH index paths,
    // so a persisted survivors was cleared by the band-index write's
    // refreshByPath and the exact-index write re-ran the whole
    // admission→dedup→decontam DAG (third write 3.8-5.4 s vs ~0.5 s).
    val survivors = Barrier.cut(decontamGrams match {
      case Some(grams) =>
        val bad = graft.operators.Curation.contaminationHitsFromGrams(
            deduped, idCol, textCol, grams, cfg.decontamNgram)
          .filter(col("n_hits") >= cfg.decontamMinHits)
          .select(col("id").as("__cdrop"))
        deduped.join(bad, deduped(idCol) === col("__cdrop"), "left_anti")
      case None => deduped
    }, "DocumentStreams.processCuratedBatch/survivors")
    // METRICS RUN BEFORE THE SINKS when armed, and in ONE action (the
    // [[EmbeddingStreams.processEmbeddingBatch]] discipline): a tagged
    // union over the stage frames aggregates all seven counts in a single
    // execution. Two reasons: (a) each count() as its own execution paid
    // 7 × batches of fixed AQE/driver overhead per micro-batch; (b) the
    // counting exec is what loads the persisted frames' column buffers,
    // so the sink writes below consume loaded caches instead of
    // re-deriving them (a parquet write alone does not populate a cached
    // child's buffers).
    metricsPath.foreach { mPath =>
      import spark.implicits._
      // The first three funnel counts (n_in, n_admitted, n_exactDeduped)
      // fold into ONE aggregate over ONE batch scan (round-20): as union
      // branches they re-derived the admission chain from the source —
      // three extra batch scans plus the exact-dedup exchange per
      // micro-batch. count(admission predicate) ≡ the admitted filter's
      // cardinality, and count(DISTINCT struct(scrubbed text)) over
      // admitted rows ≡ |Dedup.exact(scrubbed)| — exact dedup emits one
      // row per distinct key, and the struct wrapper keeps a NULL-text
      // group countable (count_distinct alone would skip it). The funnel
      // identity and the q_curated_metrics_stream oracle pin equality.
      val keep = TextFunctions.langQualityKeep(col(textCol),
        cfg.keepLangs, cfg.minQuality)
      val head = batch.agg(
          count(lit(1)).as("in"),
          count(when(keep, lit(1))).as("adm"),
          countDistinct(when(keep,
            struct(TextFunctions.scrubPii(col(textCol))))).as("ed"))
        .head()
      val nIn = head.getLong(0)
      val nAdmitted = head.getLong(1)
      val nExactDeduped = head.getLong(2)
      // the remaining stage frames are lineage-cut RDDs — one cheap
      // tagged-union aggregation covers all four
      val m = Seq(
          fresh.select(lit("fr").as("__k")),
          // DOCS dropped by history, not probe PAIRS: the probe emits one
          // row per (new, old) match, so a doc near two published docs
          // carries two rows — counting rows overcounted the stage and
          // drove n_dup_batch (a difference) negative (round-17 fix,
          // spec-pinned)
          dupOfHistory.select("__drop").distinct()
            .select(lit("dh").as("__k")),
          deduped.select(lit("dd").as("__k")),
          survivors.select(lit("pub").as("__k")))
        .reduce(_ unionByName _)
        .groupBy("__k").agg(count(lit(1)).as("__c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val nFresh = m.getOrElse("fr", 0L)
      val nDupHistory = m.getOrElse("dh", 0L)
      val nDeduped = m.getOrElse("dd", 0L)
      val nPublished = m.getOrElse("pub", 0L)
      // drop sets along the chain are disjoint by construction (the
      // within-batch pairing runs over history-probe survivors; the
      // decontamination stage over dedup survivors), so stage counts are
      // plain differences of consecutive survivor counts
      PathCommit.writeBatch(Seq((
          nIn, nIn - nAdmitted, nAdmitted - nExactDeduped,
          nExactDeduped - nFresh, nDupHistory,
          nFresh - nDeduped - nDupHistory, nDeduped - nPublished,
          nPublished))
        .toDF("n_in", "n_filtered", "n_exact_dup", "n_exact_history",
          "n_dup_history", "n_dup_batch", "n_contaminated", "n_published"),
        batchId, mPath)
    }
    // the band-index keep frame is lineage-cut BEFORE the concurrent
    // writes below (round-20): its plan otherwise reaches newIdx → fresh →
    // the exact-history anti join, whose lineage READS exactIndexPath —
    // and with the three sinks now unordered, the exact-index commit's
    // refreshByPath could invalidate the band write's input mid-flight
    // (a correctness-neutral but costly recompute). Cut, it is an RDD
    // scan no refresh can touch.
    val keepIdx = Barrier.cut(
      newIdx.join(survivors.select(col(idCol).as("__keep")),
        newIdx("id") === col("__keep"), "left_semi"),
      "DocumentStreams.processCuratedBatch/keepIdx")
    // all three sinks are per-batch-partition idempotent: a retry after a
    // failure between/among these writes rewrites the same partitions
    // rather than appending a second copy of the batch (at-least-once
    // delivery). They run CONCURRENTLY (§2.6): every input is lineage-cut,
    // so no sink's commit can invalidate a sibling's input.
    PathCommit.writeBatches(Seq(
      survivors.drop("__th") -> outPath,
      keepIdx -> bandIndexPath,
      survivors.select(col("__th").as("th")) -> exactIndexPath),
      batchId)
    Barrier.release(keepIdx)
    Barrier.release(survivors)
    if (metricsPath.isDefined) Barrier.release(deduped)
    Barrier.release(dupOfHistory)
    Barrier.release(newIdx)
    Barrier.release(fresh)
  }
}
