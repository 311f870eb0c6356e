package graft.streaming

import graft.operators.{Barrier, Dedup, PathCommit}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming ingest-time dedup for EMBEDDINGS — the vector twin of
  * [[DocumentStreams.ingestDedup]] (text/MinHash) and
  * [[MediaStreams.ingestMediaDedup]] (media/Hamming), completing the
  * incremental-dedup matrix: each micro-batch's vectors probe the growing
  * published [[Dedup.embeddingLshIndex]] through the bucket-code join
  * (the [[Dedup.incrementalEmbeddingPairsLsh]] cost model — history
  * joined by its stored codes, never re-hashed; vector lookups pruned to
  * candidates — inlined here with the batch's exact-dup collapse HOISTED
  * so both the history probe and the in-batch pairing share it, two
  * exchanges per batch total), drop
  * items at cosine ≥ `threshold` of a published item (FIRST-ARRIVAL-WINS;
  * same-id re-sends match themselves and are dropped) or of a smaller-id
  * batchmate that itself survived the history probe, and append survivors
  * to the lake plus their index rows to the index.
  *
  * State is ONE grow-only parquet in the slim layout (bucket rows are
  * (id, long) pairs; the vector is stored once per item), hive-partitioned
  * by `__batch_id` with the loops' usual retry-idempotence contract. The
  * loop FIXES the LSH tuning (planes/tables/seed) for the life of the
  * index — the index owns the tuning, so the density-scaled
  * `LshTuning.forCorpus` default of the batch operators does not apply
  * here (re-tuning would orphan every stored code; re-index to re-tune).
  */
object EmbeddingStreams {

  /** INGEST-TIME SEMANTIC DECONTAMINATION for the embedding loop — the
    * vector twin of [[DocumentStreams.ingestCurated]]'s `decontamGrams`
    * guard: a batch vector within cosine `threshold` of ANY vector of the
    * fixed eval-`suite` is neither published nor indexed (it never entered
    * the lake, so it also never suppresses a future item — the loops'
    * uniform dropped-item policy; an identical future vector is
    * contaminated too and drops the same way). The suite is CONSTANT and
    * broadcast-sized ([[graft.operators.Curation.semanticContaminationHits]]'
    * enforced guard; `maxSuite` is its ceiling) — per-batch cost tracks
    * the BATCH, never a growing history. Batch items with a NULL vector
    * bypass the guard (no embedding ⇒ nothing to compare — run the n-gram
    * guard in the DOCUMENT loop too; each catches what the other misses).
    */
  final case class SemanticGuard(suite: DataFrame,
                                 suiteIdCol: String, suiteVecCol: String,
                                 threshold: Double,
                                 maxSuite: Long = 100000L) {
    /** The suite validated (≤ `maxSuite`, loudly) and projected ONCE per
      * guard INSTANCE: a streaming loop holds one guard for its whole
      * life, so the generic operator's per-call bound check — an extra
      * Spark action per micro-batch — is paid once here. Same contract
      * as [[graft.operators.Curation.semanticContaminationHits]]'s
      * enforced guard; the loop's hit computation uses this projection
      * with the identical crossJoin + cosine arithmetic.
      */
    @transient lazy val validatedSuite: DataFrame = {
      // clamp BEFORE the +1: maxSuite near Long.MaxValue would wrap
      // negative and crash the guard at first use instead of validating
      val n = suite
        .limit((math.min(maxSuite, Int.MaxValue - 1L) + 1).toInt).count()
      require(n <= maxSuite,
        s"SemanticGuard: suite exceeds $maxSuite rows — the guard " +
          "broadcasts the suite; use the LSH contamination path for " +
          "suites this large, or raise maxSuite if the driver can hold it")
      broadcast(suite.select(col(suiteIdCol).as("bench_id"),
        col(suiteVecCol).as("__bvec")))
    }
  }

  /** Wire a streaming vector source into the ingest-dedup loop.
    * `indexPath` must hold [[Dedup.embeddingLshIndex]] rows built with the
    * SAME (planes, tables, seed), seeded via [[PathCommit.seed]]
    * (or bootstrapped from absent); `outPath` receives surviving rows.
    * Optional `guard` arms [[SemanticGuard]] on dedup survivors
    * (cheapest-stage-first, matching the document loop's ordering).
    */
  /** Optional `metricsPath` arms the per-batch attrition metrics sink
    * (the [[DocumentStreams.ingestCurated]] pattern): one row per
    * micro-batch `(n_in, n_null_vec, n_dup_history, n_dup_batch,
    * n_contaminated, n_published)`, hive-partitioned by `__batch_id`,
    * retry-idempotent. FUNNEL IDENTITY: the three drop counts and
    * `n_published` partition the batch —
    * `n_dup_history + n_dup_batch + n_contaminated + n_published = n_in`
    * always. `n_null_vec` is NOT a drop count: null-vector items PASS
    * THROUGH (published un-indexed and un-guarded), so they are counted
    * inside `n_published` too — `n_null_vec` is the pass-through
    * SUB-COUNT of `n_published` (`n_null_vec ≤ n_published`), pinned with
    * a null-vector batch in `EmbeddingStreamsSpec`. Opt-in because the
    * counts force extra per-batch jobs on the stage frames.
    */
  def ingestEmbeddingDedup(newVecs: DataFrame, idCol: String, vecCol: String,
                           indexPath: String, outPath: String,
                           threshold: Double = 0.8,
                           planes: Int = 3, tables: Int = 8,
                           seed: Long = 42L,
                           guard: Option[SemanticGuard] = None,
                           metricsPath: Option[String] = None): DataStreamWriter[Row] =
    newVecs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processEmbeddingBatch(batch, batchId, idCol, vecCol, indexPath,
        outPath, threshold, planes, tables, seed, guard, metricsPath)
    }

  /** One micro-batch of the loop (factored out for direct batch-semantics
    * testing, like [[MediaStreams.processMediaBatch]]).
    */
  private[graft] def processEmbeddingBatch(batch: DataFrame, batchId: Long,
                                           idCol: String, vecCol: String,
                                           indexPath: String, outPath: String,
                                           threshold: Double,
                                           planes: Int, tables: Int,
                                           seed: Long,
                                           guard: Option[SemanticGuard] = None,
                                           metricsPath: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    // every shared stage frame is cut ([[Barrier]]), so each computes
    // once however many branches of a consumer query read it
    val vecs = Barrier.cut(
      batch.select(col(idCol).cast("long").as("id"),
          col(vecCol).as("v"))
        .filter(col("v").isNotNull), "EmbeddingStreams.processEmbeddingBatch/vecs")
    // BARRIER BUDGET (round-17): the generic per-probe operators spent
    // ~10 exchanges + ~8 broadcast builds per micro-batch — at batch
    // scale each AQE stage materialization is its own Spark job, and the
    // loop's quiet-host cost was pure job-launch overhead (33 stage-jobs
    // per batch measured by graft.tools.JobCount). This inlined plan
    // computes the SAME drop sets (EmbeddingStreamsSpec + the
    // q_embed_ingest_stream golden mirror pin them) with exactly TWO
    // exchanges per batch: the exact-dup collapse and the candidate
    // distinct. Everything else is broadcast-sized by construction.
    //
    // ONE exact-dup collapse for the whole batch (was: rebuilt inside the
    // history probe, and absent from the in-batch pass): reps holds the
    // min-id representative of each distinct vector, so a batch of m
    // identical vectors (the boilerplate-ingest hazard) pays ONE history
    // probe and ONE in-batch pairing instead of m. Member expansion is
    // exact: clique members share the rep's codes and vector bytes, so a
    // rep-level verdict is every member's verdict.
    val reps = Barrier.cut(vecs.groupBy("v").agg(min(col("id")).as("rid")),
      "EmbeddingStreams.processEmbeddingBatch/reps")
    val memb = vecs.join(reps, Seq("v")) // (v, id, rid); reps broadcasts
    def bucketed(of: DataFrame) = of.select(col("rid"), col("v"),
      explode(graft.functions.LshBucketCodes.column(col("v"), planes, tables, seed))
        .as("bkt"))
    // cliques dup of a PUBLISHED vector: drop every member. No
    // rid≠old_id filter (excludeSelf=false semantics) — the batch side
    // is unpublished (the history read excludes the in-flight
    // partition), so a same-id index match is a RE-SENT published item
    // and drops.
    // History is only ever JOINED by its stored codes (never re-hashed)
    // and its vector rows stream against the broadcast candidate set —
    // per-batch cost is O(batch × collision rate), not O(history).
    val dropRepsH = Barrier.cut(
      PathCommit.history(spark, indexPath, batchId).map { h =>
        val index = h.select("id", "v", "bkt")
        // ids-only distinct BEFORE any vector moves: the candidate set is
        // the collision-sized quantity, and a pair co-bucketing in k
        // tables must verify once, not k times
        val candH = bucketed(reps).select(col("rid"), col("bkt"))
          .join(index.select(col("bkt"), col("id").as("old_id")), Seq("bkt"))
          .select("rid", "old_id").distinct()
        // INVARIANT RELIED ON: one non-null vector row per indexed id
        // ([[Dedup.embeddingLshIndex]]'s slim layout, preserved by
        // partition-rewrite retries and audited by
        // [[compactEmbeddingIndex]]). A violated invariant cannot change
        // correctness (dropRepsH feeds duplicate-tolerant anti/semi
        // joins) but silently multiplies this cosine-verify join's cost;
        // a defensive per-batch dropDuplicates here would be an
        // O(history) exchange — the audit lives at compaction time
        // instead, where the index is already being rewritten.
        candH.join(reps.select(col("rid"), col("v")), Seq("rid"))
          .join(index.filter(col("v").isNotNull)
            .select(col("id").as("old_id"), col("v").as("__ov")), Seq("old_id"))
          .filter(graft.functions.VectorFunctions.cosine(col("v"), col("__ov"))
            >= threshold)
          .select("rid")
      }.getOrElse(reps.select("rid").limit(0)), // bootstrap: no history, no probe
      "EmbeddingStreams.processEmbeddingBatch/dropRepsH")
    // within-batch pairing over history-probe SURVIVORS only (the loops'
    // no-transitive-drop-via-unpublished policy); smallest id survives.
    // FIXED tuning — the loop's contract, not the corpus-derived default.
    // Rep-level pair (rid1 < rid2) drops rid2's WHOLE clique (every
    // member outranks rid2 > rid1); non-min members of a non-degenerate
    // clique drop against their own rep (the star drop — cos(v,v) is the
    // pairwise expression on identical bytes, 1 for any non-zero vector,
    // 0 by the cosine convention for degenerate ones, which therefore
    // never self-pair). Together these reproduce the uncollapsed
    // id1<id2 pair drops exactly.
    val eligB = bucketed(reps.join(dropRepsH, Seq("rid"), "left_anti")
      .select(col("rid"), col("v")))
    val pairDropReps = eligB
      .select(col("bkt"), col("rid").as("rid1"), col("v").as("v1"))
      .join(eligB.select(col("bkt"), col("rid").as("rid2"), col("v").as("v2")),
        Seq("bkt"))
      .filter(col("rid1") < col("rid2"))
      .filter(graft.functions.VectorFunctions.cosine(col("v1"), col("v2"))
        >= threshold)
      .select(col("rid2").as("rid"))
    val stars = memb.filter(col("id") =!= col("rid"))
      .filter(graft.functions.VectorFunctions.cosine(col("v"), col("v"))
        >= threshold)
      .select("id")
    // member-level drop set: anti-join consumers are duplicate-tolerant,
    // so no distinct is spent on it
    val dropIds = memb.join(dropRepsH.union(pairDropReps), Seq("rid"),
        "left_semi").select("id")
      .union(stars)
      .withColumnRenamed("id", "__drop")
    // with the metrics sink armed, deduped is consumed three times (the
    // guard/survivor chain, its own count, and the published-count
    // arithmetic) — eagerly cut so the dedup DAG runs once, not per count
    // (and never raced by concurrent AQE stage builds)
    val deduped0 = batch
      .join(dropIds, batch(idCol).cast("long") === col("__drop"), "left_anti")
    val deduped =
      if (metricsPath.isDefined)
        Barrier.cut(deduped0, "EmbeddingStreams.processEmbeddingBatch/deduped")
      else deduped0
    // ingest-time semantic decontamination on dedup survivors (see
    // [[SemanticGuard]]): batch-sized vector set vs the constant
    // broadcast suite — contaminated items reach NO sink
    val survivorsLazy = (guard match {
      case Some(g) =>
        val dedupedVecs = vecs.join(
          deduped.select(col(idCol).cast("long").as("__did")),
          vecs("id") === col("__did"), "left_semi")
        // semanticContaminationHits' arithmetic over the once-validated
        // suite (see [[SemanticGuard.validatedSuite]] — the per-call
        // bound-check action moves out of the per-batch path)
        val bad = dedupedVecs.crossJoin(g.validatedSuite)
          .select(col("id"),
            graft.functions.VectorFunctions.cosine(col("v"), col("__bvec"))
              .as("cos"))
          .filter(col("cos") >= g.threshold)
          .select(col("id").as("__cdrop")).distinct()
        deduped.join(bad, deduped(idCol).cast("long") === col("__cdrop"),
          "left_anti")
      case None => deduped
    })
    // cut ([[Barrier]]): the metrics action and BOTH sinks consume it
    val survivors = Barrier.cut(survivorsLazy,
      "EmbeddingStreams.processEmbeddingBatch/survivors")
    // METRICS RUN BEFORE THE SINKS when armed, and in ONE action: a
    // tagged union over the stage frames aggregates all five counts in a
    // single execution. Two reasons this ordering matters: (a) each
    // count() as its own execution paid 5 × batches of fixed AQE/driver
    // overhead; (b) a parquet WRITE does not load a cached child's
    // column buffers (measured: after both sinks, deduped's cache
    // reported isCachedColumnBuffersLoaded=false and its first count
    // re-ran the whole dedup DAG) — the counting exec is what
    // materializes the deduped/survivors buffers, so the writes below
    // then consume loaded caches instead of re-deriving them.
    metricsPath.foreach { mPath =>
      import spark.implicits._
      val m = Seq(
          batch.select(lit("in").as("__k")),
          vecs.select(lit("vec").as("__k")),
          // members of history-dropped cliques (memb is one row per
          // batch row, so this is an exact per-item count)
          memb.join(dropRepsH, Seq("rid"), "left_semi")
            .select(lit("dh").as("__k")),
          deduped.select(lit("dd").as("__k")),
          survivors.select(lit("pub").as("__k")))
        .reduce(_ unionByName _)
        .groupBy("__k").agg(count(lit(1)).as("__c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val nIn = m.getOrElse("in", 0L)
      val nVecs = m.getOrElse("vec", 0L)
      val nDupHistory = m.getOrElse("dh", 0L)
      val nDeduped = m.getOrElse("dd", 0L)
      val nPublished = m.getOrElse("pub", 0L)
      // the within-batch pairing runs over history-probe survivors and
      // the guard over dedup survivors, so stage drop sets are disjoint
      // and counts are differences of consecutive survivor counts;
      // null-vec items are dropped by NO stage (they bypass vecs and the
      // guard), so drops + published = n_in and n_null_vec rides inside
      // n_published (the doc comment's funnel identity)
      PathCommit.writeBatch(Seq((
          nIn, nIn - nVecs, nDupHistory,
          nIn - nDeduped - nDupHistory, nDeduped - nPublished, nPublished))
        .toDF("n_in", "n_null_vec", "n_dup_history", "n_dup_batch",
          "n_contaminated", "n_published"),
        batchId, mPath)
    }
    // CONCURRENT sinks (round-20, §2.6): survivors is lineage-cut and the
    // index frame derives from vecs (lineage = the batch source only) ⋈
    // the cut survivors — neither input reads a sibling sink path. The
    // index grows by the SURVIVORS' rows only (null-vector rows never
    // entered `vecs`, so undecodable items pass through un-indexed).
    PathCommit.writeBatches(Seq(
      survivors -> outPath,
      Dedup.embeddingLshIndex(
        vecs.join(survivors.select(col(idCol).cast("long").as("__keep")),
          vecs("id") === col("__keep"), "left_semi"),
        "id", "v", planes, tables, seed) -> indexPath),
      batchId)
    Barrier.release(survivors)
    if (metricsPath.isDefined) Barrier.release(deduped)
    Barrier.release(dropRepsH)
    Barrier.release(reps)
    Barrier.release(vecs)
  }

  /** [[PathCommit.compactIntoSeed]] for the embedding loop's index,
    * plus the AUDIT of the invariant the per-batch history probe's cost
    * model rests on: exactly one NON-NULL vector row per indexed id (the
    * [[Dedup.embeddingLshIndex]] slim layout — bucket rows are (id, long)
    * pairs, the vector rides the first bucket row only). A duplicated
    * vector row — a future compaction bug, a hand-seeded index — cannot
    * change the loop's output (its consumers are duplicate-tolerant
    * anti/semi joins) but silently fans out the cosine-verify join every
    * batch thereafter; checking per batch would itself cost an O(history)
    * exchange, so the audit runs HERE, where the index is already being
    * rewritten, and fails loudly.
    */
  def compactEmbeddingIndex(spark: org.apache.spark.sql.SparkSession,
                            indexPath: String, uptoBatch: Long,
                            targetFiles: Int = 8): Unit = {
    PathCommit.compactIntoSeed(spark, indexPath, uptoBatch, targetFiles)(identity)
    val dup = spark.read.parquet(indexPath)
      .filter(col("v").isNotNull)
      .groupBy("id").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).limit(1).count()
    require(dup == 0,
      "compactEmbeddingIndex: an id holds more than one non-null vector " +
        s"row at $indexPath — the slim-layout invariant the per-batch " +
        "history probe's cost model relies on is broken; re-seed the " +
        "index via Dedup.embeddingLshIndex")
  }

  /** STREAMING EMBEDDING-DRIFT MONITOR — the monitors family's vector
    * member (the [[SketchStreams]] KMV-novelty pattern): per micro-batch,
    * the batch's per-slice centroid shift against a CONSTANT reference
    * corpus ([[graft.operators.Profile.embeddingDrift]]; reference = side
    * A, the batch = side B), landed as one row per slice under
    * `__batch_id` — "is today's ingest drifting away from the corpus my
    * ANN index / quality model was fit on", answered before the index
    * degrades. Retry-idempotent: the row set is a pure function of
    * (reference, batch) and lands via dynamic partition overwrite.
    *
    * Per-batch cost tracks the BATCH alone (round-17): the reference's
    * centroid table ([[graft.operators.Profile.embeddingRefCentroids]] —
    * slice-count-sized) is built ONCE per monitor lifetime and persisted
    * as parquet under `statsPath + "__ref"`, so a corpus-sized reference
    * costs one scan for the monitor's whole life, never one per batch.
    * The memo is monitor-owned state: the reference is CONSTANT for a
    * given statsPath (the monitor's documented contract) — point a new
    * reference at a NEW statsPath, or delete the `__ref` dir to rebuild.
    */
  def driftMonitorStream(newVecs: DataFrame, reference: DataFrame,
                         vecCol: String, sliceCols: Seq[String],
                         statsPath: String): DataStreamWriter[Row] =
    newVecs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processDriftBatch(batch, batchId, reference, vecCol, sliceCols,
        statsPath)
    }

  /** One micro-batch of the drift monitor (factored out for direct
    * batch-semantics testing, like [[processEmbeddingBatch]]).
    */
  private[graft] def processDriftBatch(batch: DataFrame, batchId: Long,
                                       reference: DataFrame, vecCol: String,
                                       sliceCols: Seq[String],
                                       statsPath: String): Unit = {
    val spark = batch.sparkSession
    val refPath = statsPath + "__ref"
    // the memo is trusted only on a COMMIT MARKER (crash-safety): a
    // first-batch write that died partway leaves the directory existing
    // but markerless — a bare existence check would skip the rebuild
    // forever and every later batch would read a partial table. A
    // marker-less dir is deleted and rebuilt. The marker is OURS
    // (`_GRAFT_COMMIT`, written after the parquet write returns), not
    // the committer's `_SUCCESS` — a deployment with
    // marksuccessfuljobs=false (common on object stores) writes no
    // _SUCCESS, and trusting it alone would delete and rebuild the
    // reference EVERY batch, silently breaking the one-scan-per-
    // monitor-lifetime contract. _SUCCESS is still accepted for memos
    // written by older code.
    val fsPath = new org.apache.hadoop.fs.Path(refPath)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def marker(name: String) = new org.apache.hadoop.fs.Path(fsPath, name)
    val committed = fs.exists(marker("_GRAFT_COMMIT")) ||
      fs.exists(marker("_SUCCESS"))
    if (!committed) {
      if (fs.exists(fsPath)) {
        // a NON-EMPTY markerless dir is either a crashed partial write
        // (expected, silent rebuild) or a memo written by pre-marker code
        // on a committer with marksuccessfuljobs=false — that second case
        // is a ONE-TIME rebuild from the CURRENT reference DataFrame,
        // which silently changes the baseline if the reference moved
        // since; warn so the upgrade effect is visible in the log
        val nonEmpty = try fs.listStatus(fsPath).nonEmpty
          catch { case _: Throwable => false }
        if (nonEmpty)
          org.apache.logging.log4j.LogManager.getLogger(getClass).warn(
            s"driftMonitorStream: deleting markerless non-empty ref memo " +
              s"at $refPath and rebuilding the drift baseline from the " +
              "current reference DataFrame (expected once after a crash " +
              "mid-first-batch, or once when upgrading a memo written by " +
              "pre-marker code on a no-_SUCCESS committer)")
        fs.delete(fsPath, true) // partial or pre-marker stage
      }
      graft.operators.Profile
        .embeddingRefCentroids(reference, col(vecCol), sliceCols)
        .write.parquet(refPath)
      fs.create(marker("_GRAFT_COMMIT"), true).close()
    }
    PathCommit.writeBatch(
      graft.operators.Profile.embeddingDriftFromRef(
        spark.read.parquet(refPath), batch, col(vecCol), sliceCols),
      batchId, statsPath)
  }
}
