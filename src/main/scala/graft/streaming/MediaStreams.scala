package graft.streaming

import graft.operators.{Barrier, Dedup, PathCommit}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming ingest-time dedup for MEDIA — the multimodal twin of
  * [[DocumentStreams.ingestDedup]]: each micro-batch hashes its payloads
  * with a pluggable 64-bit perceptual hasher
  * ([[graft.operators.Multimodal.dHash64]] for images,
  * [[graft.operators.Multimodal.audioFingerprint64]] for audio, SimHash
  * for text), drops items whose hash sits within `maxDistance` of the
  * growing published index (FIRST-ARRIVAL-WINS — the only policy an
  * online system can implement without revoking published items;
  * same-id matches count, so an identical item re-sent under its
  * published id in a later batch is dropped, not republished) or of a
  * smaller-id batchmate that itself survived the history probe, and
  * appends survivors to the lake plus their hashes to the index.
  *
  * State is ONE grow-only parquet index of (id, sh) longs — 16 bytes per
  * published item, so a billion-item media lake carries a ~16 GB index —
  * probe-joined per batch by the pigeonhole chunk key
  * ([[Dedup.incrementalHammingPairs]]): history is never re-decoded or
  * re-hashed. Undecodable payloads (NULL hash) pass through un-deduped —
  * an opaque blob is not evidence of duplication; route them by policy
  * downstream. Paths are loop-owned (hive-partitioned by `__batch_id`,
  * dynamic partition overwrite), so at-least-once foreachBatch retries
  * rewrite their own partitions and history probes exclude the in-flight
  * batch — the same idempotence contract as the document loops
  * ([[PathCommit.writeBatch]] / [[PathCommit.history]]).
  */
object MediaStreams {

  /** Wire a streaming media source into the ingest-dedup loop.
    * `hasher` maps (rows, idCol) to an (id, sh) table — pass a
    * [[graft.operators.Multimodal]] hasher partially applied to the
    * payload column. `indexPath` seeds via [[PathCommit.seed]]
    * (or bootstraps from absent); `outPath` receives survivors.
    *
    * `maxBucket > 0` arms [[Dedup.simhashPairsFromTable]]'s
    * degenerate-chunk guard on both the history probe and the in-batch
    * pairing — set it when the corpus can carry many near-constant items
    * (smooth images, silent clips): the drop DECISIONS only need
    * connectivity, which the guard preserves for exact cliques.
    */
  def ingestMediaDedup(newMedia: DataFrame, idCol: String,
                       hasher: (DataFrame, String) => DataFrame,
                       indexPath: String, outPath: String,
                       maxDistance: Int = 3,
                       maxBucket: Int = 0): DataStreamWriter[Row] =
    newMedia.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processMediaBatch(batch, batchId, idCol, hasher, indexPath, outPath,
        maxDistance, maxBucket)
    }

  /** One micro-batch of the loop (factored out so batch semantics are
    * testable without a streaming harness).
    */
  private[graft] def processMediaBatch(batch: DataFrame, batchId: Long,
                                           idCol: String,
                                           hasher: (DataFrame, String) => DataFrame,
                                           indexPath: String, outPath: String,
                                           maxDistance: Int,
                                           maxBucket: Int = 0): Unit = {
    val spark = batch.sparkSession
    // cut ([[Barrier]]): uncut, every branch that reads `hashed` re-runs
    // the CODEC pass (decode + hash), the most expensive thing in the loop
    val hashed = Barrier.cut(hasher(batch, idCol),
      "MediaStreams.processMediaBatch/hashed")
    val decodable = hashed.filter(col("sh").isNotNull)
    // near-dup of an already-published item: drop the NEW one.
    // excludeSelf = false: the batch side is unpublished by construction
    // (the history read excludes the in-flight batch's partition), so a
    // same-id match against the index is a RE-SENT published item —
    // without this a duplicate re-ingest under its original id would
    // slip past dedup into a second lake row. (A same-id re-send mutated
    // beyond maxDistance is not a near-dup and is out of scope here:
    // policing id collisions needs a full-index id probe per batch,
    // an upstream key-integrity concern, not a content-dedup one.)
    val dupOfHistory = Barrier.cut(
      PathCommit.history(spark, indexPath, batchId)
        .map(h => Dedup.incrementalHammingPairs(decodable, h.select("id", "sh"),
            maxDistance, excludeSelf = false, maxBucket = maxBucket)
          .select(col("new_id").as("__drop")))
        .getOrElse(decodable.select(col("id").as("__drop")).limit(0)),
      "MediaStreams.processMediaBatch/dupOfHistory")
    // near-dup WITHIN the batch, computed over items that survived the
    // history probe: a batchmate can only be dropped via an item that is
    // itself eligible for publication — an item dropped as dup-of-history
    // must not transitively drop neighbours that are far from everything
    // published. Chains within the batch still collapse (smallest id of
    // each connected pair survives) — the same transitive-cluster policy
    // as the batch pipeline's connected-components dedup.
    val batchEligible = decodable.join(dupOfHistory,
      decodable("id") === col("__drop"), "left_anti")
    val dupInBatch = Dedup.simhashPairsFromTable(batchEligible, maxDistance,
        maxBucket)
      .select(col("id2").as("__drop"))
    // anti-join consumers are duplicate-tolerant — no distinct spent
    val dropIds = dupOfHistory.union(dupInBatch)
    // cut ([[Barrier]]): both sinks consume survivors
    val survivors = Barrier.cut(batch
      .join(dropIds, batch(idCol) === col("__drop"), "left_anti"),
      "MediaStreams.processMediaBatch/survivors")
    // CONCURRENT sinks (round-20, §2.6): survivors is lineage-cut and the
    // index frame derives from hashed (lineage = the batch source only) ⋈
    // the cut survivors — neither input reads a sibling sink path. The
    // index grows by the DECODABLE SURVIVORS' hashes only: dropped items
    // never entered the lake and must not suppress future items;
    // null-hash passthroughs carry no evidence to index.
    PathCommit.writeBatches(Seq(
      survivors -> outPath,
      decodable.join(survivors.select(col(idCol).as("__keep")),
        decodable("id") === col("__keep"), "left_semi") -> indexPath),
      batchId)
    Barrier.release(survivors)
    Barrier.release(dupOfHistory)
    Barrier.release(hashed)
  }

  /** STREAMING VIDEO ingest-dedup — the clip-level twin of
    * [[ingestMediaDedup]]: each micro-batch's clips hash to PER-FRAME
    * (id, frame_idx, sh) rows via a pluggable frame hasher
    * ([[graft.operators.Multimodal.videoFrameHashes]] partially applied),
    * probe the growing published FRAME index through the aligned
    * pigeonhole join ([[Dedup.incrementalAlignedHammingPairs]] — history
    * frames joined by (position, chunk key), never re-demuxed), and a
    * clip is dropped when ≥ `minMatchFrac` of the compared aligned
    * frames match a single published clip (or a smaller-id batchmate
    * that itself survived the history probe). First-arrival-wins;
    * same-id re-sends match themselves frame-for-frame and are dropped.
    * State is one grow-only parquet of frame hashes — 8 bytes per
    * sampled frame per published clip — hive-partitioned by
    * `__batch_id` with the loops' usual retry-idempotence contract.
    * Clips with ZERO decodable frames pass through un-deduped and
    * un-indexed (the opaque-blob policy of the image loop).
    *
    * One micro-batch, the body a `writeStream.foreachBatch` runs (as
    * [[ingestMediaDedup]] wires [[processMediaBatch]]).
    */
  private[graft] def processVideoBatch(batch: DataFrame, batchId: Long,
                                           idCol: String,
                                           frameHasher: (DataFrame, String) => DataFrame,
                                           indexPath: String, outPath: String,
                                           maxDistance: Int,
                                           minMatchFrac: Double): Unit = {
    val spark = batch.sparkSession
    // eager lineage cuts — see [[processMediaBatch]]'s note; the frame
    // hasher (demux + per-frame hash) is the loop's dominant compute
    val hashed = Barrier.cut(frameHasher(batch, idCol),
      "MediaStreams.processVideoBatch/hashed")
    val decodable = hashed.filter(col("sh").isNotNull)
    val newCounts = decodable.groupBy("id").agg(count(lit(1)).as("__nf"))
    def verdict(matched: DataFrame, aCounts: DataFrame, aId: String,
                bCounts: DataFrame, bId: String): DataFrame =
      matched
        .join(aCounts.select(col("id").as(aId), col("__nf").as("__na")), aId)
        .join(bCounts.select(col("id").as(bId), col("__nf").as("__nb")), bId)
        .filter(col("n_matched").cast("double") >=
          lit(minMatchFrac) * least(col("__na"), col("__nb")).cast("double"))
    // dup of a PUBLISHED clip (excludeSelf = false: a re-sent id matches
    // its own published frames and must drop, as in [[processMediaBatch]]).
    // The history frame-count lookup is PRUNED to matched old ids before
    // aggregating (round-17): the clip verdict only needs counts for
    // clips something matched, and an unpruned groupBy over the whole
    // index was an O(history) exchange PER BATCH — the one history-sized
    // shuffle in a loop whose contract is O(batch × collision rate).
    // History frames are still scanned once (behind the broadcast
    // semi-join), never shuffled.
    val history = PathCommit.history(spark, indexPath, batchId)
      .map(_.select("id", "frame_idx", "sh"))
    val matchedH = history.map(h => Barrier.cut(
      Dedup.incrementalAlignedHammingPairs(
          decodable.select(col("id"), col("frame_idx").as("pos"), col("sh")),
          h.select(col("id"), col("frame_idx").as("pos"), col("sh")),
          maxDistance, excludeSelf = false)
        .groupBy("new_id", "old_id").agg(count(lit(1)).as("n_matched")),
      "MediaStreams.processVideoBatch/matchedH"))
    val dupOfHistory = history.zip(matchedH).map { case (h, m) =>
      val oldCounts = h
        .join(m.select(col("old_id").as("id")).distinct(),
          Seq("id"), "left_semi")
        .groupBy("id").agg(count(lit(1)).as("__nf"))
      verdict(m, newCounts, "new_id", oldCounts, "old_id")
        .select(col("new_id").as("__drop"))
    }.getOrElse(decodable.select(col("id").as("__drop")).limit(0))
    val dupOfHistoryCut = Barrier.cut(dupOfHistory,
      "MediaStreams.processVideoBatch/dupOfHistory")
    // within-batch pairing over history-probe SURVIVORS only (same
    // no-transitive-drop-via-unpublished policy as the image loop)
    val eligible = decodable.join(dupOfHistoryCut,
      decodable("id") === col("__drop"), "left_anti")
    val dupInBatch = verdict(
        Dedup.alignedHammingPairs(
            eligible.select(col("id"), col("frame_idx").as("pos"), col("sh")),
            maxDistance)
          .groupBy("id1", "id2").agg(count(lit(1)).as("n_matched")),
        newCounts, "id1", newCounts, "id2")
      .select(col("id2").as("__drop"))
    // anti-join consumers are duplicate-tolerant — no distinct spent
    val dropIds = dupOfHistoryCut.union(dupInBatch)
    // cut ([[Barrier]]): both sinks consume survivors
    val survivors = Barrier.cut(batch
      .join(dropIds, batch(idCol) === col("__drop"), "left_anti"),
      "MediaStreams.processVideoBatch/survivors")
    // CONCURRENT sinks (round-20, §2.6) — same input-safety argument as
    // [[processMediaBatch]]; the index grows by the decodable SURVIVORS'
    // frame rows only
    PathCommit.writeBatches(Seq(
      survivors -> outPath,
      decodable.join(survivors.select(col(idCol).as("__keep")),
        decodable("id") === col("__keep"), "left_semi") -> indexPath),
      batchId)
    Barrier.release(survivors)
    Barrier.release(dupOfHistoryCut)
    matchedH.foreach(Barrier.release)
    Barrier.release(hashed)
  }
}
