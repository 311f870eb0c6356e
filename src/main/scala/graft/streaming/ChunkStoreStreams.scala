package graft.streaming

import graft.operators.{Barrier, Dedup, PathCommit}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** STREAMING CHUNK-STORE ingest — the storage-layer family's daily-ingest
  * loop, completing the streaming dedup matrix (documents, media, video,
  * embeddings, and now byte storage): each micro-batch of blobs is
  * CDC-chunked, probes the grow-only `(hash, length)` chunk index
  * ([[Dedup.incrementalCdcChunks]] — history scanned with the batch keys
  * broadcast, never shuffled), and only the `'first'` chunks — the bytes
  * a dedup-aware store actually writes — append to the index. A per-batch
  * [[Dedup.cdcIngestStats]] row appends to a stats path: the dashboard
  * feed for "how much did today's ingest really cost".
  *
  * State layout is the loops' shared contract ([[PathCommit.writeBatches]]):
  * both paths hive-partitioned by `__batch_id`; the probe reads
  * [[PathCommit.history]], which EXCLUDES the in-flight batch's
  * partition, so an at-least-once `foreachBatch` retry recomputes
  * identical labels (chunking is deterministic) and rewrites exactly its
  * own partitions. Compact the index with
  * [[PathCommit.compactIntoSeed]]`(...)(identity)`.
  */
object ChunkStoreStreams {

  def ingestChunkStore(newBlobs: DataFrame, idCol: String, binCol: String,
                       indexPath: String, statsPath: String,
                       minSize: Int = 2048, maskBits: Int = 11,
                       maxSize: Int = 65536): DataStreamWriter[Row] =
    newBlobs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processChunkBatch(batch, batchId, idCol, binCol, indexPath, statsPath,
        minSize, maskBits, maxSize)
    }

  /** One micro-batch (factored out so batch semantics are testable
    * without a streaming harness).
    */
  private[graft] def processChunkBatch(batch: DataFrame, batchId: Long,
                                       idCol: String, binCol: String,
                                       indexPath: String, statsPath: String,
                                       minSize: Int, maskBits: Int,
                                       maxSize: Int): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val history = PathCommit.history(spark, indexPath, batchId)
      .map(_.select("hash", "length"))
      .getOrElse(Seq.empty[(Long, Long)].toDF("hash", "length"))
    // releasable form: the operator cuts the batch chunk table for its
    // three consumers; a per-micro-batch loop that never released it would
    // accumulate one block set per batch for the life of the JVM
    val (rawAnn, releaseChunks) = Dedup.incrementalCdcChunksReleasable(
      batch, idCol, binCol, history, minSize, maskBits, maxSize)
    // cut ([[Barrier]]): BOTH sinks consume the annotated table;
    // persisted, each sink re-ran the probe-and-annotate joins
    val ann = Barrier.cut(rawAnn, "ChunkStoreStreams.processChunkBatch/ann")
    // CONCURRENT sinks (round-20, §2.6 — supersedes the round-19
    // stats-before-index ordering, which protected a PERSISTED ann from
    // the index commit's refreshByPath): ann is lineage-cut, so both
    // writes read an RDD scan no refresh can invalidate, and ordering
    // stops mattering. Both writes stay per-batch-partition idempotent;
    // a crash now leaves any subset committed — either way the batch
    // retry rewrites both. The index grows by the batch's 'first' chunks
    // only: hits are already stored; dups deduped against the batch's
    // own firsts.
    PathCommit.writeBatches(Seq(
      Dedup.cdcIngestStats(ann) -> statsPath,
      ann.filter(col("status") === "first")
        .select("id", "offset", "length", "hash") -> indexPath),
      batchId)
    Barrier.release(ann)
    releaseChunks()
  }
}
