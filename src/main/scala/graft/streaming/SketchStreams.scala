package graft.streaming

import graft.operators.{PathCommit, Profile}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

/** STREAMING SKETCH MAINTENANCE — the ingest loops for the relational
  * sketch family ([[Profile.kmvSketch]], [[Profile.cmsSketch]],
  * [[Profile.quantileSketch]]): each micro-batch builds its own BOUNDED
  * sketch (≤ k, depth·width, levels·depth·width rows) and appends it as
  * a `__batch_id` partition; serving merges the per-batch deltas with the
  * family's EXACT algebra (re-min for KMV, GROUP-BY-SUM for the CMS
  * pair), so the served sketch is bit-identical to one built offline
  * over the full corpus — the profile/overlap/frequency/quantile
  * dashboards never need a corpus re-scan after the day-one backfill.
  *
  * Layout is the loops' shared contract ([[PathCommit.writeBatch]]: one
  * `__batch_id` partition per micro-batch, dynamic partition overwrite;
  * batch sketches are deterministic), so an at-least-once `foreachBatch`
  * retry rewrites exactly its own partition with identical rows.
  *
  * Compaction differs BY FAMILY, and the difference is the whole design:
  * KMV rows are duplicate-tolerant (serving re-mins, so a transiently
  * doubled row changes nothing) — but counter rows are NOT (a leftover
  * partition double-counts), so the CMS-family compactors run the
  * marker-guarded stage/publish/delete discipline shared with the BM25
  * postings ([[PathCommit.compactIntoSeed]]): a re-run that finds the
  * marker completes the interrupted deletes instead of re-merging.
  */
object SketchStreams {

  // --- KMV -----------------------------------------------------------

  def ingestKmv(newRows: DataFrame, keyCol: Column, k: Int,
                sketchPath: String,
                sliceCols: Seq[String] = Nil,
                statsPath: Option[String] = None): DataStreamWriter[Row] =
    newRows.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processKmvBatch(batch, batchId, keyCol, k, sketchPath, sliceCols,
        statsPath)
    }

  /** One micro-batch (factored out so batch semantics are testable
    * without a streaming harness): the batch's own bottom-k sketch
    * appends as this batch's partition. With `statsPath` set, one
    * NOVELTY row per batch also appends there — `batch_kept` (the
    * batch's global sketch size), the KMV distinct estimate of history
    * BEFORE the batch, AFTER absorbing it, and
    * `est_new = max(0, after − before)` (clamped: estimator jitter on a
    * no-new-content batch must read 0, never negative) — the "how much
    * of today's crawl is actually NEW content" dashboard feed, costed at
    * two bounded sketch merges per batch, no corpus scan, no dedup
    * index. Retry-idempotent like the sketch itself: the stats row is a
    * pure function of (history excluding this batch, batch content).
    */
  private[graft] def processKmvBatch(batch: DataFrame, batchId: Long,
                                     keyCol: Column, k: Int,
                                     sketchPath: String,
                                     sliceCols: Seq[String],
                                     statsPath: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val batchSk = Profile.kmvSketch(batch, keyCol, k, sliceCols)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    statsPath.foreach { sp =>
      // global (slice-merged) sketches; kmvDistinct over an empty sketch
      // is the exact-branch 0 — day one reads before=0, new=after
      def est(sketch: DataFrame): Long =
        Profile.kmvDistinct(sketch, k).collect()
          .headOption.map(_.getLong(1)).getOrElse(0L)
      val beforeSk = PathCommit.history(spark, sketchPath, batchId)
        .map(h => Profile.kmvMerge(h.select("h"), k))
        .getOrElse(batchSk.select("h").limit(0))
      val batchGlobal = Profile.kmvMerge(batchSk.select("h"), k)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val kept = batchGlobal.count()
      val before = est(beforeSk)
      val after = est(Profile.kmvMerge(beforeSk.unionByName(batchGlobal), k))
      import spark.implicits._
      PathCommit.writeBatch(
        Seq((kept, before, after, math.max(0L, after - before)))
          .toDF("batch_kept", "est_before", "est_after", "est_new"),
        batchId, sp)
      batchGlobal.unpersist()
    }
    PathCommit.writeBatch(batchSk, batchId, sketchPath)
    batchSk.unpersist()
  }

  /** The CURRENT sketch: re-min across every committed batch delta —
    * bit-identical to [[Profile.kmvSketch]] over the concatenated data
    * (bottom-k of a union of bottom-ks), merge work ≤ k·batches rows.
    */
  def serveKmv(spark: SparkSession, sketchPath: String, k: Int,
               sliceCols: Seq[String] = Nil): DataFrame =
    Profile.kmvMerge(
      spark.read.parquet(sketchPath).drop("__batch_id"), k, sliceCols)

  /** Consolidate batch deltas `≤ uptoBatch` into the seed partition,
    * RE-MINNED to one ≤ k-row sketch per slice (the merge is the shrink
    * — this is what keeps a years-long loop's serve merge reading a
    * bounded table). KMV rows are duplicate-tolerant, but the shared
    * marker-guarded procedure costs nothing extra and keeps every sketch
    * path under one crash discipline. Call quiescent, `uptoBatch`
    * strictly below any batch that may still retry.
    */
  def compactKmv(spark: SparkSession, sketchPath: String, k: Int,
                 uptoBatch: Long, sliceCols: Seq[String] = Nil,
                 targetFiles: Int = 1): Unit =
    PathCommit.compactIntoSeed(spark, sketchPath, uptoBatch, targetFiles)(
      Profile.kmvMerge(_, k, sliceCols))

  // --- CMS (and its dyadic quantile twin) ------------------------------

  private[graft] def processCmsBatch(batch: DataFrame, batchId: Long,
                                     itemCol: Column, depth: Int, width: Int,
                                     sketchPath: String,
                                     sliceCols: Seq[String]): Unit =
    PathCommit.writeBatch(
      Profile.cmsSketch(batch, itemCol, depth, width, sliceCols),
      batchId, sketchPath)

  /** The CURRENT CMS: counters ADD across batch deltas, so the serve
    * merge is exact sketch algebra — equal to the offline sketch of the
    * concatenated data. Merge input is (batches · depth · width) rows
    * per slice, never data-sized.
    */
  def serveCms(spark: SparkSession, sketchPath: String,
               sliceCols: Seq[String] = Nil): DataFrame =
    Profile.cmsMerge(
      spark.read.parquet(sketchPath).drop("__batch_id"), sliceCols)

  /** Marker-guarded CMS compaction: counter rows are NOT
    * duplicate-tolerant (a leftover pre-delete partition would
    * double-count into every estimate), so this takes the BM25-postings
    * discipline, with the per-slice counter SUM as the merge transform.
    */
  def compactCms(spark: SparkSession, sketchPath: String,
                 uptoBatch: Long, sliceCols: Seq[String] = Nil,
                 targetFiles: Int = 1): Unit =
    PathCommit.compactIntoSeed(spark, sketchPath, uptoBatch, targetFiles)(
      Profile.cmsMerge(_, sliceCols))

  private[graft] def processQuantileBatch(batch: DataFrame, batchId: Long,
                                          metricCol: Column, levels: Int,
                                          depth: Int, width: Int,
                                          sketchPath: String,
                                          sliceCols: Seq[String]): Unit =
    PathCommit.writeBatch(
      Profile.quantileSketch(batch, metricCol, levels, depth, width,
        sliceCols),
      batchId, sketchPath)

  /** The CURRENT quantile sketch (rank/quantile queries run against this
    * via [[Profile.quantileRank]] / [[Profile.quantileEstimate]]).
    */
  def serveQuantileSketch(spark: SparkSession, sketchPath: String,
                          sliceCols: Seq[String] = Nil): DataFrame =
    Profile.quantileSketchMerge(
      spark.read.parquet(sketchPath).drop("__batch_id"), sliceCols)

  def compactQuantileSketch(spark: SparkSession, sketchPath: String,
                            uptoBatch: Long, sliceCols: Seq[String] = Nil,
                            targetFiles: Int = 1): Unit =
    PathCommit.compactIntoSeed(spark, sketchPath, uptoBatch, targetFiles)(
      Profile.quantileSketchMerge(_, sliceCols))
}
