package graft.streaming

import graft.functions.TopN
import graft.operators.{PathCommit, Search}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming BM25 INDEX MAINTENANCE — the search twin of the dedup
  * loops' growing indexes: each micro-batch appends its own DELTA of the
  * two serving tables ([[Search.BmIndex]]: per-doc lengths, per-token
  * postings) as `__batch_id` partitions, and queries are served from the
  * growing path with per-token delta MERGING at read (df sums,
  * postings concatenate and re-cap). The corpus is tokenized exactly once
  * per document, at ingest — serving never touches document text.
  *
  * CONTRACT: document ids are unique ACROSS batches (feed this loop from
  * the dedup loop's lake, whose first-arrival-wins policy guarantees it) —
  * a re-indexed id would double-count its df and tf. Same-batch RETRIES
  * are safe ([[PathCommit.writeBatch]] rewrites the batch's
  * own partitions). Postings are NOT duplicate-tolerant (a duplicated
  * row inflates df); [[compactBm25]] compacts them through the
  * marker-guarded [[PathCommit.compactIntoSeed]].
  */
object SearchStreams {

  /** Wire a streaming (already-curated) document source into the BM25
    * index-maintenance loop. `lengthsPath` / `postingsPath` are
    * loop-owned grow-only parquet paths.
    */
  def ingestBm25(newDocs: DataFrame, idCol: String, textCol: String,
                 lengthsPath: String, postingsPath: String,
                 maxPostings: Int = 10000): DataStreamWriter[Row] =
    newDocs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processBm25Batch(batch, batchId, idCol, textCol,
        lengthsPath, postingsPath, maxPostings)
    }

  /** One micro-batch: build the batch-local index delta and append it.
    * The per-batch postings cap is the SAME `maxPostings` as the serve
    * cap — a token capped in some batch serves its per-batch top docs,
    * the usual impact-ordered approximation (such tokens carry idf ≈ 0).
    */
  private[graft] def processBm25Batch(batch: DataFrame, batchId: Long,
                                      idCol: String, textCol: String,
                                      lengthsPath: String, postingsPath: String,
                                      maxPostings: Int = 10000): Unit = {
    val delta = Search.buildBm25Index(batch, idCol, textCol, maxPostings)
    // CONCURRENT sinks (round-20, §2.6): both deltas derive from the
    // batch source alone — neither lineage reads a sibling sink path
    PathCommit.writeBatches(Seq(
      delta.lengths -> lengthsPath, delta.postings -> postingsPath), batchId)
  }

  /** Serve a query from the growing delta index: the ≤ |Q| matched
    * per-batch postings rows merge per token — df = Σ batch dfs (exact
    * under the unique-ids contract), postings concatenate and re-cap to
    * the global top-`maxPostings` by (tf desc, id asc), the exact
    * [[Search.invertedPostings]] ordering — and the merged tables feed
    * [[Search.bm25TopKIndexed]] unchanged. Merge cost is (matched tokens
    * × batches) postings rows, independent of corpus size; parquet
    * predicate pushdown prunes the token scan. Run [[compactBm25]]
    * periodically to keep the batch-partition count bounded.
    */
  def bm25TopKStreamed(spark: SparkSession,
                       lengthsPath: String, postingsPath: String,
                       queryTerms: Seq[String], k: Int,
                       k1: Double = 1.2, b: Double = 0.75,
                       maxPostings: Int = 10000): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopKStreamed: empty query")
    val terms = queryTerms.distinct
    val lengths = spark.read.parquet(lengthsPath).select("id", "dl")
    val matched = spark.read.parquet(postingsPath)
      .filter(col("token").isin(terms: _*))
    Search.bm25TopKIndexed(
      Search.BmIndex(lengths, mergePostingRows(matched, maxPostings)),
      queryTerms, k, k1, b)
  }

  /** Merge delta postings rows per token: df = Σ row dfs, postings
    * concatenate and re-cap to the global top-`maxPostings` by
    * (tf desc, id asc) — [[Search.invertedPostings]]' exact shape. Shared
    * by the serve path (≤ |Q| matched tokens) and [[compactBm25]] (all
    * tokens).
    */
  private def mergePostingRows(rows: DataFrame, maxPostings: Int): DataFrame = {
    val dfs = rows.groupBy("token").agg(sum(col("df")).as("df"))
    val tops = rows
      .select(col("token"), explode(col("postings")).as("__p"))
      .select(col("token"), col("__p.id").as("id"), col("__p.tf").as("tf"))
      .groupBy("token")
      .agg(TopN.rows(struct(col("id"), col("tf")),
        struct((-col("tf")).as("neg_tf"), col("id")),
        maxPostings, isMax = false).as("postings"))
    dfs.join(tops, "token")
  }

  /** COMPACT the streaming BM25 index: per-batch postings deltas with
    * `__batch_id ≤ uptoBatch` (plus the seed) MERGE into one row per
    * token in the seed partition (exact df sums, re-capped postings), and
    * the lengths partitions consolidate as they are — after compaction a
    * query serves from one merged row per matched token again,
    * regardless of how many batches have ever run. Both go through the
    * marker-guarded [[PathCommit.compactIntoSeed]]: neither postings (a
    * redundant row inflates df) nor lengths (stats double-count a
    * leftover partition) tolerate duplicates.
    */
  def compactBm25(spark: SparkSession,
                  lengthsPath: String, postingsPath: String,
                  uptoBatch: Long, maxPostings: Int = 10000,
                  targetFiles: Int = 8): Unit = {
    PathCommit.compactIntoSeed(spark, postingsPath, uptoBatch, targetFiles)(
      mergePostingRows(_, maxPostings))
    PathCommit.compactIntoSeed(spark, lengthsPath, uptoBatch, targetFiles)(identity)
  }
}
