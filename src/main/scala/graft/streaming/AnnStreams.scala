package graft.streaming

import graft.operators.PathCommit
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming IVF INDEX MAINTENANCE — the ANN twin of
  * [[SearchStreams]]'s BM25 loop, completing the serving-maintenance
  * tier across both retrieval legs: each micro-batch of (curated,
  * deduped) vectors is assigned to its nearest COMMITTED coarse
  * centroid and appended to a grow-only cluster-partitioned assigned
  * table; probes serve from the growing path with the same
  * partition-pruned scan as the offline [[graft.operators.Similarity.ivfTopK]].
  *
  * THE CENTROIDS ARE FIXED for the life of the index — the k-means fit
  * is the offline, non-replayable step ([[graft.operators.Similarity.ivfIndexFor]]);
  * re-fitting per batch would silently re-home every previously
  * published vector (their stored `__cluster` would be stale), exactly
  * the orphaned-codes hazard the embedding-dedup loop documents for its
  * fixed LSH tuning. Re-index to re-fit. Centroid DRIFT is therefore a
  * monitored condition, not a mutation: [[ivfOccupancy]] reports
  * per-cluster / per-batch growth so an operator can see new data
  * crowding into few clusters (the probe-cost failure mode) and decide
  * to re-fit offline.
  *
  * CONTRACT (same as the BM25 loop): ids unique across batches — feed
  * from the dedup loop's lake. Same-batch retries are safe: assignment
  * is deterministic given the fixed centroids, so a retry rewrites
  * exactly its own `(__batch_id, __cluster)` partitions. Assigned rows
  * are NOT duplicate-tolerant (a doubled row is a doubled top-k
  * candidate), so compaction is the marker-guarded
  * [[PathCommit.compactIntoSeed]].
  */
object AnnStreams {

  /** Nearest-committed-centroid assignment as a COLUMN: native squared-L2
    * kernel ([[graft.functions.SquaredL2Distance]] — widen float→double,
    * exact double arithmetic; the `array<float>` embedding convention is
    * enforced by its type check) against each centroid, first minimum
    * wins via `array_position(array_min)`. Codegen'd end to end — the
    * first cut used `aggregate(zip_with(...))`, and higher-order
    * functions are CodegenFallback: 500k assignments measured 32 s
    * interpreted at the 10× sweep. Deterministic given the centroids, so
    * retries and independent engines reproduce identical assignments
    * (the battery row's oracle argument).
    */
  def assignCluster(vec: Column, centroids: Array[Array[Double]]): Column = {
    require(centroids.nonEmpty, "assignCluster: empty centroid set")
    val dists = array(centroids.map { c =>
      graft.functions.VectorFunctions.l2sq(vec, typedLit(c.toSeq))
    }: _*)
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** One micro-batch: assign against the fixed centroids, append the
    * batch's `(id, vec, __cluster)` delta. NULL vectors are skipped
    * (nothing to index — this loop serves retrieval; the DOCUMENT
    * record already flowed through its own lake). `assignedPath` is the
    * loop-owned grow-only parquet, partitioned by `(__batch_id,
    * __cluster)` so probes prune BOTH axes at the source: a query reads
    * `nprobe` cluster sub-directories of each batch partition and
    * nothing else.
    */
  private[graft] def processIvfBatch(batch: DataFrame, batchId: Long,
                                     idCol: String, vecCol: String,
                                     centroids: Array[Array[Double]],
                                     assignedPath: String): Unit = {
    val assigned = batch
      .filter(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol),
        assignCluster(col(vecCol), centroids).as("__cluster"))
    // one batch-sized exchange on the cluster key before the write:
    // every task otherwise opens every cluster directory (tasks ×
    // nlist files per batch — the long-lived loop's file-count
    // killer); clustered, each cluster lands as one file per batch
    PathCommit.writeBatch(assigned.repartition(col("__cluster")), batchId,
      assignedPath, extraPartitionBy = Seq("__cluster"), rebalance = false)
  }

  /** Serve an ANN probe from the growing assigned path: rank the fixed
    * centroids driver-side (the [[graft.operators.Similarity.ivfTopK]] L2 rule),
    * scan ONLY the `nprobe` nearest clusters' partitions across all
    * published batches, exact cosine top-k over the survivors. The scan
    * cost tracks `nprobe/nlist` of the published corpus regardless of
    * how many batches have run; run [[compactIvf]] periodically to keep
    * the partition-directory count bounded.
    */
  def ivfTopKStreamed(spark: SparkSession, assignedPath: String,
                      centroids: Array[Array[Double]],
                      idCol: String, vecCol: String,
                      query: Seq[Float], k: Int, nprobe: Int = 2): DataFrame = {
    require(nprobe >= 1, "ivfTopKStreamed: nprobe must be >= 1")
    def l2(c: Array[Double]): Double =
      math.sqrt(c.zip(query).map { case (a, b) => (a - b) * (a - b) }.sum)
    val probe = centroids.zipWithIndex
      .sortBy { case (c, _) => l2(c) }
      .take(nprobe).map(_._2)
    val candidates = spark.read.parquet(assignedPath)
      .filter(col("__cluster").isin(probe: _*))
      .select(col(idCol), col(vecCol))
    graft.operators.Similarity.bruteForceTopK(candidates, idCol, vecCol, query, k)
  }

  /** Wire a streaming vector source into the IVF-PQ code-maintenance
    * loop — the composed tier's streaming twin: same fixed committed
    * centroids AND fixed committed codebook (either fit re-done =
    * re-index), each batch appending `(id, code)` rows in the
    * `(__batch_id, __cluster)` layout of
    * [[graft.operators.Similarity.ivfPqEncodedFor]]. Vectors are
    * encoded ONCE, at ingest; serving never touches a float.
    */
  def ingestIvfPq(newVecs: DataFrame, idCol: String, vecCol: String,
                  centroids: Array[Array[Double]],
                  cb: graft.operators.Similarity.PqCodebook,
                  codesPath: String): DataStreamWriter[Row] =
    newVecs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processIvfPqBatch(batch, batchId, idCol, vecCol, centroids, cb, codesPath)
    }

  /** One micro-batch of the IVF-PQ loop: assign + encode (both native
    * codegen'd kernels), append the batch's `(id, code, __cluster)`
    * delta. Output columns mirror the offline artifact exactly, so the
    * streamed table and [[graft.operators.Similarity.ivfPqEncodedFor]]'s
    * are interchangeable to every reader.
    */
  private[graft] def processIvfPqBatch(batch: DataFrame, batchId: Long,
                                       idCol: String, vecCol: String,
                                       centroids: Array[Array[Double]],
                                       cb: graft.operators.Similarity.PqCodebook,
                                       codesPath: String): Unit = {
    val assigned = batch
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol),
        assignCluster(col(vecCol), centroids).as("__cluster"))
    // the cluster exchange happens BEFORE the encode projection, so the
    // m·k·subDim encode work parallelizes across the nlist post-shuffle
    // tasks instead of the source's read partitions (a derived-fixture
    // single parquet file read as 1–2 splits measured the encode
    // serialized at the 10× sweep), and each cluster lands as one file
    // per batch (the processIvfBatch file-count argument)
    PathCommit.writeBatch(assigned.repartition(col("__cluster"))
        .select(col("id"),
          graft.operators.Similarity.pqEncode(col(vecCol), cb).as("code"),
          col("__cluster")),
      batchId, codesPath, extraPartitionBy = Seq("__cluster"), rebalance = false)
  }

  /** Serve an IVF-PQ probe from the growing streamed code table: rank
    * the fixed centroids driver-side, scan only the `nprobe` nearest
    * clusters' partitions across all batches, ADC-rank the byte codes
    * (the shared [[graft.operators.Similarity.adcDist]] lookup column).
    * `m` bytes per candidate, no join, no shuffle — the serve cost is
    * `nprobe/nlist` of the published CODES regardless of batch count.
    */
  def ivfPqTopKStreamed(spark: SparkSession, codesPath: String,
                        centroids: Array[Array[Double]],
                        query: Seq[Float],
                        cb: graft.operators.Similarity.PqCodebook,
                        k: Int, nprobe: Int = 2): DataFrame = {
    require(nprobe >= 1, "ivfPqTopKStreamed: nprobe must be >= 1")
    def l2(c: Array[Double]): Double =
      math.sqrt(c.zip(query).map { case (a, b) => (a - b) * (a - b) }.sum)
    val probe = centroids.zipWithIndex
      .sortBy { case (c, _) => l2(c) }
      .take(nprobe).map(_._2)
    spark.read.parquet(codesPath)
      .filter(col("__cluster").isin(probe: _*))
      .select(col("id"),
        graft.operators.Similarity.adcDist(query, cb).as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("id"))
      .limit(k)
  }

  /** Per-(batch, cluster) occupancy — the DRIFT MONITOR for the fixed
    * centroids: when recent batches' rows crowd into few clusters, new
    * data has drifted off the committed fit and probes of it degrade
    * toward full scans (candidate lists bloat). Reading this table costs
    * a metadata-sized aggregate (counts over partition-pruned scans);
    * alert on max-share growth and re-fit OFFLINE when it trips.
    */
  def ivfOccupancy(spark: SparkSession, assignedPath: String): DataFrame =
    spark.read.parquet(assignedPath)
      .groupBy(col("__batch_id"), col("__cluster"))
      .agg(count(lit(1)).as("n"))

  /** The REFIT DECISION report — [[ivfOccupancy]] composed with
    * [[graft.operators.Profile.categoricalDrift]]: per cluster, how the
    * trailing `recentBatches` micro-batches' assignment mix has drifted
    * from everything before them. A healthy fixed-centroid index drifts
    * in single-digit ppm; new data crowding into few clusters (the
    * probe-cost failure mode) shows up as large `diff_ppm` rows here
    * and a growing
    * `Profile.totalVariationPpm(old, recent, col("__cluster"))` — the
    * alert threshold at which an operator schedules the OFFLINE re-fit
    * (centroids are immutable in this loop; re-fit = re-index, the
    * documented contract).
    *
    * Reads only the partition column (`__cluster`) plus row existence —
    * column IO is nil; cost is a count aggregate over the assigned
    * table's row groups.
    */
  def refitSignal(spark: SparkSession, assignedPath: String,
                  recentBatches: Int = 1): DataFrame = {
    require(recentBatches >= 1, "refitSignal: recentBatches must be >= 1")
    val t = spark.read.parquet(assignedPath)
    // read max(__batch_id) as nullable: an assigned path with no published
    // batches (seed only, or all-NULL ids) must report "no drift signal"
    // cleanly, not NPE on getLong
    val maxRow = t.agg(max(col("__batch_id").cast("long"))).head()
    if (maxRow.isNullAt(0))
      return graft.operators.Profile.categoricalDrift(
          t.limit(0), t.limit(0), col("__cluster").cast("int"))
        .withColumnRenamed("category", "cluster")
    val maxBatch = maxRow.getLong(0)
    val cut = maxBatch - recentBatches
    graft.operators.Profile.categoricalDrift(
        t.filter(col("__batch_id").cast("long") <= cut),
        t.filter(col("__batch_id").cast("long") > cut),
        col("__cluster").cast("int"))
      .withColumnRenamed("category", "cluster")
  }

  /** Marker-guarded compaction of the assigned path
    * ([[PathCommit.compactIntoSeed]]): batch partitions `≤ uptoBatch`
    * consolidate into the seed partition, PRESERVING the `__cluster`
    * sub-partitioning that probe pruning depends on. Call between
    * batches with `uptoBatch` strictly below any batch that may retry.
    */
  def compactIvf(spark: SparkSession, assignedPath: String,
                 uptoBatch: Long, targetFiles: Int = 8): Unit =
    PathCommit.compactIntoSeed(spark, assignedPath, uptoBatch, targetFiles,
      extraPartitionBy = Seq("__cluster"))(identity)

  // --- Marker-guarded REFIT: acting on the drift signal -------------------

  /** The OFFLINE RE-FIT the [[refitSignal]] report schedules, as an
    * actual resumable operation: re-home EVERY published vector of the
    * assigned path under NEW centroids and atomically swap the table, so
    * serve output switches from the old fit to the new EXACTLY ONCE —
    * never a mix of fits, never a doubled row — no matter where a crash
    * lands.
    *
    * Why not compact-style dynamic overwrite: a refit CHANGES the cluster
    * key, so overwriting the seed partition in place would leave stale
    * `__cluster=` directories the new fit never writes — phantom
    * candidates under the old geometry. The table is therefore replaced
    * by a [[PathCommit.swap]] under the tag `refit`: the fully
    * re-assigned table is staged to `path__refit_tmp` (seed layout
    * `__batch_id=-1/__cluster=…`) while serve still reads the OLD table,
    * `path__refit_marker` commits it, and two renames switch it in.
    *
    * A crash before the marker leaves the old table serving; a crash
    * after it is completed by the next [[refitIvf]] call (which then
    * stages nothing: the interrupted refit IS the refit).
    * CONTRACT: pause the ingest loop first; `uptoBatch` must cover every
    * published batch (checked loudly — re-homing under a writer would
    * resurrect the mixed-fit hazard this exists to prevent).
    */
  def refitIvf(spark: SparkSession, assignedPath: String,
               newCentroids: Array[Array[Double]],
               idCol: String, vecCol: String,
               uptoBatch: Long, targetFiles: Int = 8): Unit = {
    require(newCentroids.nonEmpty, "refitIvf: empty centroid set")
    if (PathCommit.resume(spark, assignedPath, "refit")) return
    val published = PathCommit.committed(spark, assignedPath) match {
      case Some(rows) => rows
      case None => return
    }
    val maxRow = published.agg(max(col("__batch_id").cast("long"))).head()
    if (!maxRow.isNullAt(0))
      require(maxRow.getLong(0) <= uptoBatch,
        s"refitIvf: published batch ${maxRow.getLong(0)} > uptoBatch " +
          s"$uptoBatch — pause the loop and cover every batch")
    // stage: one pass over the published vectors, new assignment, the
    // ingest loop's own cluster exchange + layout
    PathCommit.swap(spark, assignedPath, "refit") { tmp =>
      PathCommit.seed(published
          .select(col(idCol), col(vecCol),
            assignCluster(col(vecCol), newCentroids).as("__cluster"))
          .repartition(targetFiles, col("__cluster")),
        tmp, extraPartitionBy = Seq("__cluster"), rebalance = false)
    }
  }
}
