package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming lake maintenance over CHANGELOG streams — the incremental
  * twin of [[graft.operators.Lake.latestSnapshot]]: a mutable table's
  * upsert/delete log arrives as micro-batches and a current-state
  * snapshot parquet is kept continuously merged, so readers always see
  * last-write-wins state without ever replaying the full log.
  *
  * Tombstones PERSIST in the snapshot (with a `__del` marker): a delete
  * must keep winning against older updates that arrive in LATER
  * micro-batches (out-of-order logs are the norm — partitioned topics
  * guarantee per-key order at best, and late replays not even that).
  * [[readSnapshot]] is the consumer view with tombstones filtered.
  * Dropping tombstones whose version is older than every producer's
  * watermark is a retention policy the caller can run as a maintenance
  * job; the merge itself never needs it.
  *
  * Scale: each micro-batch costs ONE ObjectHashAggregate argmax over
  * (snapshot ∪ batch) — map-side partial, no per-key sort, a
  * million-update hot key reduces before the exchange (the
  * [[graft.operators.Lake.latestSnapshot]] argument) — plus a swap-safe
  * rewrite of the snapshot. That is the classic copy-on-write merge
  * cadence: amortize with batch triggers sized so the snapshot rewrite
  * (O(live keys)) dominates the log read (O(batch)), and compact/bucket
  * the snapshot by key so the union's aggregate reads co-partitioned
  * input.
  */
object ChangeStreams extends org.apache.spark.internal.Logging {

  /** Continuously merge a changelog stream into a snapshot parquet at
    * `snapshotPath`. `isDelete` marks tombstone rows; `versionCols`
    * must give each key a total order (e.g. `(ts, seq)`) or ties break
    * partitioning-dependently. Bootstraps from an absent snapshot.
    *
    * Optional `changeFeedPath`: each micro-batch ALSO writes its net
    * effect on the LIVE view — `(op ∈ insert/update/delete, row…)` via
    * [[graft.operators.Lake.diffSnapshots]] of the before/after
    * snapshots — the change-data feed downstream incremental consumers
    * subscribe to instead of re-diffing snapshots themselves. The feed is
    * a loop-owned path: batch N lands in its own `__batch_id=N` partition
    * through [[graft.operators.PathCommit.writeBatch]], BEFORE the
    * snapshot commits (see [[mergeBatch]]). A plain `spark.read.parquet`
    * of it infers `__batch_id` as int, as the last column; a slice read
    * by `__batch_id` prunes to that one directory. A batch of late rows
    * that changes nothing writes no partition.
    */
  def cdcSnapshotStream(changelog: DataFrame, keyCols: Seq[String],
                        versionCols: Seq[String], isDelete: Column,
                        snapshotPath: String,
                        changeFeedPath: Option[String] = None,
                        snapshotPartition: Option[(String, Column)] = None): DataStreamWriter[Row] =
    changelog.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      mergeBatch(batch, keyCols, versionCols, isDelete, snapshotPath,
        changeFeedPath, batchId, snapshotPartition)
    }

  /** One micro-batch of the merge loop (factored out so batch semantics
    * are testable without a streaming harness — the
    * [[DocumentStreams.processBatch]] convention).
    *
    * The default layout rewrites the WHOLE snapshot every batch — O(table)
    * per micro-batch, the 3.9×-at-10× row of the scale sweep
    * (SCALE_SWEEP_r10.md, `q_cdc_merge_loop`) — and commits it with one
    * atomic [[graft.operators.PathCommit.swap]]. It is the oracle anchor
    * and fits small snapshots; AT SCALE pass `snapshotPartition`.
    *
    * `snapshotPartition = Some((name, expr))` switches the snapshot to a
    * PARTITIONED copy-on-write layout (`q_cdc_merge_part`, same oracle) —
    * the fix for the full-table rewrite that the 10× sweep measured at
    * 7.3×. The snapshot is laid out `name=value/` by `expr`; each merge
    * computes the batch's DISTINCT partition values (a tiny driver-side
    * list — CDC batches touch few partitions when `expr` tracks their
    * locality), reads ONLY those partitions (source partition pruning),
    * merges, and rewrites ONLY them via dynamic partition overwrite. Cost
    * per batch becomes O(batch + touched partitions), not O(table).
    *
    * Caller contract: `expr` must be a pure function of `keyCols` — if
    * it depended on non-key columns, an update could move a key across
    * partitions and strand its older version in the old partition,
    * breaking last-write-wins. Choose `expr` to match batch locality
    * (ingest date, tenant, key range); a uniform hash spreads every
    * batch across every partition and degenerates to the unpartitioned
    * rewrite — detected at runtime (batch touching ≥ half the existing
    * partitions logs a warning, skips pruning, and merges the full table
    * in place; results are identical either way, spec-pinned). NULL and
    * empty-string partition values are legal and route through Hive's
    * default partition directory.
    *
    * Commit order and retries: the feed slice (`changeFeedPath`, which
    * needs the micro-batch's `batchId`) is written before the snapshot
    * commits — inside the swap's stage, before its marker, or before the
    * dynamic overwrite. A retry after a crash before the commit re-diffs
    * against the untouched snapshot and rewrites its own feed partition;
    * a retry after the commit re-merges to the same winners, so its diff
    * is empty and the committed feed partition stays as it is. The
    * partitioned layout's multi-partition overwrite has the torn-window
    * caveat of any dynamic overwrite: a crash inside it leaves some
    * partitions committed, and the retry's feed slice then lacks their
    * changes. Single-partition batches keep the full atomic guarantee of
    * the unpartitioned layout.
    */
  private[graft] def mergeBatch(batch: DataFrame, keyCols: Seq[String],
                                    versionCols: Seq[String], isDelete: Column,
                                    snapshotPath: String,
                                    changeFeedPath: Option[String] = None,
                                    batchId: Long = -1L,
                                    snapshotPartition: Option[(String, Column)] = None): Unit = {
    require(changeFeedPath.isEmpty || batchId >= 0,
      s"a change feed needs the micro-batch id (batchId >= 0), got $batchId")
    val spark = batch.sparkSession
    // First complete a snapshot swap that a crash interrupted, even for an
    // empty batch: until then the snapshot may sit under its `_old` name,
    // and merging into the empty path would replace it with this batch
    // alone.
    graft.operators.PathCommit.resume(spark, snapshotPath, "merge")
    // An EMPTY micro-batch is a no-op, and must short-circuit: merging it
    // anyway would (a) on bootstrap, write a schema-less snapshot
    // directory that poisons the next merge's read, and (b) on an
    // existing snapshot, pay a full rewrite to change nothing. The live
    // view is unchanged, so the feed correctly gets nothing.
    // The batch is persisted ONCE so the emptiness probe and the merge's
    // re-reads don't each re-evaluate an expensive upstream plan
    // (foreachBatch hands over an unmaterialized DataFrame).
    val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (b.isEmpty) return
      val dataCols = b.columns.toSeq
      snapshotPartition.foreach { case (pcol, _) =>
        require(!dataCols.contains(pcol) && pcol != "__del",
          s"partition column $pcol collides with a data column")
      }
      val marked = b.withColumn("__is_del",
        coalesce(isDelete.cast("boolean"), lit(false)))
      val target = new org.apache.hadoop.fs.Path(snapshotPath)
      val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
      val old = Option.when(fs.exists(target)) {
        val snap = snapshotPartition match {
          case None => spark.read.parquet(snapshotPath)
          case Some((pcol, pexpr)) => touchedPartitions(marked, snapshotPath, pcol, pexpr)
        }
        snap.withColumnRenamed("__del", "__is_del").select(marked.columns.map(col): _*)
      }
      val merged = graft.operators.Lake.latestSnapshot(
          old.map(_.union(marked)).getOrElse(marked), keyCols, versionCols.map(col),
          isDelete = col("__is_del"), keepTombstones = true)
        .select(dataCols.map(col) :+ col("__del"): _*)
      // the feed diffs the LIVE views: the old rows this merge read, and
      // `staged`, the merged rows as the branch below stages them
      def writeFeed(staged: DataFrame): Unit = changeFeedPath.foreach { p =>
        val after = staged.filter(!col("__del")).drop("__del")
        val before = old.map(_.filter(!col("__is_del")).drop("__is_del"))
          .getOrElse(spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row], after.schema))
        // "_op", not "op": CDC changelogs routinely carry their own `op`
        // column through to the snapshot, and the feed must not collide.
        // includeBefore: feed consumers maintaining incremental aggregates
        // need the replaced row to retract it. The diff leaves the full
        // outer join's exchange, so the write adds no rebalance.
        graft.operators.PathCommit.writeBatch(
          graft.operators.Lake.diffSnapshots(before, after, keyCols,
            opCol = "_op", includeBefore = true),
          batchId, p, rebalance = false)
      }
      snapshotPartition match {
        case None =>
          // the snapshot is both input and output of this batch, so it is
          // staged aside and swapped in; the feed reads the staged files
          // instead of re-running the whole union+argmax plan
          graft.operators.PathCommit.swap(spark, snapshotPath, "merge") { tmp =>
            merged.write.parquet(tmp)
            writeFeed(spark.read.parquet(tmp))
          }
        case Some((pcol, pexpr)) =>
          // the snapshot is input AND output of the overwrite below — stage
          // the merged slice BEFORE touching the target. Bootstrap has no
          // read-overwrite conflict: skip the staging round-trip
          val tmp = new org.apache.hadoop.fs.Path(
            snapshotPath.stripSuffix("/") + ".__merge_tmp")
          val staged =
            if (old.isDefined) {
              merged.write.mode("overwrite").parquet(tmp.toString)
              spark.read.parquet(tmp.toString)
            } else merged
          writeFeed(staged)
          // rewrite ONLY the touched partitions; untouched directories are
          // never listed, read, or replaced
          staged.withColumn(pcol, pexpr.cast("string"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(pcol)
            .parquet(snapshotPath)
          fs.delete(tmp, true)
      }
    } finally b.unpersist(false)
  }

  /** The rows of the existing partitioned snapshot at `snapshotPath` in
    * the partitions `marked`'s batch touches, without the partition
    * column (see [[mergeBatch]]).
    */
  private def touchedPartitions(marked: DataFrame, snapshotPath: String,
                                pcol: String, pexpr: Column): DataFrame = {
    val spark = marked.sparkSession
    // the batch's partition footprint: a tiny driver-side list (CDC
    // batches are partition-local by construction of `pexpr`).
    // NULL and empty-string values both land in Hive's default partition
    // directory on write and read back as NULL, so they are routed to a
    // single NULL bucket here — an `isin(null)` would never match and the
    // old partition's rows (tombstones included) would silently drop.
    val touched = marked.select(pexpr.cast("string").as(pcol))
      .distinct().collect()
      .map(r => if (r.isNullAt(0) || r.getString(0).isEmpty) null
                else r.getString(0))
      .toSeq.distinct
    val touchedNonNull = touched.filter(_ != null)
    val inTouched = (
      (if (touchedNonNull.nonEmpty) Seq(col(pcol).isin(touchedNonNull: _*)) else Nil) ++
      (if (touched.contains(null)) Seq(col(pcol).isNull) else Nil)
    ).reduce(_ || _)

    // Degenerate-batch guard: when the batch touches (nearly) every
    // existing partition, pruning buys nothing and the merge costs ~2×
    // the flat rewrite (SCALE.md). The layout must STAY partitioned
    // (later merges read it with pcol in the schema), so the "fallback"
    // is a full-table merge in place: skip the pruning filter and let
    // dynamic overwrite rewrite every partition — same cost shape as the
    // flat path, no layout change. Loudly logged so callers learn their
    // `pexpr` does not match batch locality.
    val target = new org.apache.hadoop.fs.Path(snapshotPath)
    val existingParts = target.getFileSystem(spark.sessionState.newHadoopConf())
      .listStatus(target).count(s =>
        s.isDirectory && s.getPath.getName.startsWith(pcol + "="))
    val degenerate = existingParts > 1 && touched.size.toDouble >= 0.5 * existingParts
    if (degenerate)
      logWarning(s"CDC merge batch touches ${touched.size} of " +
        s"$existingParts snapshot partitions; partition pruning degenerates " +
        s"to a full rewrite — choose a snapshotPartition expr that matches " +
        s"batch locality (see ChangeStreams.mergeBatch scaladoc)")

    // The snapshot is read with an EXPLICIT schema (partition column
    // pinned to string): partition-column type inference would round a
    // value like "00" through int 0, so the pruning comparison (string
    // "00") would miss the directory while dynamic overwrite still
    // replaces it — silently dropping the partition's prior versions.
    val snapReadSchema = org.apache.spark.sql.types.StructType(
      marked.drop("__is_del").schema.fields :+
        org.apache.spark.sql.types.StructField("__del",
          org.apache.spark.sql.types.BooleanType) :+
        org.apache.spark.sql.types.StructField(pcol,
          org.apache.spark.sql.types.StringType))
    spark.read.schema(snapReadSchema).parquet(snapshotPath)
      .filter(if (degenerate) lit(true) else inTouched) // source partition pruning: only touched dirs read
      .drop(pcol)
  }

  /** The consumer view of [[cdcSnapshotStream]]'s snapshot: live rows
    * only (tombstones filtered, marker dropped; a partitioned layout's
    * partition column is dropped too — it is derivable from the keys).
    */
  def readSnapshot(spark: SparkSession, snapshotPath: String,
                   partitionCol: Option[String] = None): DataFrame = {
    val snap = spark.read.parquet(snapshotPath)
    val live = snap.filter(!col("__del")).drop("__del")
    partitionCol.filter(live.columns.contains).map(live.drop).getOrElse(live)
  }

  /** INCREMENTAL VIEW MAINTENANCE: fold a change-feed slice into a
    * per-group (sum, count) aggregate table WITHOUT touching the base
    * snapshot — the reason the feed carries preimages. Each feed row
    * contributes its retraction-aware delta (insert `+v`, update
    * `+v − before.v`, delete `−before.v`; counts ±1/0), deltas reduce in
    * one map-side-combined aggregate, and ONE outer join against the
    * |groups|-row aggregate table applies them — groups whose counts
    * reach zero drop. Folding feed slices batch-by-batch equals the
    * direct groupBy over the final snapshot (spec-pinned), at the cost
    * of reading only the feed slice: O(changes), not O(table).
    *
    * Average/variance maintenance is the same shape with more moments;
    * MIN/MAX are NOT incrementally maintainable under deletes (a
    * retracted extremum forces a group re-scan) — recompute those, or
    * keep them approximately with a sketch.
    */
  def applyFeedToSums(agg: DataFrame, feed: DataFrame,
                      groupCols: Seq[String], valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val v = col(valueCol).cast("long")
    val before = col(s"_before.$valueCol").cast("long")
    val deltas = feed
      .select(groupCols.map(col) :+
        when(col("_op") === "insert", coalesce(v, lit(0L)))
          .when(col("_op") === "update",
            coalesce(v, lit(0L)) - coalesce(before, lit(0L)))
          .otherwise(-coalesce(before, lit(0L))).as("__dv") :+
        when(col("_op") === "insert", lit(1L))
          .when(col("_op") === "delete", lit(-1L))
          .otherwise(lit(0L)).as("__dn"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("__dv")).as("__dv"), sum(col("__dn")).as("__dn"))
    val deltasR = groupCols.foldLeft(deltas)((d, c) =>
      d.withColumnRenamed(c, s"__g_$c"))
    val cond = groupCols.map(c => agg(c) <=> deltasR(s"__g_$c")).reduce(_ && _)
    agg.join(deltasR, cond, "full_outer")
      .select(groupCols.map(c => coalesce(agg(c), deltasR(s"__g_$c")).as(c)) ++ Seq(
        (coalesce(col("sum_v"), lit(0L)) + coalesce(col("__dv"), lit(0L)))
          .as("sum_v"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("__dn"), lit(0L))).as("n")): _*)
      .filter(col("n") > 0)
  }
}
