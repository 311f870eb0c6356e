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
    * Optional `changeFeedPath`: each micro-batch ALSO appends its net
    * effect on the LIVE view — `(op ∈ insert/update/delete, row…,
    * __batch_id)` via [[graft.operators.Lake.diffSnapshots]] of the
    * before/after snapshots — the change-data-feed downstream
    * incremental consumers subscribe to instead of re-diffing
    * snapshots themselves. A batch of late rows that changes nothing
    * appends nothing.
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
    * `snapshotPartition = Some((name, expr))` switches the snapshot to a
    * PARTITIONED copy-on-write layout — the fix for the full-table
    * rewrite that the 10× sweep measured at 7.3× (O(live keys) per
    * batch regardless of batch size). The snapshot is laid out
    * `name=value/` by `expr`; each merge computes the batch's DISTINCT
    * partition values (a tiny driver-side list — CDC batches touch few
    * partitions when `expr` tracks their locality), reads ONLY those
    * partitions (source partition pruning), merges, and rewrites ONLY
    * them via dynamic partition overwrite. Cost per batch becomes
    * O(batch + touched partitions), not O(table).
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
    * default partition directory. Retries are idempotent (re-merging an already-merged
    * batch reproduces the same winners), and the per-partition commit
    * has the same torn-window caveat as any multi-partition dynamic
    * overwrite — single-partition batches keep the full atomic-swap
    * guarantee of the unpartitioned path.
    */
  private[graft] def mergeBatch(batch: DataFrame, keyCols: Seq[String],
                                    versionCols: Seq[String], isDelete: Column,
                                    snapshotPath: String,
                                    changeFeedPath: Option[String] = None,
                                    batchId: Long = -1L,
                                    snapshotPartition: Option[(String, Column)] = None): Unit = {
    // First complete a snapshot swap that a crash interrupted, even for an
    // empty batch: until then the snapshot may sit under its `_old` name,
    // and merging into the empty path would replace it with this batch
    // alone.
    graft.operators.PathCommit.resume(batch.sparkSession, snapshotPath, "merge")
    // An EMPTY micro-batch is a no-op, and must short-circuit: merging it
    // anyway would (a) on bootstrap, write a schema-less snapshot
    // directory that poisons the next merge's read, and (b) on an
    // existing snapshot, pay a full rewrite to change nothing. The live
    // view is unchanged, so the feed correctly appends nothing.
    // The batch is persisted ONCE so the emptiness probe and the merge's
    // re-reads don't each re-evaluate an expensive upstream plan
    // (foreachBatch hands over an unmaterialized DataFrame).
    val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (b.isEmpty) return
      snapshotPartition match {
        case Some((pcol, pexpr)) =>
          mergeBatchPartitioned(b, keyCols, versionCols, isDelete,
            snapshotPath, changeFeedPath, batchId, pcol, pexpr)
        case None =>
          mergeBatchFull(b, keyCols, versionCols, isDelete,
            snapshotPath, changeFeedPath, batchId)
      }
    } finally b.unpersist(false)
  }

  /** Unpartitioned merge: rewrites the WHOLE snapshot every batch —
    * O(table) per micro-batch, the 3.9×-at-10× row of the scale sweep
    * (SCALE_SWEEP_r10.md, `q_cdc_merge_loop`). Kept as the oracle anchor
    * and for small snapshots where its single atomic swap is worth more
    * than pruning; AT SCALE callers must pass `snapshotPartition` with a
    * locality-matched key expression and take the partitioned
    * copy-on-write path instead (O(batch + touched partitions) —
    * `q_cdc_merge_part` is the gated twin on the same oracle).
    */
  private def mergeBatchFull(batch: DataFrame, keyCols: Seq[String],
                             versionCols: Seq[String], isDelete: Column,
                             snapshotPath: String,
                             changeFeedPath: Option[String],
                             batchId: Long): Unit = {
    val spark = batch.sparkSession
    val dataCols = batch.columns.toSeq
    val marked = batch.withColumn("__is_del",
      coalesce(isDelete.cast("boolean"), lit(false)))
    val target = new org.apache.hadoop.fs.Path(snapshotPath)
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    val exists = fs.exists(target)
    val unioned =
      if (exists)
        spark.read.parquet(snapshotPath)
          .withColumnRenamed("__del", "__is_del")
          .select(marked.columns.map(col): _*)
          .union(marked)
      else marked
    val merged = graft.operators.Lake.latestSnapshot(
        unioned, keyCols, versionCols.map(col),
        isDelete = col("__is_del"), keepTombstones = true)
      .select(dataCols.map(col) :+ col("__del"): _*)
    // swap-safe rewrite: the snapshot is both input and output of this
    // batch, so it is staged aside and swapped in (PathCommit.swap). The
    // staged write is the one full computation of `merged`, and the feed
    // diff below reads the STAGED files back instead of re-running the
    // whole union+argmax plan a second time (round-20, the
    // mergeBatchPartitioned ordering).
    val feed = graft.operators.PathCommit.swap(spark, snapshotPath, "merge") { tmp =>
      merged.write.parquet(tmp)
      val staged = spark.read.parquet(tmp)
      // change feed: diff the LIVE views before/after, while the old
      // snapshot is still on disk (the swap replaces it). The diff must
      // be DURABLE before the swap, not merely cached: persisted blocks
      // can be dropped (executor loss, memory pressure), and a recompute
      // after the rename would re-read snapshotPath — by then the NEW
      // snapshot — yielding a silently wrong/empty feed slice. So the
      // diff is staged to parquet and read back; the feed append below
      // consumes the staged files, whose contents can never change
      // underneath it.
      changeFeedPath.map { p =>
        val before =
          if (exists) readSnapshot(spark, snapshotPath)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(
              staged.drop("__del").schema.fields))
        // "_op", not "op": CDC changelogs routinely carry their own `op`
        // column through to the snapshot, and the feed must not collide.
        // includeBefore: feed consumers maintaining incremental aggregates
        // need the replaced row to retract it
        val d = graft.operators.Lake.diffSnapshots(
            before, staged.filter(!col("__del")).drop("__del"), keyCols,
            opCol = "_op", includeBefore = true)
          .withColumn("__batch_id", lit(batchId))
        val staging = new org.apache.hadoop.fs.Path(
          p.stripSuffix("/") + ".__feed_tmp")
        d.write.mode("overwrite").parquet(staging.toString)
        (spark.read.parquet(staging.toString), staging)
      }
    }
    feed.foreach { case (d, staging) =>
      // `d` reads the staged files, so this append is insulated from the
      // swap above. Empty diffs append nothing (a no-op batch must not
      // litter the feed with schema-only part files).
      changeFeedPath.foreach { p =>
        if (!d.isEmpty) d.write.mode("append").parquet(p)
      }
      staging.getFileSystem(spark.sessionState.newHadoopConf())
        .delete(staging, true)
    }
  }

  /** Partitioned copy-on-write merge (see [[mergeBatch]] doc). */
  private def mergeBatchPartitioned(batch: DataFrame, keyCols: Seq[String],
                                    versionCols: Seq[String], isDelete: Column,
                                    snapshotPath: String,
                                    changeFeedPath: Option[String],
                                    batchId: Long,
                                    pcol: String, pexpr: Column): Unit = {
    val spark = batch.sparkSession
    val dataCols = batch.columns.toSeq
    require(!dataCols.contains(pcol) && pcol != "__del",
      s"partition column $pcol collides with a data column")
    val marked = batch.withColumn("__is_del",
      coalesce(isDelete.cast("boolean"), lit(false)))
    val target = new org.apache.hadoop.fs.Path(snapshotPath)
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    val exists = fs.exists(target)

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
    val existingParts =
      if (exists)
        fs.listStatus(target).count(s =>
          s.isDirectory && s.getPath.getName.startsWith(pcol + "="))
      else 0
    val degenerate = exists && existingParts > 1 &&
      touched.size.toDouble >= 0.5 * existingParts
    if (degenerate)
      logWarning(s"CDC merge batch touches ${touched.size} of " +
        s"$existingParts snapshot partitions; partition pruning degenerates " +
        s"to a full rewrite — choose a snapshotPartition expr that matches " +
        s"batch locality (see ChangeStreams.mergeBatch scaladoc)")
    val pruneFilter = if (degenerate) lit(true) else inTouched

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
    val sliceOld: Option[DataFrame] =
      if (exists)
        Some(spark.read.schema(snapReadSchema).parquet(snapshotPath)
          .filter(pruneFilter) // source partition pruning: only touched dirs read
          .drop(pcol)
          .withColumnRenamed("__del", "__is_del")
          .select(marked.columns.map(col): _*))
      else None
    val unioned = sliceOld.map(_.union(marked)).getOrElse(marked)
    val merged = graft.operators.Lake.latestSnapshot(
        unioned, keyCols, versionCols.map(col),
        isDelete = col("__is_del"), keepTombstones = true)
      .select(dataCols.map(col) :+ col("__del"): _*)

    // the snapshot is input AND output of the overwrite below — stage the
    // merged slice (and the durable feed diff) BEFORE touching the target.
    // Bootstrap (no existing snapshot) has no read-overwrite conflict and
    // no before-image: skip the staging round-trip entirely
    val tmp = new org.apache.hadoop.fs.Path(
      snapshotPath.stripSuffix("/") + ".__merge_tmp")
    val staged =
      if (exists) {
        merged.write.mode("overwrite").parquet(tmp.toString)
        spark.read.parquet(tmp.toString)
      } else merged
    val feed = changeFeedPath.map { p =>
      val before = sliceOld
        .map(s => s.filter(!col("__is_del")).drop("__is_del"))
        .getOrElse(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(
            staged.drop("__del").schema.fields)))
      val d = graft.operators.Lake.diffSnapshots(
          before, staged.filter(!col("__del")).drop("__del"), keyCols,
          opCol = "_op", includeBefore = true)
        .withColumn("__batch_id", lit(batchId))
      val staging = new org.apache.hadoop.fs.Path(
        p.stripSuffix("/") + ".__feed_tmp")
      d.write.mode("overwrite").parquet(staging.toString)
      (spark.read.parquet(staging.toString), staging)
    }
    // rewrite ONLY the touched partitions; untouched directories are
    // never listed, read, or replaced
    staged.withColumn(pcol, pexpr.cast("string"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(pcol)
      .parquet(snapshotPath)
    fs.delete(tmp, true)
    feed.foreach { case (d, staging) =>
      changeFeedPath.foreach { p =>
        if (!d.isEmpty) d.write.mode("append").parquet(p)
      }
      staging.getFileSystem(spark.sessionState.newHadoopConf())
        .delete(staging, true)
    }
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
