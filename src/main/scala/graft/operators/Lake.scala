package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Batch lake-layout writer with SMALL-FILES CONTROL.
  *
  * A naive `df.write.partitionBy(cols)` emits one file per (task ×
  * partition value) — at 1000 tasks × 365 dates that is 365,000 files per
  * day of output, and the metadata/listing cost of millions of tiny files
  * is a top-three operational failure mode of large lakes. Repartitioning
  * by the partition columns FIRST routes each partition value to exactly
  * one task (one file per directory); a row-hash salt spreads hot
  * partitions across `filesPerPartition` tasks when one file would be too
  * large or too slow to write.
  */
object Lake {

  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       filesPerPartition: Int = 1,
                       mode: String = "overwrite"): Unit = {
    require(partitionCols.nonEmpty, "partitionCols must be non-empty")
    require(filesPerPartition >= 1, "filesPerPartition must be >= 1")
    val keys = partitionCols.map(col)
    val routed =
      if (filesPerPartition == 1) df.repartition(keys: _*)
      else {
        // explicit partition count: an un-pinned repartition(cols) lets AQE
        // coalesce the small salted partitions back into one task, undoing
        // the hot-partition split. Result: AT MOST filesPerPartition files
        // per directory (hash-distributed, so fewer when salts collide).
        val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
          .max(filesPerPartition)
        df.repartition(n, keys :+
          pmod(xxhash64(struct(df.columns.map(col): _*)), lit(filesPerPartition)): _*)
      }
    routed.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)
  }

  /** GLOBALLY-ORDERED SHARD EXPORT — the final "emit training shards"
    * step: rows ordered by `orderBy` are written as `numShards` parquet
    * shards such that shard i holds a contiguous range of the global
    * order and every shard is sorted internally (a trainer streaming
    * shard 0, 1, 2… reads the corpus in exact curriculum/pack order).
    *
    * `repartitionByRange` samples the order keys to compute balanced
    * range boundaries (one pass), then each task sorts only its own
    * shard — the full corpus is never sorted in one task, unlike
    * `orderBy(...).coalesce(n)`. Returns the shard → row-count manifest,
    * computed from the written files.
    */
  def writeOrderedShards(df: DataFrame, path: String,
                         orderBy: Seq[org.apache.spark.sql.Column],
                         numShards: Int,
                         mode: String = "overwrite"): DataFrame = {
    require(numShards >= 1, "numShards must be >= 1")
    df.repartitionByRange(numShards, orderBy: _*)
      .sortWithinPartitions(orderBy: _*)
      .withColumn("shard", spark_partition_id().cast("long"))
      .write.mode(mode).partitionBy("shard").parquet(path)
    df.sparkSession.read.parquet(path)
      .groupBy("shard").agg(count(lit(1)).as("n_rows"))
      .orderBy("shard")
  }

  /** SEEDED DETERMINISTIC SHUFFLE EXPORT — training-order shuffling as a
    * shard write: rows are globally ordered by `md5(seed ":" id)` (a
    * keyed pseudo-random permutation, identical on every engine that has
    * md5 — reproducible across reruns, clusters, and partition layouts,
    * unlike `orderBy(rand(seed))`, whose sample depends on the partition
    * layout). A trainer streaming shard 0, 1, 2… reads the corpus in the
    * seed's shuffle order with no curriculum bias; epoch n = seed + n —
    * a fresh, equally-deterministic permutation per epoch. The shuffle
    * key column rides along (`__shuffle_key`) as the audit trail.
    *
    * Shard boundaries are NOT sampled (a [[writeOrderedShards]]-style
    * `repartitionByRange` samples keys with the RDD id in the seed, so
    * two identical runs can cut shards differently): shard =
    * `top16bits(key) * numShards div 65536` — fixed, contiguous
    * keyspace ranges, so the full (assignment, order) layout is a pure
    * function of (seed, ids). md5's uniformity makes shard sizes equal
    * to within binomial noise. Each shard hash-routes to one task
    * (one sorted file per shard); no sampling pass, no global sort.
    */
  def writeShuffledShards(df: DataFrame, path: String, idCol: String,
                          seed: Long, numShards: Int,
                          mode: String = "overwrite"): DataFrame = {
    require(numShards >= 1 && numShards <= 65536,
      "numShards in [1, 65536]: shard = top-16-bit key range")
    val keyed = df.withColumn("__shuffle_key",
        md5(concat_ws(":", lit(seed.toString), col(idCol).cast("string"))))
      .withColumn("shard",
        expr(s"CAST(conv(substring(__shuffle_key, 1, 4), 16, 10) AS BIGINT)" +
          s" * $numShards div 65536"))
    keyed
      .repartition(numShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("__shuffle_key"), col(idCol))
      .write.mode(mode).partitionBy("shard").parquet(path)
    df.sparkSession.read.parquet(path)
      .groupBy("shard").agg(count(lit(1)).as("n_rows"))
      .orderBy("shard")
  }

  /** [[writeOrderedShards]] in JSONL — the format trainers actually
    * stream. Same contiguous-range contract (range-partitioned by the
    * sampled `orderBy` boundaries, sorted within each shard, never a
    * global single-task sort); text JSON costs more bytes than parquet,
    * which is the point of doing it LAST, on the final curated/packed
    * rows only. Returns the shard → row-count manifest.
    */
  def writeJsonlShards(df: DataFrame, path: String,
                       orderBy: Seq[Column],
                       numShards: Int,
                       mode: String = "overwrite"): DataFrame = {
    require(numShards >= 1, "numShards must be >= 1")
    df.repartitionByRange(numShards, orderBy: _*)
      .sortWithinPartitions(orderBy: _*)
      .withColumn("shard", spark_partition_id().cast("long"))
      .write.mode(mode).partitionBy("shard").json(path)
    jsonlManifest(df, path)
  }

  /** Shared JSONL read-back manifest for the two shard exporters:
    * explicit schema (inference over fresh output is a wasted pass and
    * could widen types the writer just fixed) + the shard → row-count
    * table.
    */
  private def jsonlManifest(df: DataFrame, path: String): DataFrame =
    df.sparkSession.read
      .schema(org.apache.spark.sql.types.StructType(
        df.schema.fields :+
          org.apache.spark.sql.types.StructField("shard",
            org.apache.spark.sql.types.LongType)))
      .option("basePath", path)
      .json(path)
      .groupBy("shard").agg(count(lit(1)).as("n_rows"))
      .orderBy("shard")

  /** [[writeJsonlShards]] with DETERMINISTIC shard membership — the
    * reproducible-export contract ([[writeShuffledShards]]'s argument
    * applied to ORDERED shards): `repartitionByRange` samples boundary
    * keys with the RDD id in the seed, so two identical runs can cut
    * shards differently; here shard membership is a pure function of the
    * data instead — global rank r (0-based, over the TOTAL `orderBy`
    * order; include a unique tiebreaker) lands in shard
    * `r * numShards / n`, the balanced contiguous split an auditor (or a
    * DuckDB oracle) recomputes with plain `row_number()` arithmetic.
    *
    * Scale: one range-shuffle sort (persisted, spill-to-disk), one
    * `zipWithIndex` pass — the sort's sampled partition CUTS stay
    * nondeterministic, but ranks are a pure function of the data
    * (per-partition offsets are summed in order), so the
    * (assignment, order) layout is bit-reproducible across runs,
    * clusters, and partition layouts. The full corpus is never sorted in
    * one task. The sorted RDD is persisted before `zipWithIndex` so the
    * offset job, the row count `n`, and the write all read the SAME
    * materialization — a non-deterministic source (or a count racing an
    * external append) can no longer desynchronize `n` from the ranks and
    * push shard ids outside [0, numShards). Returns the shard →
    * row-count manifest.
    *
    * `mode` must be "overwrite": shard membership is a pure function of
    * THIS DataFrame's global ranks, so appending to an existing export
    * would interleave two inconsistent rank layouts under one path and
    * the read-back manifest would mix both — the reproducible-export
    * contract cannot survive an append. Use [[writeJsonlShards]] for
    * append-style exports.
    */
  def writeJsonlShardsRanked(df: DataFrame, path: String,
                             orderBy: Seq[Column],
                             numShards: Int,
                             mode: String = "overwrite"): DataFrame = {
    require(numShards >= 1, "numShards must be >= 1")
    require(mode == "overwrite",
      s"writeJsonlShardsRanked mode must be 'overwrite' (got '$mode'): " +
        "rank-based shard membership is computed from this DataFrame " +
        "alone, so appending would overlap rank-shards from different " +
        "exports and corrupt the manifest")
    val spark = df.sparkSession
    val outSchema = org.apache.spark.sql.types.StructType(
      df.schema.fields :+
        org.apache.spark.sql.types.StructField("shard",
          org.apache.spark.sql.types.LongType))
    val sorted = df.orderBy(orderBy: _*).rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // zipWithIndex's internal offset job materializes the persist;
      // count() and the write then read the same cached blocks
      val zipped = sorted.zipWithIndex()
      val n = sorted.count()
      val ranked = zipped.map { case (row, r) =>
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ r * numShards / n)
      }
      spark.createDataFrame(ranked, outSchema)
        .write.mode(mode).partitionBy("shard").json(path)
    } finally sorted.unpersist(blocking = false)
    jsonlManifest(df, path)
  }

  /** CHANGELOG → CURRENT-STATE snapshot: the last-write-wins CDC merge
    * (the "apply the upsert/delete log" read every mutable-table lake
    * keeps re-running). For each key the row with the LARGEST
    * `versionCols` struct survives; if that surviving row matches
    * `isDelete` the key is a tombstone and is dropped entirely — an older
    * non-delete row must NOT resurface. Callers should make the version
    * struct a total order (e.g. `(ts, seq)` with a unique seq) or ties
    * resolve by first-merged, which is partitioning-dependent.
    *
    * Scale: ONE ObjectHashAggregate shuffle via
    * [[graft.functions.ArgExtremumRow]] — map-side partial argmax reduces
    * each partition's share of a key to one row before the exchange, and
    * no per-key sort ever happens (the `row_number() OVER key` CDC
    * formulation sorts whole hot keys in single tasks; a million-update
    * key dies there and survives here).
    */
  def latestSnapshot(changelog: DataFrame, keyCols: Seq[String],
                     versionCols: Seq[Column],
                     isDelete: Column = lit(false),
                     keepTombstones: Boolean = false): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(versionCols.nonEmpty, "versionCols must be non-empty")
    val rowStruct = struct(
      changelog.columns.map(col) :+ isDelete.cast("boolean").as("__del"): _*)
    val latest = changelog.groupBy(keyCols.map(col): _*)
      .agg(graft.functions.ArgExtremum
        .argRow(rowStruct, struct(versionCols: _*), isMax = true).as("__row"))
    // keepTombstones: the INCREMENTAL maintenance mode
    // ([[graft.streaming.ChangeStreams.cdcSnapshotStream]]) — the winning
    // delete row survives WITH its `__del` marker so a later micro-batch
    // merging an older late row still loses to the tombstone; the
    // read view filters `__del` at the end
    if (keepTombstones) latest.select(col("__row.*"))
    else latest.filter(!coalesce(col("__row.__del"), lit(false)))
      .select(col("__row.*"))
      .drop("__del")
  }

  /** SNAPSHOT DIFF — the inverse of [[latestSnapshot]]: compare two
    * versions of a keyed table and emit the changelog that turns `old`
    * into `new` — one row per changed key with `op` ∈
    * {insert, update, delete} plus the new-version values (old values for
    * deletes). Unchanged keys emit nothing. The everyday lake questions
    * — "what did yesterday's run change", "generate a CDC feed from two
    * snapshots", incremental-downstream triggering — are all this
    * operator.
    *
    * Change detection compares the non-key columns as a STRUCT with
    * null-safe equality (`<=>`): a NULL→value or value→NULL transition is
    * an update, NULL==NULL is unchanged — exactly the semantics a
    * changelog consumer needs. Keys must be unique per side (a snapshot,
    * not a log — run [[latestSnapshot]] first otherwise).
    *
    * Scale: ONE null-safe full-outer equi-join on the key columns —
    * shuffle-partitioned both sides, AQE handles size asymmetry; the
    * struct comparison is a codegen'd per-row predicate, no second pass,
    * no row hashing (hash-compare would false-negative on hash collisions
    * and still read every column — the struct compare reads the same
    * bytes and is exact).
    */
  def diffSnapshots(oldSnap: DataFrame, newSnap: DataFrame,
                    keyCols: Seq[String], opCol: String = "op",
                    includeBefore: Boolean = false): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(oldSnap.columns.sameElements(newSnap.columns),
      "snapshots must share a schema")
    require(!oldSnap.columns.contains(opCol),
      s"snapshot already has a column named $opCol — pass a different opCol")
    require(!includeBefore || !oldSnap.columns.contains("_before"),
      "snapshot already has a column named _before")
    val valCols = oldSnap.columns.filterNot(keyCols.contains).toSeq
    val o = oldSnap.select(
      struct(keyCols.map(col): _*).as("__k"),
      struct(valCols.map(col): _*).as("__ov"))
    val n = newSnap.select(
      struct(keyCols.map(col): _*).as("__k"),
      struct(valCols.map(col): _*).as("__nv"))
    // null-safe join keys: a NULL key component must match itself or a
    // key with NULL in it could never be diffed
    val joined = o.join(n, o("__k") <=> n("__k"), "full_outer")
    joined
      .withColumn(opCol,
        when(o("__k").isNull, lit("insert"))
          .when(n("__k").isNull, lit("delete"))
          .when(!(col("__ov") <=> col("__nv")), lit("update"))
          .otherwise(lit(null)))
      .filter(col(opCol).isNotNull)
      .select(Seq(coalesce(o("__k"), n("__k")).as("__key"), col(opCol)) ++
        // deletes carry the old values; inserts/updates the NEW row as-is
        // (a per-column coalesce would resurrect old values under
        // value→NULL updates)
        (valCols.map(c => when(col(opCol) === "delete", col(s"__ov.$c"))
          .otherwise(col(s"__nv.$c")).as(c)) ++
        // the PREIMAGE: updates/deletes carry the replaced row so a
        // downstream incremental aggregate can RETRACT it (the Delta-CDF
        // preimage/postimage shape) — inserts have nothing to retract
        (if (includeBefore)
          Seq(when(col(opCol) === "insert", lit(null)).otherwise(col("__ov"))
            .as("_before"))
        else Nil)): _*)
      .select(keyCols.map(c => col(s"__key.$c")) ++
        (col(opCol) +: valCols.map(col)) ++
        (if (includeBefore) Seq(col("_before")) else Nil): _*)
  }

  /** The Morton (Z-curve) interleave of `zCols`, each equal-width
    * bucketized to `bitsPerDim` bits over its [min, max] range — the sort
    * key that makes [[writeZOrdered]] cluster EVERY listed dimension at
    * once. Pure integer shift/mask Column arithmetic after one min/max
    * aggregate per call (a single pass, collected to the driver — the
    * standard offline-layout-job shape).
    */
  def zOrderValue(df: DataFrame, zCols: Seq[String], bitsPerDim: Int = 8,
                  quantileBuckets: Boolean = false): Column = {
    require(zCols.size >= 2, "z-ordering needs >= 2 dimensions (use a plain sort for 1)")
    require(bitsPerDim >= 1 && bitsPerDim * zCols.size <= 60,
      s"bitsPerDim * dims must fit a long (<= 60), got ${bitsPerDim * zCols.size}")
    val nBuckets = 1 << bitsPerDim
    val dims =
      if (quantileBuckets) {
        // QUANTILE buckets: boundary b_k = the k/nBuckets quantile (one
        // approxQuantile sketch pass per call), bucket = |{b_k <= v}| —
        // equal-POPULATION buckets, so a skewed dimension (most real
        // ones) still spreads across all 2^bits codes instead of
        // collapsing into bucket 0 and pruning nothing. The per-row
        // membership count is a higher-order function over ≤ 2^bits−1
        // boundaries — interpreted, but this is the offline layout job,
        // not a query path.
        val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
        // ONE multi-column sketch pass for all dimensions (the
        // per-column overload would scan the input once per dimension)
        val allBs = df.stat.approxQuantile(zCols.toArray, probs, 0.001)
        zCols.zipWithIndex.map { case (c, d) =>
          val bs = allBs(d)
            .distinct.sorted // duplicate boundaries (heavy values) collapse
          val bucket =
            if (bs.isEmpty) lit(0L)
            else size(filter(lit(bs), b => b <= col(c).cast("double"))).cast("long")
          (bucket, d)
        }
      } else {
        // EQUAL-WIDTH buckets: one min/max pass, pure codegen'd per-row
        // arithmetic; right for ~uniform dimensions, degenerates on
        // heavy-tailed ones (spec-pinned contrast).
        val aggs = zCols.flatMap(c => Seq(
          min(col(c)).cast("double").as(s"__min_$c"),
          max(col(c)).cast("double").as(s"__max_$c")))
        val stats = df.agg(aggs.head, aggs.tail: _*).head()
        zCols.zipWithIndex.map { case (c, d) =>
          val lo = stats.getAs[Double](s"__min_$c")
          val hi = stats.getAs[Double](s"__max_$c")
          // degenerate range → every row in bucket 0
          val bucket =
            if (hi <= lo) lit(0L)
            else least(greatest(
              floor((col(c).cast("double") - lit(lo)) / lit((hi - lo) / nBuckets))
                .cast("long"), lit(0L)), lit(nBuckets - 1L))
          (bucket, d)
        }
      }
    // interleave: bit i of dimension d lands at position i*D + d
    val terms = for {
      (bucket, d) <- dims
      i <- 0 until bitsPerDim
    } yield shiftleft(shiftright(bucket, i).bitwiseAND(lit(1L)), i * zCols.size + d)
    terms.reduce(_.bitwiseOR(_))
  }

  /** Z-ORDERED layout: rows sorted by the Morton interleave of `zCols`
    * and range-split into `numFiles` parquet files — so EVERY z dimension
    * is clustered in every file (each file's min/max footer span is
    * ~2^⌈log₄ numFiles⌉ times narrower than the column's range, for 2
    * dims), and a predicate on ANY of the dimensions prunes row groups
    * at scan time. A single-column sort clusters only that column: its
    * files span the full range of every other dimension, and predicates
    * on those prune nothing. The one-pass min/max job + sampled
    * `repartitionByRange` keep the whole layout job at two scans, no
    * global sort in any task.
    *
    * Pruning is statistical, not universal: a file whose z range
    * straddles a high-bit curve transition (the jump between quadrants)
    * spans wide in one dimension — O(log numFiles) such files exist, the
    * rest cluster tightly (spec-pinned in LakeSpec).
    */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
                    bitsPerDim: Int = 8, numFiles: Int = 16,
                    mode: String = "overwrite",
                    quantileBuckets: Boolean = false): Unit = {
    require(numFiles >= 1, "numFiles must be >= 1")
    df.withColumn("__z", zOrderValue(df, zCols, bitsPerDim, quantileBuckets))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(mode).parquet(path)
  }

  /** FILE-LAYOUT health report for a lake path: one row per leaf
    * directory (the table root counts as the leaf `""` when files sit at
    * top level) with file count, total/min/max bytes, and the count of
    * files under `smallFileBytes` — the "when do I need [[compact]] /
    * the loops' [[PathCommit.compactIntoSeed]]" monitor. A long-lived
    * streaming loop's failure mode is never data volume first; it is 10⁵
    * tiny files making every scan listing-bound, and this table is the
    * alert that fires BEFORE that (file_count and n_small grow linearly
    * in batches while bytes stay flat).
    *
    * Driver-side recursive Hadoop-FS listing — METADATA-sized work (one
    * row per file status, no data read), same FS-URI-general API as
    * [[compact]]. Not a battery row: the output is a property of the
    * physical layout, which the DuckDB oracle deliberately cannot see.
    */
  def fileStats(spark: org.apache.spark.sql.SparkSession, path: String,
                smallFileBytes: Long = 8L << 20): DataFrame = {
    import spark.implicits._
    val rawRoot = new org.apache.hadoop.fs.Path(path)
    val fs = rawRoot.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(rawRoot), s"$path does not exist")
    // qualify FIRST: listStatus returns fully-qualified absolute paths, so
    // a relative input root would never strip and every partition would
    // report its full absolute directory instead of the relative leaf
    val root = fs.makeQualified(rawRoot)
    val rootStr = org.apache.hadoop.fs.Path.getPathWithoutSchemeAndAuthority(root).toString
    def walk(dir: org.apache.hadoop.fs.Path): Seq[(String, Long)] =
      fs.listStatus(dir).toSeq.flatMap { s =>
        if (s.isDirectory) walk(s.getPath)
        else if (s.getPath.getName.endsWith(".parquet"))
          Seq((org.apache.hadoop.fs.Path.getPathWithoutSchemeAndAuthority(
            s.getPath.getParent).toString, s.getLen))
        else Nil
      }
    val rel = walk(root).map { case (parent, len) =>
      (parent.stripPrefix(rootStr).stripPrefix("/"), len)
    }
    rel.toDF("partition", "bytes")
      .groupBy("partition")
      .agg(count(lit(1)).as("file_count"),
        sum(col("bytes")).as("total_bytes"),
        min(col("bytes")).as("min_bytes"),
        max(col("bytes")).as("max_bytes"),
        sum(when(col("bytes") < smallFileBytes, 1L).otherwise(0L)).as("n_small"))
  }

  /** COMPACTION: rewrite a parquet directory into
    * `ceil(totalBytes / targetFileBytes)` files — the maintenance job
    * that undoes small-file accumulation from streaming appends and
    * over-parallel writers (millions of tiny files tax every listing,
    * footer read, and task-scheduling pass downstream).
    *
    * Sizing comes from the FILESYSTEM (input file lengths), not row
    * counts — compression ratio is data-dependent and row counts lie
    * about bytes. The rewrite is a [[PathCommit.swap]] under the tag
    * `compact`, so a reader never sees a half-written mix of old and new
    * files — though between the two renames there is a brief window
    * where the path does not exist (two renames cannot be jointly atomic
    * on a generic filesystem); the next call completes a swap a crash
    * interrupted. Plain `repartition` (round-robin) spreads rows evenly
    * regardless of input skew; pass `sortBy` to additionally restore an
    * ordering/clustering ([[writeZOrdered]]'s z column, a timestamp)
    * that compaction would otherwise destroy.
    *
    * UNPARTITIONED directories only (enforced): compacting a
    * `partitionBy` layout through here would flatten it — run one
    * compact() per leaf directory instead, which is also the natural
    * parallelization of the maintenance job.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetFileBytes: Long = 128L << 20,
              sortBy: Seq[Column] = Nil): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    PathCommit.resume(spark, path, "compact")
    // Hadoop FileSystem API throughout — the writer accepts any FS URI
    // (hdfs://, s3a://, file:), so listing and the swap must too; a
    // java.io.File implementation silently only worked on local paths
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(target) && fs.getFileStatus(target).isDirectory,
      s"$path is not a directory")
    val totalBytes = fs.listStatus(target)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    require(totalBytes > 0,
      s"$path holds no top-level parquet files — for a partitioned layout, " +
        "compact each leaf directory (compacting the root would flatten it)")
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val df = spark.read.parquet(path)
    val routed =
      if (sortBy.nonEmpty)
        df.repartitionByRange(nFiles, sortBy: _*).sortWithinPartitions(sortBy: _*)
      else df.repartition(nFiles)
    PathCommit.swap(spark, path, "compact")(routed.write.parquet(_))
    nFiles
  }

  /** Build-once z-ordered copy per (JVM, cacheKey) — the nightly layout
    * job every scan query then reads (the [[graft.operators.Bucketing]]
    * `ensureBucketed` contract, for files instead of tables).
    */
  def ensureZOrdered(df: DataFrame, cacheKey: String, zCols: Seq[String],
                     bitsPerDim: Int = 8, numFiles: Int = 16): DataFrame = {
    val fullKey = s"$cacheKey|z=${zCols.mkString(",")}|bits=$bitsPerDim|n=$numFiles"
    IndexRoot.tableWrittenBy("zorder", fullKey)(
      writeZOrdered(_, _, zCols, bitsPerDim, numFiles))(df)
  }
}
