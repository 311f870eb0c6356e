package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

/** The one module that lays out, reads and replaces a path on disk.
  *
  * A loop-owned path holds one `__batch_id=N` partition per micro-batch
  * and the seed as batch −1. [[writeBatch]] (with its concurrent form
  * [[writeBatches]] and [[seed]]) is the only writer of that layout, and
  * a loop reads its history through [[history]], which also answers
  * whether the path holds any data. Every loop, compaction and refit commits
  * through one of two protocols, each resumable after a crash at any step:
  *
  *  - [[compactIntoSeed]]: fold a loop-owned path's committed batches
  *    into its seed partition, guarded by the `_COMPACTING_UPTO` marker
  *    inside the path.
  *  - [[swap]] / [[resume]]: replace a whole directory by a staged copy
  *    through two renames, guarded by a sibling marker file.
  *
  * Renames are atomic on HDFS/posix; an object store (s3a) emulates them
  * by copy, so run swaps there in a maintenance window.
  */
object PathCommit {

  private val BatchDir = "__batch_id="
  private val SeedBatch = -1L

  /** The `__batch_id=N` partition directories directly under `root`, with
    * N; directories whose suffix is not a number are skipped.
    */
  def batchDirs(fs: FileSystem, root: Path): Seq[(Path, Long)] =
    fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath).flatMap { d =>
      val name = d.getName
      if (name.startsWith(BatchDir)) name.substring(BatchDir.length).toLongOption.map(d -> _)
      else None
    }

  /** Re-runnable per-batch write: `rows` land in their own `__batch_id=N`
    * partition (under `extraPartitionBy` sub-partitions) via DYNAMIC
    * partition overwrite, so a foreachBatch RETRY (at-least-once
    * delivery) rewrites exactly its own partition instead of appending
    * duplicates. Committed batches' partitions are never touched. An
    * empty batch writes no partition — and correctly so: batch content is
    * deterministic given the (excluded) history, so a retry that computes
    * empty survivors had an empty first attempt too.
    *
    * `rebalance` puts one AQE rebalance exchange before the write: sink
    * frames otherwise inherit their upstream partitioning and land one
    * tiny file per task per batch, and every later batch's history scan
    * pays one task per file (measured on the curated loop: 32
    * files/batch/path). The rebalance sizes files by
    * `advisoryPartitionSizeInBytes` — one file per batch at toy scale.
    * A caller whose rows are already clustered for the layout (the IVF
    * writers' `__cluster` exchange, the compaction's staged files) passes
    * false. Writing the seed partition (batch −1) may change the path's
    * columns, so it evicts the path's [[history]] schema memo.
    */
  def writeBatch(rows: DataFrame, batchId: Long, path: String,
                 extraPartitionBy: Seq[String] = Nil,
                 rebalance: Boolean = true): Unit = {
    val tagged = rows.withColumn("__batch_id", lit(batchId))
    (if (rebalance) tagged.hint("rebalance") else tagged)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch_id" +: extraPartitionBy: _*).parquet(path)
    if (batchId == SeedBatch) historySchemas.remove(path)
  }

  /** Write pre-existing history rows into a loop-owned path as its seed
    * (batch −1). The loops' retry idempotence relies on EVERY file under
    * a loop-owned path belonging to a `__batch_id=N` partition (a flat
    * `write.parquet(path)` seed would make partition discovery fail once
    * the loop adds its first partitioned batch) — seed through this.
    */
  def seed(rows: DataFrame, path: String, extraPartitionBy: Seq[String] = Nil,
           rebalance: Boolean = true): Unit =
    writeBatch(rows, SeedBatch, path, extraPartitionBy, rebalance)

  /** [[writeBatch]] for several sinks of one micro-batch CONCURRENTLY: a
    * micro-batch's sinks are independent writes over already-materialized
    * frames, and running them sequentially leaves the cluster idle
    * through each write's driver-side commit. 2-3 jobs in flight
    * back-fill each other's task tails and overlap their commits.
    *
    * Caller contract (what keeps this safe): every sink frame must be
    * lineage-cut ([[Barrier.cut]]) or derive only from frames whose
    * lineage reads NONE of the sibling sink paths — a committed write
    * refreshes its path (Spark refreshByPath), and with ordering gone a
    * sibling's mid-flight input must have nothing that refresh can
    * invalidate. Each write stays per-batch-partition idempotent; a crash
    * leaves any subset of the sinks committed, which the loops'
    * at-least-once retry absorbs (the retry rewrites every sink's own
    * partition).
    */
  def writeBatches(sinks: Seq[(DataFrame, String)], batchId: Long): Unit =
    if (sinks.sizeIs <= 1)
      sinks.foreach { case (df, p) => writeBatch(df, batchId, p) }
    else {
      val n = new java.util.concurrent.atomic.AtomicInteger()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(sinks.size,
        (r: Runnable) => new Thread(r, s"graft-sink-b$batchId-${n.incrementAndGet()}"))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      try {
        val fs = sinks.map { case (df, p) =>
          scala.concurrent.Future(writeBatch(df, batchId, p))
        }
        // await ALL before rethrowing: a failed batch must not leave a
        // sibling write racing a foreachBatch retry's rewrite
        val results = fs.map(f => scala.util.Try(scala.concurrent.Await
          .result(f, scala.concurrent.duration.Duration.Inf)))
        results.foreach(_.get)
      } finally pool.shutdown()
    }

  /** Per-path schema memo for [[committed]]: a loop-owned path's schema
    * is FIXED for the loop's life (every batch writes the same columns),
    * but a bare `spark.read.parquet` re-infers it from file footers on
    * EVERY micro-batch — per-batch driver work that grows with the file
    * count. The first read of a path infers once; later reads hand the
    * schema to `read.schema(...)`. A seed-partition write (a re-seed or a
    * compaction's publish), the one write that may change a path's
    * columns, evicts its entry.
    */
  private val historySchemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** True when `dir` holds a data file at any depth. Names Spark's file
    * index skips (`_SUCCESS`, `_COMPACTING_UPTO`, `.crc` files, staging
    * dirs) do not count; `__batch_id=N` directories do.
    */
  private def holdsData(fs: FileSystem, dir: Path): Boolean = {
    def walk(d: Path): Boolean = fs.listStatus(d).exists { s =>
      val name = s.getPath.getName
      val hidden = name.startsWith(".") || (name.startsWith("_") && !name.contains("="))
      !hidden && (!s.isDirectory || walk(s.getPath))
    }
    fs.exists(dir) && walk(dir)
  }

  /** Every committed row of the loop-owned `path`, or None when the path
    * is missing or holds no data file — a freshly created directory, or
    * one whose only batches were empty, has no history and no schema to
    * infer.
    */
  def committed(spark: SparkSession, path: String): Option[DataFrame] = {
    val root = new Path(path)
    if (!holdsData(root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)) None
    else Some(Option(historySchemas.get(path)) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val inferred = spark.read.parquet(path)
        historySchemas.put(path, inferred.schema)
        inferred
    })
  }

  /** The loop-owned `path` as HISTORY for batch `batchId`: every committed
    * partition EXCEPT the in-flight batch's own, or None when the path
    * holds no data. The exclusion is what makes retries safe — a failed
    * attempt may have already written this batch's partition, and probing
    * those rows would flag every retried item as a "duplicate of history"
    * and drop it. Partition pruning makes the filter free. A seed without
    * the column (legacy flat layout) is read as-is.
    */
  def history(spark: SparkSession, path: String, batchId: Long): Option[DataFrame] =
    committed(spark, path).map { h =>
      if (h.columns.contains("__batch_id")) h.filter(col("__batch_id") =!= batchId)
      else h
    }

  /** Compact a loop-owned path: rows of every batch partition with
    * `__batch_id ≤ uptoBatch` (plus the seed) become `transform(rows)`
    * in the seed partition, as `targetFiles` files. A long-lived loop
    * otherwise accumulates one tiny partition per micro-batch, and its
    * history scan turns listing-bound. Rows of later batches are not
    * touched, so a batch `> uptoBatch` reads the same history before and
    * after.
    *
    * Protocol: stage `transform(rows ≤ upto)` to `<path>__compact_tmp`,
    * record the range in `_COMPACTING_UPTO`, overwrite the seed partition,
    * delete the originals, drop the staging dir, drop the marker. A re-run
    * that finds the marker completes the interrupted deletes instead of
    * re-merging rows the seed already holds, so rows that are not
    * duplicate-tolerant (BM25 postings, IVF assignments, sketches) are
    * never counted twice. Serving between a crash and that re-run sees the
    * not-yet-deleted range twice: compact while the loop is quiescent, and
    * re-run on any failure before serving.
    *
    * Call BETWEEN batches, with `uptoBatch` strictly below any batch id
    * that may still retry: a retry must find its own partition intact.
    * A path that is missing or holds no data file is left as it is.
    * `extraPartitionBy` keeps sub-partitioning (the IVF layout's
    * `__cluster`) through the seed rewrite.
    */
  def compactIntoSeed(spark: SparkSession, path: String,
                      uptoBatch: Long, targetFiles: Int,
                      extraPartitionBy: Seq[String] = Nil)(
                      transform: DataFrame => DataFrame): Unit = {
    require(uptoBatch >= 0, "uptoBatch must be >= 0")
    require(targetFiles > 0, "targetFiles must be positive")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(path, "_COMPACTING_UPTO")
    def deleteRange(upto: Long): Unit =
      batchDirs(fs, root).foreach { case (d, id) =>
        if (id >= 0 && id <= upto) fs.delete(d, true)
      }
    val tmp = new Path(path + "__compact_tmp")
    def publishFromTmp(upto: Long): Unit = {
      // idempotent tail of a compaction: seed := tmp (dynamic overwrite
      // replaces exactly the seed partition), delete originals, drop the
      // staging dir LAST, the marker after it
      seed(spark.read.parquet(tmp.toString), path, extraPartitionBy, rebalance = false)
      deleteRange(upto)
      fs.delete(tmp, true)
      fs.delete(marker, false)
    }
    if (fs.exists(marker)) {
      // complete an interrupted run. The marker is written only after the
      // staging dir is complete, so: tmp present → replay the whole
      // publish (overwrite is idempotent); tmp absent → everything but
      // the marker removal finished — nothing left to delete but it
      val in = fs.open(marker)
      val recorded = try {
        val buf = new Array[Byte](64)
        val n = math.max(in.read(buf), 0)
        new String(buf, 0, n, UTF_8).trim.toLong
      } finally in.close()
      if (fs.exists(tmp)) publishFromTmp(recorded)
      else { deleteRange(recorded); fs.delete(marker, false) }
      return
    }
    val h = committed(spark, path) match {
      case Some(rows) => rows
      case None => return
    }
    require(h.columns.contains("__batch_id"),
      s"$path is not a loop-owned __batch_id-partitioned layout")
    val old = h.filter(col("__batch_id") <= uptoBatch).drop("__batch_id")
    if (old.isEmpty) return
    // stage through a sibling dir: Spark cannot overwrite a partition it
    // is lazily reading from
    if (fs.exists(tmp)) fs.delete(tmp, true)
    transform(old).repartition(targetFiles).write.parquet(tmp.toString)
    val out = fs.create(marker, true)
    try out.write(s"$uptoBatch".getBytes(UTF_8))
    finally out.close()
    publishFromTmp(uptoBatch)
  }

  /** Replace the directory `path` with what `stage` writes, switching
    * readers from the old contents to the new exactly once:
    *
    *   1. `stage` writes the new contents to `<path>__<tag>_tmp` (its
    *      argument); a stale tmp of an attempt that died before step 2 is
    *      deleted first. Readers still see the old `path`.
    *   2. the `<path>__<tag>_marker` file is written: the commit point.
    *   3. `path` is renamed to `<path>__<tag>_old` (when it exists), then
    *      tmp to `path`.
    *   4. old is deleted, then the marker.
    *
    * A crash before the marker leaves the old contents in place; a crash
    * after it is completed by [[resume]], which each writer of `path`
    * runs before it next reads or replaces it. A rename that returns
    * false moves the original back, clears the marker and throws, so the
    * next attempt stages afresh. Returns what `stage` returns.
    */
  def swap[T](spark: SparkSession, path: String, tag: String)(stage: String => T): T = {
    val s = new Swap(spark, path, tag)
    if (s.fs.exists(s.tmp)) s.fs.delete(s.tmp, true)
    val staged = stage(s.tmp.toString)
    s.fs.create(s.marker, true).close()
    s.finish()
    staged
  }

  /** Complete an interrupted [[swap]] of `path` under `tag` if its marker
    * exists. Returns true if one was completed.
    */
  def resume(spark: SparkSession, path: String, tag: String): Boolean = {
    val s = new Swap(spark, path, tag)
    val pending = s.fs.exists(s.marker)
    if (pending) s.finish()
    pending
  }

  private class Swap(spark: SparkSession, path: String, tag: String) {
    val root = new Path(path.stripSuffix("/"))
    val fs: FileSystem = root.getFileSystem(spark.sessionState.newHadoopConf())
    private def sibling(suffix: String) = new Path(s"${root}__${tag}_$suffix")
    val tmp: Path = sibling("tmp")
    val old: Path = sibling("old")
    val marker: Path = sibling("marker")

    /** The post-marker tail, idempotent from any crash point: which of
      * root/tmp/old exist identifies the remaining steps uniquely.
      */
    def finish(): Unit = {
      if (fs.exists(tmp)) {
        // the stage is complete (the marker follows it): move the live
        // root aside if it is still in place, then promote the stage
        if (fs.exists(root)) {
          if (fs.exists(old)) fs.delete(old, true) // debris of an older swap
          if (!fs.rename(root, old)) abort(s"could not move $root aside")
        }
        if (!fs.rename(tmp, root)) {
          if (fs.exists(old)) fs.rename(old, root) // roll the original back
          abort(s"could not move $tmp into $root")
        }
      }
      if (fs.exists(old)) fs.delete(old, true)
      fs.delete(marker, false)
    }

    private def abort(msg: String): Nothing = {
      fs.delete(marker, false)
      throw new IllegalStateException(msg)
    }
  }
}
