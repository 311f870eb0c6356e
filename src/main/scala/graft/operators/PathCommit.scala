package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** The one place a path on disk is replaced. Every loop, compaction and
  * refit commits through one of two protocols, each resumable after a
  * crash at any step:
  *
  *  - [[compactIntoSeed]]: fold a loop-owned `__batch_id`-partitioned
  *    path's committed batches into its seed partition (`__batch_id=-1`),
  *    guarded by the `_COMPACTING_UPTO` marker inside the path.
  *  - [[swap]] / [[resume]]: replace a whole directory by a staged copy
  *    through two renames, guarded by a sibling marker file.
  *
  * Renames are atomic on HDFS/posix; an object store (s3a) emulates them
  * by copy, so run swaps there in a maintenance window.
  */
object PathCommit {

  private val BatchDir = "__batch_id="

  /** The `__batch_id=N` partition directories directly under `root`, with
    * N; directories whose suffix is not a number are skipped.
    */
  def batchDirs(fs: FileSystem, root: Path): Seq[(Path, Long)] =
    fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath).flatMap { d =>
      val name = d.getName
      if (name.startsWith(BatchDir)) name.substring(BatchDir.length).toLongOption.map(d -> _)
      else None
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
    if (!fs.exists(root)) return
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
      spark.read.parquet(tmp.toString).withColumn("__batch_id", lit(-1L))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch_id" +: extraPartitionBy: _*).parquet(path)
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
    val h = spark.read.parquet(path)
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
