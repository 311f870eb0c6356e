package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one materialization barrier. A frame that several plan branches,
  * sinks or loop rounds consume is cut here and, in a long-lived loop,
  * released here.
  *
  * [[cut]] is an EAGER `localCheckpoint`, not a lazy persist:
  *  - AQE builds a downstream query's stages concurrently, and branches
  *    that reach a lazily-persisted frame before its cache is filled each
  *    re-run its whole upstream DAG (the candidate table's double band
  *    join ran twice under persist). The eager cut computes the rows once.
  *  - A parquet write does not load a cached child's buffers, and a
  *    committed write clears every cached plan that reads its path
  *    (`refreshByPath`), so persisted sink frames were recomputed per
  *    sink (curated loop: per-batch wall grew 3→7→11 s). A cut is an RDD
  *    scan with no lineage to invalidate.
  *
  * The RDD is named `<Operator>.<method>/<frame>`, so the storage listing
  * points back at the code. Trade: the blocks are unreplicated and have
  * no lineage. An executor loss fails the job (batch callers retry the
  * query, the loops rely on at-least-once delivery), and an action on a
  * frame after its [[release]] is FATAL: it fails with a SparkException
  * instead of recomputing. Unreleased cuts are reclaimed by the
  * ContextCleaner once unreferenced.
  */
object Barrier {

  /** Cut `df`'s lineage, computing it now or (`eager = false`) in the
    * first action that reads it; the checkpointed RDD is named `name`.
    */
  def cut(df: DataFrame, name: String, eager: Boolean = true): DataFrame = {
    val out = df.localCheckpoint(eager)
    rdds(out).foreach(_.setName(name))
    out
  }

  /** Free the blocks of every cut `df` reads (not `Dataset.unpersist`: a
    * cut is not in the CacheManager, so that would free nothing).
    * Idempotent: an RDD already at `StorageLevel.NONE` is skipped.
    */
  def release(df: DataFrame): Unit =
    rdds(df).filter(_.getStorageLevel != StorageLevel.NONE)
      .foreach(_.unpersist(blocking = false))

  private def rdds(df: DataFrame) =
    df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd }
}
