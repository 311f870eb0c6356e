package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{Filter, LogEvent, Logger}
import org.apache.logging.log4j.core.filter.AbstractFilter
import org.apache.spark.sql.SparkSession

/** The one session builder: Bench, Verify, the rule server's demo main,
  * the dev tools and the tests all get their SparkSession here.
  *
  * `local[cpus]` with as many shuffle partitions as cores, UTC session
  * time, no UI, WARN logging, and three known-safe warnings silenced: the
  * `WindowExec` single-partition one, the checkpoint-release one and the
  * `DAGScheduler`'s cancel of a job group with no active job.
  */
object LocalSession {
  /** Drops the `DAGScheduler` WARN "Failed to cancel job group <id>. Cannot
    * find active jobs for it.", which a streaming query's stop logs twice
    * when its job group has already finished. A level change would also
    * drop that logger's other WARNs, such as "Broadcasting large task
    * binary", which carry signal.
    */
  private object NoActiveJobsToCancel extends AbstractFilter(Filter.Result.DENY, Filter.Result.NEUTRAL) {
    override def filter(event: LogEvent): Filter.Result =
      if (event.getMessage.getFormattedMessage.endsWith("Cannot find active jobs for it.")) onMatch
      else onMismatch
  }

  /** Adds the filter to the `DAGScheduler` logger's config, once per JVM. */
  private lazy val quietCancels: Unit =
    LogManager.getLogger("org.apache.spark.scheduler.DAGScheduler").asInstanceOf[Logger]
      .addFilter(NoActiveJobsToCancel)

  /** `SPARK_GRAFT_CPUS` when set, else `default`. */
  def envCpus(default: Int = 32): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  def apply(cpus: Int = envCpus()): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The battery's only global windows are over BOUNDED inputs (bucket
    // sums in Mixing/Chunking, k-row top tables in Search, the oracle rank
    // projection in q_shuffle_export) — each declares partitionBy(lit(0))
    // to state that intent, but Spark 4's EliminateWindowPartitions rule
    // strips foldable partition keys, so WindowExec still logs its
    // single-partition WARN. Those warnings are known-safe here; silence
    // that one logger so a real unbounded-window mistake elsewhere stays
    // visible in the log.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // graft.operators.Barrier.release unpersists a locally checkpointed
    // RDD on purpose, and RDD.unpersist logs a "was locally checkpointed"
    // WARN for every such RDD (SparkContext.unpersistRDD, which does not,
    // is private[spark]). The cut RDD is a MapPartitionsRDD.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    quietCancels
    spark
  }
}
