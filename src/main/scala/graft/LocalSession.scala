package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{Filter, LogEvent, Logger}
import org.apache.logging.log4j.core.filter.AbstractFilter
import org.apache.spark.sql.SparkSession

/** The one session builder: Bench, Verify, the rule server's demo main,
  * the dev tools and the tests all get their SparkSession here.
  *
  * `local[cpus]` with as many shuffle partitions as cores, UTC session
  * time, no UI, WARN logging, and known-safe warnings silenced: the
  * `WindowExec` single-partition one, the checkpoint-release one, the
  * `DAGScheduler`'s cancel of a job group with no active job and the
  * per-stream AQE-disabled notices.
  */
object LocalSession {
  /** Drops three WARNs that carry no signal:
    *  - the `DAGScheduler`'s "Failed to cancel job group <id>. Cannot find
    *    active jobs for it.", which a streaming query's stop logs twice
    *    when its job group has already finished;
    *  - `ResolveWriteToStream`'s "spark.sql.adaptive.enabled is not
    *    supported in streaming DataFrames/Datasets and will be disabled."
    *    and `MicroBatchExecution`'s "Disabling AQE since AQE is not
    *    supported ...", which every streaming query start logs.
    * A level change would also drop those loggers' other WARNs, such as
    * "Broadcasting large task binary", which carry signal.
    */
  private object KnownSafeNotices extends AbstractFilter(Filter.Result.DENY, Filter.Result.NEUTRAL) {
    override def filter(event: LogEvent): Filter.Result = {
      val m = event.getMessage.getFormattedMessage
      if (m.endsWith("Cannot find active jobs for it.") ||
          m.endsWith("is not supported in streaming DataFrames/Datasets and will be disabled.") ||
          m.startsWith("Disabling AQE since AQE is not supported")) onMatch
      else onMismatch
    }
  }

  /** Adds the filter to the three loggers' configs, once per JVM. */
  private lazy val quietNotices: Unit =
    Seq("org.apache.spark.scheduler.DAGScheduler",
        "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
        "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution")
      .foreach(LogManager.getLogger(_).asInstanceOf[Logger].addFilter(KnownSafeNotices))

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
    quietNotices
    spark
  }
}
