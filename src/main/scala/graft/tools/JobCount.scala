package graft.tools

import graft.LocalSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** Job-count profiler for battery rows: runs a named
  * [[graft.SparkEntry.queries]] row once (after one warm-up) under a
  * listener that tallies Spark jobs, tasks, and per-job wall time. The
  * number this exists for is the SMALL-JOB COUNT of the streaming ingest
  * loops — their per-batch cost on a quiet host is dominated by job
  * launch overhead (many sub-100 ms jobs over batch-sized frames), so a
  * layout change that claims to "cut the small-job count" is graded by
  * this tool's before/after, not by wall time alone (SCALE.md notes).
  *
  * args: <queryName> [sfDir=/root/testdata/sf0.1]
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: JobCount <queryName> [sfDir]"))
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = LocalSession(32)

    def run(): Unit = {
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    run() // warm-up: JIT + codegen, so the counted pass is steady-state

    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobSite = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val jobTasks = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
    val tasks = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobStart.put(e.jobId, e.time)
        jobSite.put(e.jobId,
          "exec=" + Option(e.properties.getProperty("spark.sql.execution.id"))
            .getOrElse("-") + " " +
          e.stageInfos.sortBy(_.stageId).lastOption.map(_.name.takeWhile(_ != '\n').take(40)).getOrElse("?"))
        jobTasks.put(e.jobId,
          Int.box(e.stageInfos.map(_.numTasks).sum)): Unit
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val t0 = jobStart.getOrDefault(e.jobId, e.time)
        jobMs.put(e.jobId, e.time - t0): Unit
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    run()
    val wallSec = (System.nanoTime() - t0) / 1e9
    // listener bus is async — let the tail of job-end events drain
    Thread.sleep(500)
    spark.sparkContext.removeSparkListener(listener)

    import scala.jdk.CollectionConverters._
    val times = jobMs.values.asScala.map(_.toDouble).toSeq.sorted
    val n = times.size
    val small = times.count(_ < 100.0)
    println(f"query=$name%s wall=$wallSec%.2f s jobs=$n%d tasks=${tasks.get()}%d")
    println(f"  jobs <100ms: $small%d  (${100.0 * small / math.max(1, n)}%.0f%%)")
    if (n > 0) {
      def pct(p: Double) = times(math.min(n - 1, (p * n).toInt))
      println(f"  job ms p50=${pct(0.5)}%.0f p90=${pct(0.9)}%.0f max=${times.last}%.0f sum=${times.sum / 1000}%.2f s")
      // per-call-site rollup: where the jobs come from (each AQE stage
      // materialization is a job, so a hot call site = a barrier-heavy plan)
      val bySite = jobMs.asScala.toSeq.groupBy(j =>
          jobSite.get(j._1).takeWhile(_ != ' '))
        .map { case (site, js) =>
          // the LAST job's stage name in the group names the action
          (site, js.size, js.map(_._2).sum,
           js.map(j => jobTasks.getOrDefault(j._1, Int.box(0)).toInt).sum,
           js.maxBy(_._1)._1)
        }.toSeq.sortBy(-_._3)
      bySite.take(15).foreach { case (site, cnt, ms, tk, lastJob) =>
        val nm = jobSite.getOrDefault(lastJob, "?").dropWhile(_ != ' ').take(40)
        println(f"  $site%-12s jobs=$cnt%3d  ms=$ms%6d  tasks=$tk%5d $nm%s")
      }
    }
    spark.stop()
  }
}
