package perfbench

import org.apache.spark.PerfBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed call: `op` ties the spans of one request or query together. */
final case class Span(id: Long, parent: Long, name: String, op: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's calls into the engine, kept in memory and
  * written out once at the end. A disabled tracer runs the body only; an
  * enabled one records while `on`.
  */
final class Tracer(val enabled: Boolean) {
  @volatile var on: Boolean = enabled
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val parent = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  def span[T](name: String, op: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val up = parent.get()
      parent.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, up, name, op, t0, System.nanoTime()))
        parent.set(up)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def durationsMs(name: String): Seq[Double] = all.filter(_.name == name).map(_.ms)

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.id).foreach { s =>
      w.println(Json.write(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    } finally w.close()
  }
}

/** Engine counters at one instant, from Spark's public listeners. */
final case class Counters(values: Map[String, Double]) {
  def -(o: Counters): Counters = Counters(values.map { case (k, v) => k -> (v - o(k)) })
  def +(o: Counters): Counters =
    Counters((values.keySet ++ o.values.keySet).map(k => k -> (this(k) + o(k))).toMap)
  def apply(k: String): Double = values.getOrElse(k, 0.0)
}

/** A SparkListener, a QueryExecutionListener and a
  * StreamingQueryListener that sum jobs, stages, tasks, executor time,
  * input, shuffle and spill, the QueryPlanningTracker phases of every
  * finished query, and the micro-batches of every streaming query with
  * their addBatch, walCommit, commitOffsets and state-store commit times.
  * Attached only in a traced run.
  */
final class EngineListeners(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sums = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  private def add(k: String, v: Double): Unit = sums.merge(k, v, (a, b) => a + b)

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("executor_cpu_ms", m.executorCpuTime / 1e6)
      add("executor_run_ms", m.executorRunTime.toDouble)
      add("input_rows", m.inputMetrics.recordsRead.toDouble)
      add("input_mb", m.inputMetrics.bytesRead / 1048576.0)
      add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      add("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.tracker.phases.foreach { case (phase, summary) =>
      add(s"${phase}_ms", summary.durationMs.toDouble)
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private val streams = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      add("stream_batches", 1)
      Seq("addBatch", "walCommit", "commitOffsets").foreach { k =>
        Option(p.durationMs.get(k)).foreach(v => add(s"stream_${k}_ms", v.doubleValue))
      }
      p.stateOperators.foreach(s => add("stream_state_commit_ms", s.commitTimeMs.toDouble))
    }
  }

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streams)
    this
  }

  def detach(): Unit = {
    PerfBenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streams)
  }

  /** Counts after every event posted so far was delivered, plus JVM GC time. */
  def snapshot(): Counters = {
    PerfBenchBus.drain(spark.sparkContext)
    Counters(sums.asScala.map { case (k, v) => k -> v.doubleValue }.toMap +
      ("gc_ms" -> Jvm.gcMs))
  }
}

object Jvm {
  def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Heap in use after full collections. */
  def liveHeapMb: Double = {
    (1 to 3).foreach(_ => System.gc())
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / 1048576.0

  /** Seconds since this JVM started. */
  def sinceStartS: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def write(v: Any): String = v match {
    case null                  => "null"
    case s: String             => mapper.writeValueAsString(s)
    case b: Boolean            => b.toString
    case d: Double             => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number             => n.toString
    case m: Map[_, _]          =>
      m.map { case (k, x) => mapper.writeValueAsString(k.toString) + ":" + write(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_]       => xs.map(write).mkString("[", ",", "]")
    case a: Array[_]           => write(a.toSeq)
    case other                 => mapper.writeValueAsString(other.toString)
  }

  def read(path: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(new java.io.File(path))
}
