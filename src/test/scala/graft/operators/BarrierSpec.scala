package graft.operators

import graft.SparkSpec
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.{ListenerBusDrain, SparkException}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerUnpersistRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import scala.jdk.CollectionConverters._

class BarrierSpec extends SparkSpec {

  /** Listener events matching `pick` posted while `body` runs, counted
    * once the listener bus is drained.
    */
  private def eventsOf(pick: SparkListenerEvent => Boolean)(body: => Unit): Int = {
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (pick(e)) n.incrementAndGet()
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
        if (pick(e)) n.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    n.get
  }

  private val isJob: SparkListenerEvent => Boolean =
    _.isInstanceOf[SparkListenerJobStart]

  private def cutRdd(df: DataFrame) =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd }.get

  /** 100 rows over 4 partitions whose every computed row adds 1 to the
    * returned accumulator: the upstream's executions, counted.
    */
  private def countedUpstream() = {
    val acc = spark.sparkContext.longAccumulator("barrier-upstream")
    val tick = udf { (x: Long) => acc.add(1); x }.asNondeterministic()
    (spark.range(0, 100, 1, 4).select(tick(col("id")).as("id")), acc)
  }

  test("a cut RDD carries its name in the persistent-RDD registry") {
    val c = Barrier.cut(spark.range(10).toDF("id"), "BarrierSpec.named/frame")
    val id = cutRdd(c).id
    assert(spark.sparkContext.getPersistentRDDs.get(id).map(_.name)
      .contains("BarrierSpec.named/frame"))
    Barrier.release(c)
  }

  test("an eager cut runs its upstream once, in the cut, for two consumers") {
    val (upstream, acc) = countedUpstream()
    var c: DataFrame = null
    assert(eventsOf(isJob) { c = Barrier.cut(upstream, "BarrierSpec.eager/c") } > 0)
    assert(acc.value == 100L)
    // two consumers in one query (a self-join), then a second query
    val joined = c.join(c.select(col("id").as("id2")), col("id") === col("id2"))
    assert(joined.count() == 100L)
    assert(c.agg(sum("id")).head().getLong(0) == 4950L)
    assert(acc.value == 100L)
    Barrier.release(c)
  }

  test("a lazy cut launches no job until its first action, then computes once") {
    val (upstream, acc) = countedUpstream()
    var c: DataFrame = null
    assert(eventsOf(isJob) {
      c = Barrier.cut(upstream, "BarrierSpec.lazy/c", eager = false)
    } == 0)
    assert(acc.value == 0L)
    assert(c.count() == 100L)
    assert(c.count() == 100L)
    assert(acc.value == 100L)
    Barrier.release(c)
  }

  test("release frees the cut's blocks; a second release does nothing") {
    val c = Barrier.cut(spark.range(0, 100, 1, 4).toDF("id"), "BarrierSpec.release/c")
    val rdd = cutRdd(c)
    assert(spark.sparkContext.getRDDStorageInfo.exists(_.id == rdd.id))
    val unpersisted = (e: SparkListenerEvent) => e match {
      case u: SparkListenerUnpersistRDD => u.rddId == rdd.id
      case _ => false
    }
    assert(eventsOf(unpersisted)(Barrier.release(c)) == 1)
    assert(rdd.getStorageLevel == StorageLevel.NONE)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    assert(!spark.sparkContext.getRDDStorageInfo.exists(_.id == rdd.id))
    assert(eventsOf(unpersisted)(Barrier.release(c)) == 0)
  }

  test("an action on a released cut fails instead of recomputing") {
    val (upstream, acc) = countedUpstream()
    val c = Barrier.cut(upstream, "BarrierSpec.fatal/c")
    Barrier.release(c)
    // release does not wait for the block removal; once the blocks are
    // gone every action fails, and the upstream never runs again
    eventually(timeout(30.seconds), interval(100.millis)) {
      intercept[SparkException](c.count())
    }
    assert(acc.value == 100L)
  }

  test("localCheckpoint is called only from operators/Barrier.scala") {
    val root = Paths.get("src/main/scala")
    val barrier = root.resolve("graft/operators/Barrier.scala")
    val callers = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter((p: Path) => Files.readString(p).contains(".localCheckpoint("))
      .toSeq
    assert(callers == Seq(barrier),
      s"localCheckpoint outside Barrier.scala: ${callers.filter(_ != barrier)}")
  }
}
