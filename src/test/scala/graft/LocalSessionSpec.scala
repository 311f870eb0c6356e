package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

class LocalSessionSpec extends SparkSpec {

  test("the DAGScheduler's cancel-without-active-jobs WARN is dropped, its other WARNs pass") {
    val seen = new ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("local-session-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(event: LogEvent): Unit = seen.add(event.getMessage.getFormattedMessage)
    }
    capture.start()
    val logger = LogManager.getLogger("org.apache.spark.scheduler.DAGScheduler").asInstanceOf[Logger]
    spark.sparkContext // the session, and with it the filter, exists before the appender
    logger.addAppender(capture)
    try {
      spark.sparkContext.cancelJobGroup("local-session-spec-no-such-group")
      // the scheduler's event loop handles the cancel before this job
      assert(spark.range(3).count() == 3)
      logger.warn("Broadcasting large task binary with size 1024.0 KiB")
      val messages = seen.asScala.toSeq
      assert(!messages.exists(_.contains("Cannot find active jobs")), messages)
      assert(messages.exists(_.startsWith("Broadcasting large task binary")), messages)
    } finally {
      logger.removeAppender(capture)
      capture.stop()
    }
  }

  test("a streaming query logs no AQE-disabled notice, other WARNs of those loggers pass") {
    val seen = new ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("local-session-spec-aqe", null, null, true, Property.EMPTY_ARRAY) {
      override def append(event: LogEvent): Unit = seen.add(event.getMessage.getFormattedMessage)
    }
    capture.start()
    val loggers = Seq(
      "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
      "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution")
      .map(LogManager.getLogger(_).asInstanceOf[Logger])
    spark.sparkContext
    loggers.foreach(_.addAppender(capture))
    try {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val mem = MemoryStream[Int]
      // a stateful aggregate: both loggers' notices fire for it
      val q = mem.toDF().groupBy($"value").count()
        .writeStream.outputMode("complete").format("memory")
        .queryName("local_session_spec_aqe").start()
      try {
        mem.addData(1, 2, 2)
        q.processAllAvailable()
        assert(spark.table("local_session_spec_aqe").count() == 2)
      } finally q.stop()
      loggers.foreach(_.warn("Some other streaming warning"))
      val messages = seen.asScala.toSeq
      assert(!messages.exists(_.contains("is not supported in streaming DataFrames/Datasets")), messages)
      assert(!messages.exists(_.startsWith("Disabling AQE")), messages)
      assert(messages.count(_ == "Some other streaming warning") == 2, messages)
    } finally {
      loggers.foreach(_.removeAppender(capture))
      capture.stop()
    }
  }
}
