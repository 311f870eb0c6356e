package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

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
}
