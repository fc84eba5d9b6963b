package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.scalatest.funsuite.AnyFunSuite

/** [[Logging.quietNoise]] drops the two known-benign messages and
  * nothing else from their loggers. Pure log4j: no Spark session. */
class LoggingSpec extends AnyFunSuite {

  test("quietNoise drops exactly the two known-benign messages; other WARNs from those loggers still reach an appender") {
    Logging.quietNoise()
    val ctx = LoggerContext.getContext(false)
    val seen = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(
        "graft-logging-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    appender.start()
    // WARN must be enabled on both loggers whatever the JVM's current
    // configuration says, so a surviving message can reach the appender
    val configs = Logging.KnownNoise.keys.toSeq.map(ctx.getConfiguration.getLoggerConfig)
    val levels = configs.map(lc => lc -> lc.getExplicitLevel)
    configs.foreach { lc => lc.addAppender(appender, null, null); lc.setLevel(Level.WARN) }
    ctx.updateLoggers()
    try {
      val rdd = "org.apache.spark.rdd.MapPartitionsRDD"
      val window = "org.apache.spark.sql.execution.window.WindowExec"
      LogManager.getLogger(rdd).warn("RDD 42 was locally checkpointed, its lineage " +
        "has been truncated and cannot be recomputed after unpersisting")
      LogManager.getLogger(window).warn("No Partition Defined for Window operation! " +
        "Moving all data to a single partition, this can cause serious performance " +
        "degradation.")
      LogManager.getLogger(rdd).warn("RDD 42 was locally checkpointed twice")
      LogManager.getLogger(window).warn("No Partition Defined for Window operation!")
      assert(seen.asScala.toSeq == Seq(
        s"$rdd: RDD 42 was locally checkpointed twice",
        s"$window: No Partition Defined for Window operation!"))
    } finally {
      levels.foreach { case (lc, level) =>
        lc.removeAppender(appender.getName)
        lc.setLevel(level)
      }
      ctx.updateLoggers()
      appender.stop()
    }
  }
}
