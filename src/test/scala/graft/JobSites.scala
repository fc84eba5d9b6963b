package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The Spark jobs a block starts, by call site, counted through a
  * listener — the breakdown a job-count ceiling reports when it fails.
  * A job inside a SQL execution counts under the execution's
  * description (its call site, e.g. `count at BudgetGate.scala:72`, or
  * its job label); AQE submits an execution's stages from a pool
  * thread, whose own call site names no engine code. A job outside any
  * execution counts under its final stage's name. */
object JobSites {
  def apply[T](spark: SparkSession)(body: => T): (T, Map[String, Int]) = {
    val executions = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val sites = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          executions.put(s.executionId.toString, s.description)
        case _ => ()
      }
      override def onJobStart(js: SparkListenerJobStart): Unit =
        sites.put(js.jobId, Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(executions.get(id)))
          .getOrElse(js.stageInfos.maxBy(_.stageId).name))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val out = try {
      val r = body
      org.apache.spark.GraftCoreShim.flushListeners(sc)
      r
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    (out, sites.asScala.values.groupMapReduce(s => s)(_ => 1)(_ + _))
  }
}
