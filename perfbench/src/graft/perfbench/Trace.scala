package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the program's modules, and
  * the Spark work each span caused.
  *
  * A span is opened by the benchmark around one public call (a view
  * build, a query run, an activation delivery). While it is open the
  * calling thread carries the span id as a Spark local property, so
  * every job that thread submits names its span. Jobs submitted from
  * threads the program owns carry no property, or one inherited from a
  * span that has since closed; they fall back to the innermost span
  * whose time window contains the job's start. Stages and tasks follow
  * their job; query planning phases, SQL executions and codegen log
  * lines have no thread context on the listener bus and are attributed
  * by time.
  *
  * With `enabled = false` a span is a plain call and only the summed
  * task CPU of the run is collected, so untraced runs pay one
  * `onTaskEnd` counter and nothing else. */
final class Trace(spark: SparkSession, val enabled: Boolean, val runId: String) {
  import Trace._

  private val sc = spark.sparkContext
  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  /** Parent for spans opened on a thread with no open span of its own
    * (a streaming micro-batch thread runs the refreshers a cycle span
    * on the main thread is waiting for). */
  @volatile var ambient: Option[Span] = None

  private val cpuNs = new AtomicLong

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val submitted = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val taskAgg = new java.util.concurrent.ConcurrentHashMap[Int, TaskAgg]()
  private val sqlStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  private val planPhases = new ConcurrentLinkedQueue[(Long, Double)]()
  private val codegen = new ConcurrentLinkedQueue[(Long, Double)]()

  private val listener = new SparkListener {
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) cpuNs.addAndGet(m.executorCpuTime)
      if (enabled) {
        val a = taskAgg.computeIfAbsent(te.stageId, _ => new TaskAgg)
        a.synchronized {
          a.tasks += 1
          if (te.reason != org.apache.spark.Success) a.failed += 1
          if (m != null) {
            a.runMs += m.executorRunTime
            a.cpuNs += m.executorCpuTime
            a.gcMs += m.jvmGCTime
            a.shufWrite += m.shuffleWriteMetrics.bytesWritten
            a.shufRead += m.shuffleReadMetrics.totalBytesRead
            a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            a.spill += m.diskBytesSpilled
            a.input += m.inputMetrics.bytesRead
            a.output += m.outputMetrics.bytesWritten
          }
        }
      }
    }
    override def onJobStart(js: SparkListenerJobStart): Unit = if (enabled) {
      val props = Option(js.properties)
      val prop = props.flatMap(p => Option(p.getProperty(SpanProp)))
      val label = props.flatMap(p => Option(p.getProperty("spark.job.description")))
      jobs.add(JobRec(js.jobId, js.time, prop.map(_.toInt), js.stageIds, label.getOrElse("")))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      if (enabled) jobEnds.put(je.jobId, je.time)
    override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
      if (enabled) submitted.add(ss.stageInfo.stageId)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if enabled => sqlStarts.add(s.time)
      case _ =>
    }
  }
  sc.addSparkListener(listener)

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        planPhases.add((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum.toDouble))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }
  private val removeCodegenTap: Option[() => Unit] =
    if (enabled) {
      spark.listenerManager.register(qeListener)
      Some(CodegenLog.install((t, ms) => codegen.add((t, ms))))
    } else None

  /** Wall-clock epoch milliseconds for a `System.nanoTime` reading. */
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  def nowMs: Double = System.nanoTime() / 1e6 + epochOffsetMs

  /** Run `body` inside a span named `name`. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.get.headOption.orElse(ambient)
      val s = Span(ids.incrementAndGet(), name, parent.map(_.id).getOrElse(0),
        Thread.currentThread.getName, nowMs)
      spans.add(s)
      stack.set(s :: stack.get)
      val prev = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.end = nowMs
        stack.set(stack.get.tail)
        sc.setLocalProperty(SpanProp, prev)
      }
    }

  /** The span currently open on this thread, if any. */
  def current: Option[Span] = stack.get.headOption

  /** Summed executor CPU seconds of every task that has ended so far. */
  def taskCpuS(): Double = { flush(); cpuNs.get / 1e9 }

  def flush(): Unit = org.apache.spark.GraftCoreShim.flushListeners(sc)

  def close(): Unit = {
    flush()
    sc.removeSparkListener(listener)
    if (enabled) spark.listenerManager.unregister(qeListener)
    removeCodegenTap.foreach(_())
  }

  /** Attribute everything recorded so far to spans. */
  def analyze(): Analysis = {
    flush()
    val all = spans.asScala.toVector.filter(_.end >= 0).sortBy(_.start)
    val byId = all.map(s => s.id -> s).toMap
    // innermost span whose window holds t: the latest-started one
    def byTime(t: Double): Option[Span] = {
      var best: Option[Span] = None
      all.foreach { s =>
        if (s.start <= t && t <= s.end && best.forall(_.start <= s.start)) best = Some(s)
      }
      best
    }
    val stats = mutable.Map[Int, SpanStats]().withDefault(_ => SpanStats())
    def add(id: Int)(f: SpanStats => SpanStats): Unit = stats(id) = f(stats(id))
    val jobIntervals = mutable.Map[Int, Vector[(Double, Double)]]().withDefaultValue(Vector.empty)
    val labels = mutable.Map[Int, Map[String, Int]]().withDefaultValue(Map.empty)
    jobs.asScala.foreach { j =>
      // a thread started inside a span inherits its property and keeps
      // submitting jobs after the span closed; those go by time instead
      val t = j.start.toDouble
      val owner = j.spanProp.filter(id => byId.get(id).exists(s => s.start <= t && t <= s.end))
        .orElse(byTime(t).map(_.id))
      owner.foreach { id =>
        val end = Option(jobEnds.get(j.jobId)).map(_.toDouble).getOrElse(j.start.toDouble)
        jobIntervals(id) = jobIntervals(id) :+ (j.start.toDouble -> end)
        labels(id) = labels(id).updated(j.label, labels(id).getOrElse(j.label, 0) + 1)
        val ran = j.stageIds.filter(submitted.contains)
        val aggs = ran.flatMap(s => Option(taskAgg.get(s)))
        add(id)(st => st.copy(
          jobs = st.jobs + 1,
          stages = st.stages + ran.size,
          skippedStages = st.skippedStages + (j.stageIds.size - ran.size),
          stageSlots = st.stageSlots + j.stageIds.size,
          tasks = st.tasks + aggs.map(_.tasks).sum,
          failedTasks = st.failedTasks + aggs.map(_.failed).sum,
          taskRunS = st.taskRunS + aggs.map(_.runMs).sum / 1e3,
          taskCpuS = st.taskCpuS + aggs.map(_.cpuNs).sum / 1e9,
          gcS = st.gcS + aggs.map(_.gcMs).sum / 1e3,
          shuffleWriteMb = st.shuffleWriteMb + aggs.map(_.shufWrite).sum / 1e6,
          shuffleReadMb = st.shuffleReadMb + aggs.map(_.shufRead).sum / 1e6,
          fetchWaitS = st.fetchWaitS + aggs.map(_.fetchWaitMs).sum / 1e3,
          spillMb = st.spillMb + aggs.map(_.spill).sum / 1e6,
          inputMb = st.inputMb + aggs.map(_.input).sum / 1e6,
          outputMb = st.outputMb + aggs.map(_.output).sum / 1e6))
      }
    }
    sqlStarts.asScala.foreach(t => byTime(t.toDouble).foreach(s =>
      add(s.id)(st => st.copy(queryExecutions = st.queryExecutions + 1))))
    planPhases.asScala.foreach { case (t, ms) => byTime(t.toDouble).foreach(s =>
      add(s.id)(st => st.copy(planMs = st.planMs + ms))) }
    codegen.asScala.foreach { case (t, ms) => byTime(t.toDouble).foreach(s =>
      add(s.id)(st => st.copy(codegenMs = st.codegenMs + ms))) }
    Analysis(all, stats.toMap, jobIntervals.toMap, labels.toMap, runId)
  }
}

object Trace {
  val SpanProp = "graft.perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, thread: String, start: Double) {
    @volatile var end: Double = -1
    def durationMs: Double = end - start
  }

  final case class JobRec(jobId: Int, start: Long, spanProp: Option[Int], stageIds: Seq[Int],
      label: String)

  final class TaskAgg {
    var tasks, failed, runMs, cpuNs, gcMs, shufWrite, shufRead, fetchWaitMs, spill, input, output = 0L
  }

  /** Spark work attributed to one span (its own, not its children's). */
  final case class SpanStats(
      jobs: Int = 0, stages: Int = 0, skippedStages: Int = 0, stageSlots: Int = 0,
      tasks: Long = 0, failedTasks: Long = 0, taskRunS: Double = 0, taskCpuS: Double = 0,
      gcS: Double = 0, shuffleWriteMb: Double = 0, shuffleReadMb: Double = 0,
      fetchWaitS: Double = 0, spillMb: Double = 0, inputMb: Double = 0, outputMb: Double = 0,
      queryExecutions: Int = 0, planMs: Double = 0, codegenMs: Double = 0) {
    def +(o: SpanStats): SpanStats = SpanStats(
      jobs + o.jobs, stages + o.stages, skippedStages + o.skippedStages,
      stageSlots + o.stageSlots, tasks + o.tasks, failedTasks + o.failedTasks,
      taskRunS + o.taskRunS, taskCpuS + o.taskCpuS, gcS + o.gcS,
      shuffleWriteMb + o.shuffleWriteMb, shuffleReadMb + o.shuffleReadMb,
      fetchWaitS + o.fetchWaitS, spillMb + o.spillMb, inputMb + o.inputMb,
      outputMb + o.outputMb, queryExecutions + o.queryExecutions,
      planMs + o.planMs, codegenMs + o.codegenMs)
  }

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total, reach = 0.0
    reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  final case class Analysis(
      spans: Vector[Span], own: Map[Int, SpanStats],
      jobIntervals: Map[Int, Vector[(Double, Double)]],
      /** The span's own jobs counted by job description (the program's
        * `JobLabel` phase names; "" for unlabelled jobs). */
      jobLabels: Map[Int, Map[String, Int]], runId: String) {
    private val children: Map[Int, Vector[Span]] = spans.groupBy(_.parent)

    def descendants(s: Span): Vector[Span] =
      children.getOrElse(s.id, Vector.empty).flatMap(c => c +: descendants(c))

    /** Spark work of `s` and every span below it. */
    def total(s: Span): SpanStats =
      (s +: descendants(s)).map(x => own.getOrElse(x.id, SpanStats())).foldLeft(SpanStats())(_ + _)

    /** Span duration minus the part its child spans cover. */
    def selfMs(s: Span): Double =
      s.durationMs - covered(children.getOrElse(s.id, Vector.empty).map(c => c.start -> c.end),
        s.start, s.end)

    /** Time inside `s` during which no job of `s` or its descendants ran. */
    def driverOnlyMs(s: Span): Double =
      s.durationMs - covered((s +: descendants(s)).flatMap(x => jobIntervals.getOrElse(x.id, Vector.empty)),
        s.start, s.end)

    def named(prefix: String, under: Span): Vector[Span] =
      descendants(under).filter(_.name.startsWith(prefix))
  }
}

/** Sums the `CodeGenerator` "Code generated in N ms" lines. The
  * compile-time histogram in `CodegenMetrics` is a sampling reservoir,
  * so its mean times count is not a cumulative total; the log line is. */
object CodegenLog {
  import org.apache.logging.log4j.{Level, LogManager}
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

  private val Logger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val Line = """Code generated in ([0-9.]+) ms""".r.unanchored

  /** Starts feeding each line's time and milliseconds to `onLine`;
    * returns the function that stops it. */
  def install(onLine: (Long, Double) => Unit): () => Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    val appender = new AbstractAppender("perfbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
        case Line(ms) => onLine(e.getTimeMillis, ms.toDouble)
        case _ =>
      }
    }
    appender.start()
    val lc = new LoggerConfig(Logger, Level.INFO, false)
    lc.addAppender(appender, Level.INFO, null)
    config.addLogger(Logger, lc)
    ctx.updateLoggers()
    () => {
      config.removeLogger(Logger)
      ctx.updateLoggers()
      appender.stop()
    }
  }
}
