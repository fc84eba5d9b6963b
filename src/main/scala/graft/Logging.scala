package graft

/** Targeted silencing of known-benign WARN spam that floods the bench /
  * test logs (the driver captures a bounded stdout/stderr tail, and r15's
  * `sbt test` capture was mostly these two messages):
  *
  *   - `MapPartitionsRDD: RDD N was locally checkpointed, its lineage
  *     has been truncated...` — logged on EVERY release of a
  *     localCheckpoint block ([[Lineage.checkpointed]] releases them
  *     deliberately and eagerly; the warning describes exactly the
  *     intended behavior).
  *   - `WindowExec: No Partition Defined for Window operation!` — the
  *     global-rank windows behind it run over post-aggregate frames of
  *     at most a few thousand rows (RelationalQueries scaladocs note
  *     each); benign at any realistic cardinality.
  *
  * Each emitting logger gets a filter that denies exactly its one known
  * message; every other message from those loggers, at any level,
  * keeps flowing. */
object Logging {

  /** Logger name → a regex for the WHOLE text of its one known-benign
    * message (only the RDD id varies). */
  private[graft] val KnownNoise: Map[String, String] = Map(
    "org.apache.spark.rdd.MapPartitionsRDD" ->
      ("RDD \\d+ was locally checkpointed, its lineage has been truncated " +
        "and cannot be recomputed after unpersisting"),
    "org.apache.spark.sql.execution.window.WindowExec" ->
      java.util.regex.Pattern.quote("No Partition Defined for Window operation! " +
        "Moving all data to a single partition, this can cause serious " +
        "performance degradation."))

  /** Install the filters. A repeated call stacks an identical filter,
    * which denies the same messages. */
  def quietNoise(): Unit =
    try {
      import org.apache.logging.log4j.core.{Filter, LoggerContext}
      import org.apache.logging.log4j.core.config.LoggerConfig
      import org.apache.logging.log4j.core.filter.RegexFilter
      val ctx = LoggerContext.getContext(false)
      val config = ctx.getConfiguration
      KnownNoise.foreach { case (name, message) =>
        val lc = config.getLoggerConfig(name) match {
          case own if own.getName == name => own
          case _ =>
            // null level: inherit the parent's, so only the filter differs
            val fresh = new LoggerConfig(name, null, true)
            config.addLogger(name, fresh)
            fresh
        }
        // matches the WHOLE formatted message; every other event passes
        lc.addFilter(RegexFilter.createFilter(message, Array.empty[String], false,
          Filter.Result.DENY, Filter.Result.NEUTRAL))
      }
      ctx.updateLoggers()
    } catch {
      // log4j-core absent (foreign deployment): noise is cosmetic, skip
      case _: NoClassDefFoundError | scala.util.control.NonFatal(_) => ()
    }
}
