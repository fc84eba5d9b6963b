package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Memory-pressure proof harness: re-runs the bench's heaviest shapes in
  * a deliberately CONSTRAINED JVM — tiny execution-memory fraction, two
  * shuffle partitions, broadcast joins disabled, and a low
  * `spark.shuffle.spill.numElementsForceSpillThreshold` so every
  * UnsafeExternalSorter (sorts, aggregates, shuffle writers) and every
  * ExternalAppendOnlyUnsafeRowArray (window / sort-merge-join buffers)
  * actually takes its spill-and-merge path — then emits a content hash
  * per query plus the total bytes spilled to disk.
  *
  * Why a separate main instead of a spec body: `spark.memory.fraction`
  * and the force-spill threshold are CONTEXT-level settings, fixed at
  * SparkContext start — the shared test session can't flip them, and a
  * second context per JVM is not allowed. `SpillSpec` forks this probe
  * and asserts (a) it completes, (b) nonzero spill was recorded, and
  * (c) every query's content hash equals the unconstrained in-suite
  * run — the 100 TB claim ("plans survive memory pressure, spill
  * instead of OOM, and spill-merge returns the same rows") made
  * checkable at test scale. Every bench round so far recorded
  * `total_spill_mb: 0`, so this path was otherwise never exercised.
  */
object SpillProbe {

  /** The heavy shapes under proof (VERDICT r9 task 4 names them): the
    * two-sided aggregate-view refresh, the interval-overlap bucket
    * join, and the pairs→clusters propagation. */
  val probeQueries: Seq[String] =
    Seq("mv_segments_refresh", "j14_session_overlap", "dedup_clusters")

  /** Order-insensitive content hash: (row count, sum of per-row
    * xxhash64 over the JSON of all columns in sorted name order).
    * The sum runs in decimal(38,0) — a long sum of 64-bit hashes
    * overflows (and ANSI mode makes that a runtime error, as the first
    * probe run proved). Matches across sessions/partitionings for any
    * deterministic query; used by both the probe and the in-suite
    * baseline. */
  def contentHash(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted
    val r = df.select(
      xxhash64(to_json(struct(cols.map(col): _*),
        Map("ignoreNullFields" -> "false"))).cast("decimal(38,0)").as("__h"))
      .agg(count(lit(1)).as("n"), sum(col("__h")).as("s"))
      .collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toBigInteger.toString)
  }

  def main(args: Array[String]): Unit = {
    val outPath = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = SparkEntry.sessionBuilder("4")
      .appName("graft-spill-probe")
      .config("spark.sql.warehouse.dir", "/tmp/graft_spill_warehouse")
      // ---- the constraint set ----
      // squeeze unified memory so sorters hit pressure early
      .config("spark.memory.fraction", "0.2")
      // few, fat partitions: each task's sorter holds more elements
      .config("spark.sql.shuffle.partitions", "2")
      // no broadcast escape hatch — joins must sort/shuffle
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // force EVERY unsafe sorter to spill past 500 elements (core
      // conf, context-fixed — the reason this runs in its own JVM)
      .config("spark.shuffle.spill.numElementsForceSpillThreshold", "500")
      // and the row-array buffers used by window / SMJ / cartesian
      .config("spark.sql.windowExec.buffer.in.memory.threshold", "128")
      .config("spark.sql.windowExec.buffer.spill.threshold", "128")
      .config("spark.sql.sortMergeJoinExec.buffer.in.memory.threshold", "128")
      .config("spark.sql.sortMergeJoinExec.buffer.spill.threshold", "128")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val spilled = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) spilled.addAndGet(m.diskBytesSpilled)
      }
    })

    val byName = SparkEntry.allQueries.map(q => q.name -> q).toMap
    val lines = probeQueries.map { name =>
      val (n, h) = contentHash(byName(name).run(spark, sfDir))
      s"$name\t$n\t$h"
    }
    org.apache.spark.GraftCoreShim.flushListeners(spark.sparkContext)
    val out = (lines :+ s"spill_bytes\t${spilled.get}").mkString("", "\n", "\n")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      out.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
