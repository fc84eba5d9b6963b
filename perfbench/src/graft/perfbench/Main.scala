package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files => JFiles, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SharedFrames, SparkEntry, Tables}

/** Benchmark harness: one workload, one seed, one process.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <n> --trace <0|1>
  *      --lake <dir> --work <dir> --hashes <hashes.json>
  *      --fingerprints <fingerprints.json> --costs <costs.json> --out <detail.json>
  *      [--inject wrong_result|drop_cdc_batch]
  * Main --record 1 --hashes <hashes.json> --fingerprints <fingerprints.json>
  *      --lake <dir> --work <dir>
  * Main --dump-oracle <out.json>
  * }}}
  *
  * The last stdout line is the result record; `--out` receives the
  * detail record (seed, every step, workload-specific figures and, when
  * traced, every span). */
object Main {
  val Workloads: Seq[Workload] = Seq(CdcActivation, AnalyticsMix, CurationBatch)

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "task_cpu_s" -> "s", "peak_heap_mb" -> "MB",
    "build_s" -> "s", "step_p50_ms" -> "ms", "step_tail_ms" -> "ms")

  val SharedMemos: Seq[String] = AnalyticsMix.Memos ++ CurationBatch.Memos

  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.query_executions" -> "count", "spark.driver_only_s" -> "s", "spark.plan_ms" -> "ms",
    "spark.codegen_ms" -> "ms", "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s",
    "spark.gc_s" -> "s", "spark.slot_busy_ratio" -> "ratio", "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB", "spark.fetch_wait_s" -> "s", "spark.spill_mb" -> "MB",
    "spark.input_mb" -> "MB", "spark.skipped_stage_ratio" -> "ratio",
    "spark.failed_tasks" -> "count",
    "sources.register_s" -> "s", "sources.feed_synthesis_s" -> "s",
    "etl.av_build_s" -> "s", "etl.mv_build_s" -> "s", "etl.av_refresh_facts_s" -> "s",
    "etl.av_refresh_dims_s" -> "s", "etl.mv_refresh_s" -> "s", "etl.commit_cycle_s" -> "s",
    "etl.jobs_per_cycle" -> "count", "etl.state_write_mb" -> "MB", "etl.publish_ratio" -> "ratio",
    "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "activation.deliver_s" -> "s", "activation.events_sent" -> "count",
    "activation.sent_ratio" -> "ratio", "sinks.processed_id_files" -> "count") ++
    AnalyticsMix.families.map(f => s"queries.${f._1}_p50_ms" -> "ms") ++ Seq(
    "queries.jobs_per_query" -> "count", "queries.driver_only_ms_per_query" -> "ms",
    "shared.build_s" -> "s", "shared.entries" -> "count") ++
    AnalyticsMix.Memos.map(m => s"shared.${m}_s" -> "s") ++ Seq(
    "trace.unattributed_s" -> "s", "trace.unattributed_jobs" -> "count",
    "trace.spans" -> "count", "trace_overhead_pct" -> "%")

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }.toMap

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Logging.quietNoise()
    spark
  }

  private def write(path: String, text: String): Unit =
    JFiles.write(Paths.get(path), (text + "\n").getBytes(StandardCharsets.UTF_8))

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    if (o.contains("dump-oracle")) return dumpOracle(o("dump-oracle"))
    val work = o("work")
    val lake = o("lake")
    if (o.contains("record")) return record(o("hashes"), o("fingerprints"), lake, work)

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = Workloads.find(_.name == o("workload"))
      .getOrElse(sys.error(s"unknown workload ${o("workload")}"))
    val seed = o("seed").toLong
    val traced = o("trace") == "1"
    QueryRuns.expected = readMap(o("hashes"))
    QueryRuns.fingerprints = readMap(o("fingerprints"))
    AnalyticsMix.costs = readCosts(o("costs"))

    val spark = session(work)
    val cores = spark.sparkContext.defaultParallelism
    val trace = new Trace(spark, traced, s"${workload.name}-$seed-${System.currentTimeMillis}")
    val ctx = new Ctx(spark, lake, seed, o("seconds").toInt, work, trace, o.get("inject"))

    trace.span("bench.setup") {
      trace.span("sources.Tables.registerAll")(Tables.registerAll(spark, lake))
      // first job pays JVM, codegen and parquet-footer start-up
      spark.range(1000).selectExpr("sum(id)").collect()
      Tables.lineitem(spark, lake).limit(1000).write.mode("overwrite").format("noop").save()
      workload.prepare(ctx)
    }
    val setupS = (System.currentTimeMillis - jvmStart) / 1e3
    ctx.probeHeap()

    val cpu0 = trace.taskCpuS()
    val t0 = System.nanoTime()
    trace.span(s"workload.${workload.name}")(workload.run(ctx))
    val wallS = ((System.nanoTime() - t0) / 1e6 - ctx.paused) / 1e3
    val cpuS = trace.taskCpuS() - cpu0
    val sharedEntries = SharedFrames.entryCount
    ctx.probeHeap()
    trace.span("bench.check")(workload.check(ctx))

    val stepMs = ctx.steps.map(_.ms).toSeq
    val (tailMs, tailPct) = Stats.tail(stepMs)
    val e2e = Map(
      "setup_s" -> setupS, "wall_s" -> wallS, "task_cpu_s" -> cpuS,
      "peak_heap_mb" -> ctx.peakHeapMb, "build_s" -> ctx.builds.map(_.ms).sum / 1e3,
      "step_p50_ms" -> Stats.median(stepMs), "step_tail_ms" -> tailMs)
    val attempted = ctx.builds.size + ctx.steps.size + ctx.checked
    val failed = ctx.failedOps

    val (metrics, spanDump) =
      if (!traced) (EndToEnd.map { case (k, u) => k -> (e2e(k), u) }, Nil)
      else {
        val a = trace.analyze()
        val root = a.spans.find(_.name == s"workload.${workload.name}").get
        val layer = layerMetrics(a, root, workload.layerMetrics(ctx, a, root),
          wallS, cores, sharedEntries)
        ((PerLayer ++ workload.extraLayer).map { case (k, u) => k -> (layer.getOrElse(k, 0.0), u) },
          spanRecords(a))
      }
    trace.close()

    val detail = Map(
      "workload" -> workload.name, "seed" -> seed, "trace" -> traced, "cores" -> cores,
      "lake" -> lake, "end_to_end" -> e2e, "step_tail_percentile" -> tailPct,
      "steps" -> ctx.steps.map(s => Map("kind" -> s.kind, "name" -> s.name, "ms" -> s.ms, "ok" -> s.ok)),
      "builds" -> ctx.builds.map(s => Map("kind" -> s.kind, "name" -> s.name, "ms" -> s.ms, "ok" -> s.ok)),
      "workload_detail" -> ctx.detail, "failures" -> ctx.failures,
      "error_rate" -> failed.toDouble / math.max(1, attempted),
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "spans" -> spanDump)
    o.get("out").foreach(write(_, Json(detail)))
    spark.stop()
    println(Json(ListMap(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> ListMap(metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }: _*))))
  }

  private def layerMetrics(a: Trace.Analysis, root: Trace.Span, specific: Map[String, Double],
      wallS: Double, cores: Int, sharedEntries: Int): Map[String, Double] = {
    val t = a.total(root)
    def spanS(name: String) = a.spans.filter(_.name == name).map(_.durationMs / 1e3).sum
    val memoS = SharedMemos.map(m => s"shared.${m}_s" -> spanS(s"shared.$m")).toMap
    Map(
      "spark.jobs" -> t.jobs.toDouble, "spark.stages" -> t.stages.toDouble,
      "spark.tasks" -> t.tasks.toDouble, "spark.query_executions" -> t.queryExecutions.toDouble,
      "spark.driver_only_s" -> a.driverOnlyMs(root) / 1e3, "spark.plan_ms" -> t.planMs,
      "spark.codegen_ms" -> t.codegenMs, "spark.task_run_s" -> t.taskRunS,
      "spark.task_cpu_s" -> t.taskCpuS, "spark.gc_s" -> t.gcS,
      "spark.slot_busy_ratio" -> t.taskRunS / (wallS * cores),
      "spark.shuffle_write_mb" -> t.shuffleWriteMb, "spark.shuffle_read_mb" -> t.shuffleReadMb,
      "spark.fetch_wait_s" -> t.fetchWaitS, "spark.spill_mb" -> t.spillMb,
      "spark.input_mb" -> t.inputMb,
      "spark.skipped_stage_ratio" -> (if (t.stageSlots == 0) 0.0 else t.skippedStages.toDouble / t.stageSlots),
      "spark.failed_tasks" -> t.failedTasks.toDouble,
      "sources.register_s" -> spanS("sources.Tables.registerAll"),
      "sources.feed_synthesis_s" -> spanS("sources.feed_synthesis"),
      "shared.build_s" -> memoS.values.sum, "shared.entries" -> sharedEntries.toDouble,
      "trace.unattributed_s" -> a.selfMs(root) / 1e3,
      "trace.unattributed_jobs" -> a.own.get(root.id).map(_.jobs).getOrElse(0).toDouble,
      "trace.spans" -> a.spans.size.toDouble) ++ memoS ++ specific
  }

  private def spanRecords(a: Trace.Analysis): Seq[Map[String, Any]] = a.spans.map { s =>
    val t = a.total(s)
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run_id" -> a.runId,
      "thread" -> s.thread, "start_ms" -> s.start, "end_ms" -> s.end,
      "self_ms" -> a.selfMs(s), "driver_only_ms" -> a.driverOnlyMs(s), "total" -> t,
      "own_jobs_by_label" -> a.jobLabels.getOrElse(s.id, Map.empty))
  }

  private def read(path: String): String =
    new String(JFiles.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)

  private def readMap(path: String): Map[String, String] =
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(read(path))
      .map(m => m.group(1) -> m.group(2)).toMap

  private def readCosts(path: String): Map[String, Double] =
    "\"([^\"]+)\"\\s*:\\s*([0-9.]+)".r.findAllMatchIn(read(path))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap

  /** Every query a workload can draw, and the curation memos. */
  def candidates: Seq[graft.queries.Q] =
    AnalyticsMix.families.flatMap(_._2) ++
      graft.SparkEntry.allQueries.filter(q => CurationBatch.Ops.contains(q.name))

  /** Records, for every candidate query and corpus memo, the result
    * hash (for the DuckDB cross-check and the CDC view check) and the
    * fingerprint observed while the result is written (for the per-run
    * checks). The memos are built first, as the workloads build them.
    * Each query runs twice; a result whose hash or fingerprint differs
    * between the two runs is reported instead of recorded. */
  private def record(hashesOut: String, fingerprintsOut: String, lake: String, work: String): Unit = {
    val spark = session(work)
    SharedMemos.foreach(m => SparkEntry.sharedBuilds.toMap.apply(m)(spark, lake))
    val frames: Seq[(String, () => DataFrame)] =
      CurationBatch.Memos.map(m => s"shared:$m" -> (() => CurationBatch.memoFrame(spark, lake, m))) ++
        candidates.map(q => q.name -> (() => q.run(spark, lake)))
    def once(): Seq[(String, (String, String))] = frames.map { case (name, df) =>
      name -> (ResultHash.of(df()), QueryRuns.noopWrite(df()))
    }
    val (first, second) = (once(), once().toMap)
    val unstable = first.filter { case (n, v) => second(n) != v }.map(_._1)
    unstable.foreach(n => System.err.println(s"[record] result of $n differs between runs"))
    val kept = first.filterNot(kv => unstable.contains(kv._1)).sortBy(_._1)
    def obj(kvs: Seq[(String, String)]) =
      kvs.map { case (k, v) => s"  ${Json.str(k)}: ${Json.str(v)}" }.mkString("{\n", ",\n", "\n}")
    write(hashesOut, obj(kept.map { case (k, v) => k -> v._1 }))
    write(fingerprintsOut, obj(kept.map { case (k, v) => k -> v._2 }))
    spark.stop()
  }

  private def dumpOracle(out: String): Unit =
    write(out, Json(candidates.flatMap(q => q.oracle.map(q.name -> _)).toMap))
}
