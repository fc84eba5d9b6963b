package graft.plans

import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkEntry}

/** Physical-plan audit over EVERY registered query — the automated
  * version of ".explain and iterate until it's the plan you'd want".
  * Guards the two scale killers that can silently regress:
  *
  *   - CartesianProduct: a non-broadcast cross product is O(n²) shuffle
  *     at 100 TB. (BroadcastNestedLoopJoin with a tiny broadcast side —
  *     e.g. the IVF centroid fan-out — is fine and intentionally
  *     allowed.)
  *   - lost predicate pushdown on the point-lookup path.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  // A memoized SharedFrames cache (and any persisted branch) prints its
  // BUILD plan as the subtree under InMemoryRelation; those exchanges run
  // once per session — and reprint once per CONSUMER in a static plan —
  // so per-query exchange ceilings must not count them. Used by every
  // ceiling counter below.
  private def stripCachedBuilds(p: String): String = {
    def indent(l: String) =
      l.indexWhere(c => !(" :+-*".contains(c))) match {
        case -1 => l.length; case i => i
      }
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var skipIndent = -1
    p.split("\n").foreach { l =>
      if (skipIndent >= 0 && indent(l) > skipIndent) ()
      else if (l.contains("InMemoryRelation")) skipIndent = indent(l)
      else { skipIndent = -1; out += l }
    }
    out.mkString("\n")
  }

  /** One swept query's artifacts — everything the all-queries tests
    * below assert on, captured from a single `q.run`. */
  private case class Swept(
      plan: String,            // executedPlan string (static, pre-AQE)
      logicalBare: Int,        // optimized-plan partition-less windows
      physBare: Seq[Boolean])  // per unpartitioned WindowExec: child bounded?

  /** Storage delta of the executing sweep (leak pin reads it). */
  @volatile private var sweepLeak: Option[(Int, Int)] = None

  /** The SharedFrames build expressions, before memoization: a
    * consumer's plan shows only their cached leaf, so their exchange
    * ceilings are pinned on the expressions themselves. */
  private def builds: Seq[(String, () => org.apache.spark.sql.DataFrame)] = {
    import org.apache.spark.sql.functions.col
    import graft.queries.DomainQueries
    import graft.views.Customer360
    def profiles = Customer360.customerProfiles(
      DomainQueries.customerMaster(spark, dir), DomainQueries.asOf,
      Seq(col("sourcerowid").desc))
    Seq(
      "build:vehicle_history" -> (() => Customer360.vehicleHistory(
        DomainQueries.vehicleSales(spark, dir), DomainQueries.asOf)),
      "build:customer_profiles" -> (() => profiles),
      "build:validated_sales" -> (() => Customer360.validatedSales(
        DomainQueries.vehicleSales(spark, dir), profiles)))
  }

  /** ONE memoized sweep over every registered query (and the
    * [[builds]]). `q.run` EXECUTES
    * the imperative entries (mv builds, pair materializations), and the
    * r16 full-suite run measured the previous FOUR independent
    * all-queries passes (cartesian + lambda sweep, two window sweeps,
    * the storage-hygiene execution sweep) at ~10 of the suite's 29
    * minutes — this fuses them into one pass that plans, snapshots,
    * MATERIALIZES (count — lazy internal persists must release on
    * materialization for the hygiene pin) and releases each query
    * once. */
  private lazy val sweep: Map[String, Swept] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    import org.apache.spark.sql.execution.{SparkPlan, GlobalLimitExec,
      LocalLimitExec, TakeOrderedAndProjectExec, CollectLimitExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    def isOffsetsFrame(w: LWindow): Boolean =
      w.child.collectFirst {
        case a: Aggregate if a.groupingExpressions.exists(
          _.references.exists(_.name == "__psum_pid")) => a
      }.isDefined
    def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
      f(p)
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
        case q: QueryStageExec => walk(q.plan)(f)
        case i: InMemoryTableScanExec => walk(i.relation.cachedPlan)(f)
        case other => other.children.foreach(walk(_)(f))
      }
    }
    def bounded(p: SparkPlan): Boolean = {
      var ok = false
      walk(p) {
        case _: GlobalLimitExec | _: LocalLimitExec |
             _: TakeOrderedAndProjectExec | _: CollectLimitExec => ok = true
        case _: BaseAggregateExec => ok = true
        case _ => ()
      }
      ok
    }
    val sc = spark.sparkContext
    def unaccounted = sc.getPersistentRDDs.size - graft.SharedFrames.entryCount
    val baseline = unaccounted
    val runs = SparkEntry.allQueries.map(q => q.name -> (() => q.run(spark, dir))) ++ builds
    val out = runs.map { case (name, run) =>
      val df = run()
      val logicalBare = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty && !isOffsetsFrame(w) => w
      }.size
      val physBare = scala.collection.mutable.ArrayBuffer[Boolean]()
      walk(df.queryExecution.executedPlan) {
        case w: WindowExec if w.partitionSpec.isEmpty => physBare += bounded(w.child)
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
          physBare += bounded(w.child)
        case _ => ()
      }
      val plan = df.queryExecution.executedPlan.toString
      df.count() // materialize: lazy internal persists must still be released
      df.unpersist(blocking = true)
      name -> Swept(plan, logicalBare, physBare.toSeq)
    }.toMap
    sweepLeak = Some((baseline, unaccounted))
    out
  }

  test("no registered query plans a CartesianProduct") {
    val offenders = SparkEntry.allQueries.flatMap { q =>
      if (sweep(q.name).plan.contains("CartesianProduct")) Some(q.name) else None
    }
    assert(offenders.isEmpty,
      s"queries with a cartesian product in the plan: ${offenders.mkString(", ")}")
  }

  test("no registered query plans an interpreted HOF lambda") {
    // Higher-order-function lambdas (and array_sort's DEFAULT comparator)
    // are CodegenFallback — interpreted per element. Every hot path has a
    // compiled equivalent (native expressions, sort_array, replace-based
    // token counting, the ArrayAggDistinctOrdered buffer); this keeps a
    // refactor from quietly reintroducing one anywhere.
    val offenders = SparkEntry.allQueries.flatMap { q =>
      if (sweep(q.name).plan.contains("lambdafunction")) Some(q.name) else None
    }
    assert(offenders.isEmpty,
      s"queries with interpreted HOF lambdas: ${offenders.mkString(", ")}")
  }

  test("point lookup pushes its predicate into the parquet scan") {
    val plan = SparkEntry.queries("j6_point_lookup")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["),
      s"expected pushed filters in:\n$plan")
    assert(!plan.contains("PushedFilters: []"),
      s"point lookup lost predicate pushdown:\n$plan")
  }

  test("corpus scan prunes to exactly the projected columns") {
    // at 100 TB the documents table is dominated by `text`; a scan that
    // also reads lang/source/n_chars for a fingerprint projection means
    // column pruning broke somewhere between the view and the source
    val plan = SparkEntry.queries("doc_fingerprint")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"doc_fingerprint should read only (doc_id, text):\n$plan")
  }

  test("small-dimension join broadcasts (J1 at test scale)") {
    val plan = SparkEntry.queries("j1_customer_order_totals")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("broadcast"),
      s"expected a broadcast join at sf0.001:\n$plan")
  }

  test("flagship plan shape pins: exchange ceilings and dedup-window elimination") {
    // Shuffle counts are THE scale lever; pin them so a refactor that
    // silently adds an exchange (or loses the dedup rewrite) fails here
    // rather than in the next bench round. Ceilings, not equalities —
    // AQE/codegen details may vary, extra shuffles are the regression.
    def plan(n: String) =
      SparkEntry.queries(n)(spark, dir).queryExecution.executedPlan.toString
    def exchanges(p: String) = "Exchange".r.findAllIn(stripCachedBuilds(p)).length
    def windows(p: String) = "Window \\[".r.findAllIn(stripCachedBuilds(p)).length

    val w1 = plan("w1_latest_event")
    assert(exchanges(w1) <= 2, s"w1_latest_event gained shuffles:\n$w1")
    assert(windows(w1) == 0, s"dedup-window rewrite stopped firing on w1:\n$w1")

    val profiles = plan("v_customer_profiles")
    assert(exchanges(profiles) <= 1, s"v_customer_profiles gained shuffles:\n$profiles")
    assert(windows(profiles) == 0,
      s"dedup-window rewrite stopped firing on v_customer_profiles:\n$profiles")

    val j1 = plan("j1_customer_order_totals")
    assert(exchanges(j1) <= 3, s"j1 gained shuffles:\n$j1")

    // The engine's heaviest view: profiles ⟕ history → 13-key aggregate.
    // Pin the exchange ceiling AND that no interpreted higher-order-function
    // comparator (CodegenFallback) creeps back into the hot aggregate —
    // the ordered-distinct arrays must come from the ArrayAggDistinctOrdered
    // buffer, not an array_sort lambda over per-group collect_list.
    // (interpreted-lambda absence is pinned globally in its own test)
    val segments = plan("v_customer_segments")
    assert(exchanges(segments) <= 5, s"v_customer_segments gained shuffles:\n$segments")
    assert(windows(segments) == 0,
      s"dedup-window rewrite stopped firing under v_customer_segments:\n$segments")

    val a3 = plan("a3_brands_by_recency")
    assert(exchanges(a3) <= 5, s"a3_brands_by_recency gained shuffles:\n$a3")

    // the composed corpus pipeline: both rank=1 dedups must stay
    // rewritten to aggregates — 2 dedup exchanges + the output sort
    val corpus = plan("corpus_clean")
    assert(exchanges(corpus) <= 3, s"corpus_clean gained shuffles:\n$corpus")
    assert(windows(corpus) == 0,
      s"dedup-window rewrite stopped firing in corpus_clean:\n$corpus")

    // simhash's md5 must stay hoisted: one digest per token, not one
    // per (token, bit) — 16× the hashing if the hoist regresses.
    val simhash = plan("dedup_simhash")
    assert("md5\\(".r.findAllIn(simhash).length == 1,
      s"dedup_simhash should compute exactly one md5 per token:\n$simhash")
  }

  test("curation/screen scale shapes: broadcast sides stay broadcast") {
    // decontam_overlap's whole 100 TB story is "benchmark dictionary is
    // broadcast, corpus never self-joins"; dedup_incremental_screen's is
    // "batch bands broadcast into the index scan". If either degrades to
    // a shuffle join the operator silently becomes a corpus shuffle.
    def plan(n: String) = {
      val df = SparkEntry.queries(n)(spark, dir)
      val p = df.queryExecution.executedPlan.toString
      df.unpersist()
      p
    }
    val decontam = plan("decontam_overlap")
    assert(decontam.contains("BroadcastHashJoin"),
      s"decontam benchmark dictionary must broadcast:\n$decontam")
    val screen = plan("dedup_incremental_screen")
    assert(screen.contains("BroadcastHashJoin"),
      s"incremental screen batch side must broadcast:\n$screen")
    // the estimator audit's candidate pairs must broadcast into the
    // signature scan (twice) — a sort-merge join would shuffle the
    // corpus-sized signature frame to rendezvous with a tiny pair set
    val audit = plan("dedup_lsh_audit")
    assert(!audit.contains("SortMergeJoin") &&
      "BroadcastHashJoin".r.findAllIn(audit).length >= 2,
      s"lsh audit pair side must broadcast into the signature scan:\n$audit")
    // the mixing filter is a pure scan: no exchange before the output sort
    val sample = plan("mix_stratified_sample")
    val preSort = sample.split("Sort ").last
    assert("Exchange".r.findAllIn(preSort).length <= 1,
      s"stratified sample should be filter-only below its output sort:\n$sample")
  }

  test("no corpus running-sum window partitions on the raw stratum key alone") {
    // The round-6 scale-killer: Window.partitionBy(stratum) serializes
    // every row of a stratum into ONE task. The prefix-sum queries must
    // run through PrefixSum's two-phase shape: any corpus-sized window
    // partitions on (stratum, range-partition id); a window partitioned
    // by the stratum alone is legal only above an Aggregate (the
    // metadata-sized per-partition offsets frame). Pinned logically on
    // the two curation queries (the capstone budget stage shares the
    // same PrefixSum call, but persists its result, which hides its
    // plan behind InMemoryRelation).
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val strata = Set("lang", "source")
    val offenders = Seq("mix_token_budget", "mix_pack_sequences",
      "mix_pack_emit", "corpus_rank_deciles").flatMap { n =>
      val df = SparkEntry.queries(n)(spark, dir)
      df.queryExecution.optimizedPlan.collect {
        case w: LWindow
            if w.partitionSpec.size == 1 &&
              w.partitionSpec.head.references.exists(a => strata(a.name)) &&
              w.child.collectFirst { case a: Aggregate => a }.isEmpty =>
          s"$n: Window partitioned by ${w.partitionSpec.head.sql} alone"
      }
    }
    assert(offenders.isEmpty,
      s"single-task stratum windows crept back:\n${offenders.mkString("\n")}")
  }

  test("partition-less windows appear only over bounded frames (allowlist)") {
    // A Window with an EMPTY partitionSpec is ONE task holding the whole
    // frame — acceptable ONLY when the frame is bounded by construction:
    // a top-K pool under a limit/TakeOrdered, a K-row vocabulary, a
    // day-grain frame, or w10's tie-semantics conformance pin (whose
    // corpus-scale spelling is w11_scalable_ranks via
    // PrefixSum.rankVariants — asserted window-free below). Any NEW
    // query planning a global window must either justify itself onto
    // this list or ride the two-phase machinery.
    // Structural exemption: PrefixSum's offsets windows are partition-
    // less AFTER constant-folding erases a literal single-stratum group
    // key, but their child aggregates on the range-partition id
    // (__psum_pid) — ≤ numPartitions metadata rows, never the frame.
    // (Counting — including the exemption — happens in the shared
    // `sweep`, one q.run per query for all three all-queries tests.)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    def isOffsetsFrame(w: LWindow): Boolean =
      w.child.collectFirst {
        case a: Aggregate if a.groupingExpressions.exists(
          _.references.exists(_.name == "__psum_pid")) => a
      }.isDefined
    val allowed = Set(
      "w10_rank_variants",      // conformance pin over the customer dim; w11 is the scale spelling
      "a29_daily_anomalies",    // day-grain frame (bounded by the calendar)
      "a30_new_vs_returning",   // day-grain frame
      "a32_conversion_latency", // ExactQuantiles over the converter latency column — slim
                                //   single-column aggregate output; documented swap path to
                                //   approx_percentile / two-phase at billions of converters
      "rfm_segments",           // quintile-BOUNDARY stage only (12 numbers out); scoring is
                                //   windowless broadcast arithmetic; swap path documented in-query
      "rag_hybrid_topk",        // top-K pools after TakeOrdered (K-row frames)
      "corpus_vocab",           // K-row vocabulary rank frame
      "corpus_token_ids",       // K-row vocabulary rank frame
      "mix_dsir_sample",        // row_number above limit(DsirK) — K-row pool
      "stats_key_skew")         // count-of-counts histogram cume — |distinct multiplicities| rows
    def bare(df: org.apache.spark.sql.DataFrame): Int = {
      val n = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty && !isOffsetsFrame(w) => w
      }.size
      df.unpersist()
      n
    }
    val offenders = SparkEntry.allQueries.flatMap { q =>
      val n = sweep(q.name).logicalBare
      if (n > 0 && !allowed(q.name)) Some(s"${q.name} ($n)") else None
    }
    assert(offenders.isEmpty,
      s"unbounded partition-less windows outside the allowlist: ${offenders.mkString(", ")}")
    // the corpus-scale rank family must be genuinely two-phase
    assert(bare(SparkEntry.queries("w11_scalable_ranks")(spark, dir)) == 0,
      "w11_scalable_ranks planned a partition-less window")
  }

  test("correlated subqueries decorrelate: semi/anti/aggregate-join, never per-row") {
    // The conformance contract behind sq1-sq3: Catalyst must rewrite
    // EXISTS → left-semi, NOT EXISTS → left-anti, and a CORRELATED
    // scalar subquery → aggregate joined back. Per-row subquery
    // execution (a scalar-subquery expression still referencing outer
    // attributes after optimization) would be quadratic at scale.
    def plans(n: String) = {
      val df = SparkEntry.queries(n)(spark, dir)
      (df.queryExecution.optimizedPlan.toString,
        df.queryExecution.executedPlan.toString)
    }
    val (o1, p1) = plans("sq1_exists_late_ship")
    assert(p1.contains("LeftSemi"), s"EXISTS did not plan a semi join:\n$p1")
    assert(!o1.contains("scalar-subquery") && !o1.contains("exists"),
      "sq1 kept an unrewritten subquery expression")

    val (o2, p2) = plans("sq2_not_exists_dormant")
    assert(p2.contains("LeftAnti"), s"NOT EXISTS did not plan an anti join:\n$p2")
    // the two UNcorrelated scalars legitimately survive — executed once
    // each, broadcast as literals — but no EXISTS may remain
    assert(!o2.contains("exists"), "sq2 kept an unrewritten EXISTS")

    val (o3, p3) = plans("sq3_scalar_part_avg")
    assert(!o3.contains("scalar-subquery"),
      s"correlated scalar subquery was NOT decorrelated to an aggregate join:\n$o3")
    assert(p3.contains("Join"), "sq3 lost its aggregate join")

    // IN → semi; NOT IN over the non-nullable key must stay a HASH anti
    // join — the degradation pin: NOT IN over a nullable subquery key
    // falls back to BroadcastNestedLoopJoin (three-valued semantics),
    // which is the quadratic shape this sweep exists to catch
    val (_, p4) = plans("sq4_in_subquery")
    assert(p4.contains("LeftSemi"), s"IN did not plan a semi join:\n$p4")
    val (_, p5) = plans("sq5_not_in_subquery")
    assert(p5.contains("LeftAnti"), s"NOT IN did not plan an anti join:\n$p5")
    assert(!p5.contains("NestedLoop"),
      s"NOT IN degraded to a nested-loop join:\n$p5")

    // LATERAL … ORDER BY … LIMIT 1 must decorrelate to a rank window
    // over the orders side joined back (DecorrelateInnerQuery) — never
    // |customer| per-row subquery executions
    val (o6, p6) = plans("sq6_lateral_top1")
    assert(!o6.contains("lateral-subquery"),
      "sq6 kept an unrewritten lateral subquery")
    assert(p6.contains("Window"), s"sq6 lost its decorrelated rank window:\n$p6")
    assert(!p6.contains("NestedLoop"),
      s"sq6 degraded to a nested-loop join:\n$p6")

    // SELECT-position correlated count: decorrelated to an aggregate
    // left-joined back (COUNT-bug compensation lives in the rewrite —
    // the zero rows are asserted by the differential, the shape here)
    val (o7, p7) = plans("sq7_select_scalar_count")
    assert(!o7.contains("scalar-subquery"),
      "sq7 kept an unrewritten scalar subquery")
    assert(!p7.contains("NestedLoop"),
      s"sq7 degraded to a nested-loop join:\n$p7")

    // EXISTS inside a DISJUNCTION cannot filter as a semi join (a row
    // failing the EXISTS may pass the OR) — it must plan the THIRD
    // subquery-join kind, ExistenceJoin (boolean marker column + a
    // compiled disjunction filter), never a nested loop
    val (o12, p12) = plans("sq12_exists_or_predicate")
    assert(!o12.contains("exists(") || o12.contains("ExistenceJoin"),
      s"sq12's EXISTS-in-OR was not rewritten to an ExistenceJoin:\n$o12")
    assert(o12.contains("ExistenceJoin"),
      s"sq12 lost the ExistenceJoin marker form:\n$o12")
    assert(!p12.contains("NestedLoop"),
      s"sq12 degraded to a nested-loop join:\n$p12")

    // CUBE is ONE scan through Expand (not four queries); enumerated
    // pivot is ONE aggregate (no distinct-values pre-scan)
    val (_, pc) = plans("a34_cube_revenue")
    assert(pc.contains("Expand"), s"CUBE lost its one-scan Expand shape:\n$pc")
    val (_, pp) = plans("a35_pivot_flag_revenue")

    // exchange ceilings (static, pre-AQE): semi 3, anti + 2 one-shot
    // scalars 7, decorrelated aggregate join 4
    def exch(p: String) = "Exchange".r.findAllIn(stripCachedBuilds(p)).length
    assert(exch(p1) <= 3, s"sq1 exchange ceiling: ${exch(p1)}\n$p1")
    assert(exch(p2) <= 7, s"sq2 exchange ceiling: ${exch(p2)}\n$p2")
    assert(exch(p3) <= 4, s"sq3 exchange ceiling: ${exch(p3)}\n$p3")
    assert(exch(p4) <= 3, s"sq4 exchange ceiling: ${exch(p4)}\n$p4")
    assert(exch(p5) <= 3, s"sq5 exchange ceiling: ${exch(p5)}\n$p5")
    assert(exch(pc) <= 2, s"a34 exchange ceiling: ${exch(pc)}\n$pc")
    assert(exch(pp) <= 3, s"a35 exchange ceiling: ${exch(pp)}\n$pp")
  }

  test("join strategy hints are honored: BROADCAST, MERGE, SHUFFLE_HASH") {
    // The escape hatch when the optimizer's choice is wrong at scale
    // (stats_autoplan_join DECIDES from stats; hints COMMAND): each
    // hint must produce its join implementation, or a tuning runbook
    // written against this engine silently does nothing.
    graft.Tables.orders(spark, dir).createOrReplaceTempView("hint_o")
    graft.Tables.customer(spark, dir).createOrReplaceTempView("hint_c")
    def plan(h: String) = spark.sql(
      s"SELECT /*+ $h */ count(*) FROM hint_o JOIN hint_c ON o_custkey = c_custkey")
      .queryExecution.executedPlan.toString
    assert(plan("BROADCAST(hint_c)").contains("BroadcastHashJoin"))
    assert(plan("MERGE(hint_c)").contains("SortMergeJoin"))
    assert(plan("SHUFFLE_HASH(hint_c)").contains("ShuffledHashJoin"))
  }

  test("TPC-H wave structural pins: top-k heaps, subquery rewrites, no nested loops") {
    // The shape contracts the ceilings alone can't express. Top-k must
    // be TakeOrderedAndProject (per-partition heap + k-row driver
    // merge, never a global sort of the aggregate); Q15's scalar max,
    // Q18's IN-over-HAVING, Q20's nested IN and Q2's correlated
    // scalar min must all rewrite to one-shot aggregates + semi/equi
    // joins (a surviving correlated expression or nested loop would be
    // quadratic at scale); Q19's OR-of-ANDs must keep the extracted
    // p_partkey equi-key (a weak optimizer degrades it to a nested
    // loop over the disjunction).
    def plans(n: String) = {
      val df = SparkEntry.queries(n)(spark, dir)
      (df.queryExecution.optimizedPlan.toString,
        df.queryExecution.executedPlan.toString)
    }
    for (n <- Seq("j22_shipping_priority", "j23_returned_revenue_loss")) {
      val (_, p) = plans(n)
      assert(p.contains("TakeOrderedAndProject"),
        s"$n top-k did not compile to TakeOrderedAndProject:\n$p")
      assert(!p.contains("GlobalSort"), s"$n global-sorted its aggregate:\n$p")
    }
    val (o15, p15) = plans("sq8_top_supplier")
    assert(!o15.contains("exists"), "sq8 kept an unrewritten subquery")
    assert(!p15.contains("NestedLoop"), s"sq8 planned a nested loop:\n$p15")
    val (_, p18) = plans("sq9_large_volume_orders")
    assert(p18.contains("LeftSemi"), s"Q18 IN did not plan a semi join:\n$p18")
    val (_, p20) = plans("sq10_dominant_promo_suppliers")
    assert(p20.contains("LeftSemi"), s"Q20 nested IN did not plan semi joins:\n$p20")
    assert(!p20.contains("NestedLoop"), s"Q20 planned a nested loop:\n$p20")
    val (o2q, p2q) = plans("sq11_cheapest_supplier")
    assert(!o2q.contains("scalar-subquery"),
      s"Q2 correlated min was NOT decorrelated to an aggregate join:\n$o2q")
    assert(!p2q.contains("NestedLoop"), s"Q2 planned a nested loop:\n$p2q")
    val (_, p19) = plans("j24_disjunctive_predicate_join")
    assert(p19.contains("BroadcastHashJoin"),
      s"Q19 lost the extracted partkey equi-join under the disjunction:\n$p19")
    assert(!p19.contains("NestedLoop"), s"Q19 planned a nested loop:\n$p19")
  }

  test("round-8 query plan shapes: exchange ceilings") {
    // Static (pre-AQE) counts, same doctrine as the round-7 pins below:
    // the PrefixSum-shaped plans (w11 two passes, waterfill one pass +
    // boundary joins) print their range-exchange subtree repeatedly —
    // deduplicated to ReusedExchange at runtime (pinned separately) —
    // so their static ceilings look large while the runtime plan is
    // narrow. Queries that collect metadata at BUILD time (kcore's
    // peel loop, autoplan's measurement passes) pin only the final
    // result plan.
    val ceilings = Map(
      "w11_scalable_ranks" -> 25,      // 2× PrefixSum static print + key join
      "mix_source_waterfill" -> 25,    // PrefixSum static print + 2 broadcast boundaries
      "stats_autoplan_join" -> 2,      // chosen join (broadcast) + 1-row agg
      "sq1_exists_late_ship" -> 3,
      "sq2_not_exists_dormant" -> 7,   // anti + 2 one-shot scalar subqueries
      "sq3_scalar_part_avg" -> 4,
      "sq4_in_subquery" -> 3,
      "sq5_not_in_subquery" -> 3,
      "a34_cube_revenue" -> 2,         // Expand + final agg exchange
      "a35_pivot_flag_revenue" -> 3,
      "w12_range_vs_rows_frames" -> 3, // day agg + window + sort
      "j21_nation_pair_trade" -> 8,    // 2 fact shuffles + dim broadcasts + agg + sort
      "set2_bag_ops" -> 3,
      "graph_kcore_peel" -> 1,         // peel ran at build; result is rounds-sized
      "corpus_ngram_novelty" -> 4,     // df agg + shingle join + doc agg + sort
      "corpus_readability" -> 1,
      "corpus_hapax_stats" -> 3,
      "ann_pq_adc" -> 7,               // encode argmin + ADC broadcast + top-k + rejoin
      "ann_matryoshka_curve" -> 9,     // dim-exploded heaps + brute rejoin
      "graph_bfs_frontier" -> 2,       // frontier loop ran at build; layer union + sort
      "ann_hamming_topk" -> 5,         // sig agg + q broadcast + top-k + rescore join
      "a36_custdist" -> 4,             // left join + 2 stacked aggs + custdist sort
      "sq6_lateral_top1" -> 4,         // decorrelated rank window + outer join + sort
      "sq7_select_scalar_count" -> 3,  // decorrelated count agg + left join + sort
      "a37_grouping_sets" -> 2,        // Expand + final agg exchange (a34 doctrine)
      "a38_unpivot_metrics" -> 2,      // day agg + expand + sort
      "w13_holt_trend" -> 3,           // month agg + ONE window exchange for both smoothing passes + sort
      "emb_kmeans_lloyd" -> 1,         // rounds ran at build; result is the rounds-sized metrics frame
      // --- TPC-H conformance wave (TpchQueries.scala) ---
      "j22_shipping_priority" -> 3,    // dim broadcast + orderkey join + agg; top-10 is TakeOrdered
      "j23_returned_revenue_loss" -> 4, // orderkey join + custkey join + agg; top-20 is TakeOrdered
      "a39_priority_ship_lag" -> 3,    // one orderkey join + map-side-collapsed conditional counts
      "a40_promo_revenue_share" -> 3,  // part broadcast + month agg + sort
      "sq8_top_supplier" -> 5,         // revenue agg + 1-row max scalar + supplier join + sort
      "a41_part_supplier_variety" -> 5, // NOT-IN anti build + distinct-count two-phase + sort
      "sq9_large_volume_orders" -> 8,  // HAVING agg + semi join + cust/order joins + rollup + sort
      "j24_disjunctive_predicate_join" -> 3, // part broadcast + OR-filter + brand agg
      "sq10_dominant_promo_suppliers" -> 7, // two part-keyed aggs + dominance join + semi + sort
      "sq11_cheapest_supplier" -> 6,   // (part,supp) agg + decorrelated per-part min + equality join + sort
      "a42_market_share" -> 9,         // region-pruned cust leg + orderkey shuffle + dim broadcasts + year agg
      "a43_nation_year_margin" -> 6,   // part/supplier broadcasts + orderkey shuffle + rollup + sort
      "a44_banded_discount_delta" -> 2, // pure scan-predicate aggregate + sort
      // span frame (gram agg + shared join + islands window) + hit-set
      // agg + doc_id rejoin + same-key regroup + output sort
      "corpus_dup_excise" -> 7,
      // ONE custkey exchange carries all five value-window functions
      // (shared partitioning/ordering collapse to a single WindowExec)
      // + output sort
      "w14_value_windows" -> 2,
      // probe-filtered assignment + candidate-only encode argmin + ADC
      // pivot agg + 20-row shortlist rejoin + output sort; codebook/ADC
      // tables broadcast as metadata
      "ann_ivfpq_topk" -> 9,
      // the packAssignments prefix-sum subtree reprints statically once
      // per consumer branch (geom/forget/affected — AQE-reused at
      // runtime, the w11/ccnet doctrine) + source-keyed rollup joins
      "mix_forget_audit" -> 31,
      // ExistenceJoin on orderkey + status rollup + output sort
      "sq12_exists_or_predicate" -> 3,
      // full-CC + incremental-merge ran at build (stripped as the
      // persisted result's InMemoryRelation); the served frame is the
      // materialized node map
      "id_incremental_components" -> 2)
    val over = ceilings.toSeq.sortBy(_._1).flatMap { case (n, cap) =>
      val c = "Exchange".r.findAllIn(stripCachedBuilds(sweep(n).plan)).length
      if (c > cap) Some(s"$n: $c > $cap") else None
    }
    assert(over.isEmpty, s"exchange ceilings exceeded: ${over.mkString(", ")}")
  }

  test("customer-360 build and dedup plan shapes: exchange ceilings") {
    // Static (pre-AQE) counts by this spec's counter, which also counts
    // broadcast exchanges.
    val ceilings = Map(
      // the dedup and the purchase-sequence window share ONE custno
      // exchange
      "build:vehicle_history" -> 1,
      // one dedup exchange + the customer-dimension broadcast
      "build:customer_profiles" -> 2,
      // one exchange per join input + the customer-dimension broadcast
      // inside the profiles side
      "build:validated_sales" -> 3,
      "v_vehicle_history" -> 1,
      "v_validated_sales" -> 3)
    val over = ceilings.toSeq.sortBy(_._1).flatMap { case (n, cap) =>
      val c = "Exchange".r.findAllIn(stripCachedBuilds(sweep(n).plan)).length
      if (c > cap) Some(s"$n: $c > $cap") else None
    }
    assert(over.isEmpty, s"exchange ceilings exceeded: ${over.mkString(", ")}")
    // dedup_ngram_jaccard serves a persisted result, so its exchanges
    // are all in the cached build: count them unstripped
    val ngram = "Exchange".r.findAllIn(sweep("dedup_ngram_jaccard").plan).length
    assert(ngram <= 26, s"dedup_ngram_jaccard gained exchanges: $ngram > 26")
  }

  test("round-7 query plan shapes: exchange ceilings") {
    // Same rationale as the flagship pins: shuffle counts are THE scale
    // lever, so pin ceilings for the new operators. Counts are STATIC
    // (pre-AQE): the prefix-sum users print their range exchange twice
    // (deduplicated at runtime, pinned separately below).
    def audit(n: String): (Int, String) = {
      val p = sweep(n).plan
      ("Exchange".r.findAllIn(stripCachedBuilds(p)).length, p)
    }
    val ceilings = Seq(
      // (orderkey, suppkey) agg + orderkey window + suppkey agg +
      // output sort + 2 dim broadcasts — the EXISTS/NOT-EXISTS pair
      // decorrelates into the window, so no self-join shuffles exist
      "j15_sole_late_supplier" -> 6,
      // static counts below include shared-subtree REPRINTS (persisted
      // or reused branches print their exchange chain once per
      // consumer; runtime cache/ReusedExchange collapses them) — the
      // pins are regression ceilings, not runtime shuffle counts
      "corpus_ccnet_buckets" -> 34,   // LM + prefix-sum rank shape ×branches
      "corpus_heaps_fit" -> 33,       // prefix-sum + first-pos agg + fit branches
      "a27_segment_overlap" -> 32,    // register frame feeds 3 estimates + exact twin
      "corpus_quality_calibrated" -> 21, // two stacked prefix-sum ranks
      "ann_eval_recall" -> 12,        // dual top-k heaps + probe + metric join
      "emb_drift_centroid_kl" -> 9,   // broadcast assign + occupancy + totals
      "w9_locf_value" -> 6,           // dedup + spine + LOCF window + sort
      "corpus_dup_profile" -> 6,      // gram df agg + rejoin + islands + left join
      "a30_new_vs_returning" -> 5,    // activity distinct + first-day + day window
      "a31_part_revenue_share" -> 5,  // per-part agg + 1-row total broadcast + sort
      "a28_ab_calibration" -> 5,      // per-user agg + 2-row arm rollup branches
      "a29_daily_anomalies" -> 2,     // day agg + day-level window/sort
      "corpus_pii_report" -> 2,       // pure regex scan + source rollup + sort
      "dedup_threshold_sweep" -> 96,  // memoized pair subtree reprinted ×8 branches
      "mix_pca_grid" -> 59,           // dual prefix-sum ranks + heap, shared proj reprints
      "mix_stride_interleave" -> 19,  // two stacked prefix-sum ranks
      "ann_nprobe_curve" -> 13,       // superset probe + np-dim heap + metric join
      "graph_lpa_communities" -> 7,   // final-round label join + sizes + sort (checkpointed rounds excluded)
      "id_graph_stats" -> 6,          // match edges + CC result + histogram
      "a31_part_revenue_share" -> 5,  // per-part agg + 1-row total + sort
      "a32_conversion_latency" -> 4,  // two per-user aggs + quantile rank shape
      "emb_pca_top2" -> 1,            // one Aggregator pass; everything else driver-side
      // per-dim agg + moments broadcast + output sort — the corpus
      // side of the standardization must NOT shuffle pre-sort
      "emb_standardize" -> 4,
      // pure regex column arithmetic: the output sort is the ONLY
      // exchange in the whole redaction pass
      "corpus_pii_redact" -> 1,
      // gram-df agg + position rejoin + doc window + islands regroup
      // + output sort (static pre-AQE count; dup-profile adds the
      // left-join back to the token table)
      "corpus_dup_spans" -> 6,
      // range×2 + local window hash + totals agg + tiny offsets window
      // + doc_id rejoin (2) + (source, seq_id) regroup + output sort
      "mix_pack_emit" -> 9,
      // vocab agg + per-doc regroup + output sort + vocab broadcast
      "corpus_bpe_encode" -> 4,
      // counts agg ×2 branches + heap agg + output sort + top broadcast
      "corpus_top_ngrams" -> 5,
      // pure per-row arithmetic: the output sort is the ONLY exchange
      "mix_epoch_upsample" -> 1,
      // dim join broadcast + version-chain window + output sort
      "scd2_customer_history" -> 3,
      // prefix-sum shape (range×2 static + local window + totals +
      // offsets) + per-source counts join + output sort
      "corpus_rank_deciles" -> 9,
      // survivor pipeline (dedup windows ×2) + LSH pair build + CC
      // label join + output sort — the pair/component stages are
      // session-memoized, so repeat consumers pay none of these
      "mix_cluster_splits" -> 12,
      // same survivor/component spine (memoized after the first
      // consumer) + cluster-size agg + per-source rollup + raw-docs
      // agg + left join + output sort
      "dedup_report" -> 14,
      // per-customer metric agg (+ as-of 1-row broadcast) + the three
      // 12-number threshold passes + threshold broadcast + output
      // sort; the metric subtree prints once per quantile leg
      // statically (AQE-reused at runtime); scoring is windowless
      "rfm_segments" -> 22,
      // count-distinct two-phase agg + output sort; the ×3 slot
      // fan-out collapses in partial agg BEFORE the first exchange
      "a13_hopping_windows" -> 3,
      // per-lang counts agg (two-phase) + min agg + broadcast keep-p
      // join + output sort — never a corpus-wide shuffle
      "mix_temperature_sample" -> 6,
      // ONE stats agg + 1-row broadcast + output sort: tf rides the
      // scan, so the corpus is shuffled zero times before the sort
      "doc_bm25_scores" -> 3,
      // one user_id shuffle for session_window merge + output sort
      "st6_session_rollup" -> 2,
      // SMJ shuffle both sides + version-chain window + output sort
      "j11_interval_attribution" -> 4,
      // cells agg + exact agg + broadcast sketch join + output sort
      "corpus_cms_counts" -> 4,
      // LM agg + totals + three broadcasts + ONE per-doc agg shuffle
      // + output sort — lang/source ride the explode as grouping keys,
      // so there is no corpus rejoin (broadcasts count in the static total)
      "doc_perplexity" -> 10,
      // TWO prefix-sum shapes (range×2 static each) + decile/pack
      // joins + seq agg + output sort; AQE dedups the ranges at runtime
      "mix_curriculum_order" -> 17,
      // returned frame is the persisted (vertex-sized) rank map + its
      // output sort; the 8-round loop's per-round join+agg runs against
      // the COLLAPSED edge frame only (hygiene pinned in PageRankSpec)
      "graph_event_pagerank" -> 2,
      // ONE Expand+aggregate (4× fan-out collapses in partial agg
      // before the exchange) + output sort
      "a14_cube_subtotals" -> 2,
      // dim broadcasts onto the customer→orders spine + ONE
      // Expand+aggregate (3-level fan-out collapses partial) +
      // output sort
      "a14b_rollup_totals" -> 6,
      // the ONE basket-distinct exchange prints 4× static (self-join
      // sides + both count branches — AQE-reused at runtime) + pair
      // agg + 2 per-part count aggs + 3 broadcast exchanges + 1-row
      // total agg + output sort
      "a16_copurchase_lift" -> 14,
      // ONE conditional-agg scan (partial+final) + key-only anti-join
      // (2 sides) + orphan 1-row agg + output sort
      "dq_audit" -> 7,
      // one custkey window exchange + output sort — RANGE frame rides
      // the same exchange a rows-frame would
      "w5_rolling_7d_spend" -> 2,
      // orders agg + full-outer SMJ (2 sides) + output sort
      "j12_full_outer_reconcile" -> 5,
      // monthly agg + span agg + spine/actual join (2 sides static,
      // AQE-reused) + fill window custkey exchange + output sort
      "w6_month_spine_fill" -> 8,
      // ONE moment-aggregate (partial+final = 1 exchange) + output
      // sort — five moments ride the same scan
      "a17_group_stats" -> 2,
      // one custkey exchange feeds lag window AND per-customer agg
      // (agg rides the window's partitioning) + output sort
      "w7_order_gaps" -> 2,
      // (custkey, month) agg exchange + custkey window exchange (all
      // 16 lags in ONE window pass) + output sort
      "w8_ewma_spend" -> 3,
      // pivot with explicit values skips the distinct-key discovery
      // pass but still plans two agg phases — the (user, type) count
      // exchange, then pivotfirst keyed on user (carries ≤ users×types
      // rows) — plus the output sort
      "a15_event_pivot" -> 3,
      // register agg + estimate agg + exact count-distinct (expand,
      // 2 phases) + approx/exact join + output sort — the exchanges
      // carry ≤ groups×64 register rows and per-group counts, never
      // the keyed frame
      "a18_hll_distinct" -> 8,
      // the two scorers' own exchanges (bm25 stats agg + broadcast;
      // cosine per-vector agg + query broadcasts) + a single-partition
      // rank window per 100-row pool + the pool fusion join + final
      // top-k — everything after the scorers is metadata-sized
      "rag_hybrid_topk" -> 12,
      // two quantile passes (source exchange each, agg rides the
      // window's partitioning) + two ≤-sources-row broadcasts + output
      // sort — no stratum-sized window anywhere
      "corpus_outlier_filter" -> 8,
      // one user_id exchange feeds the lead window AND the per-user
      // agg (agg rides the window's partitioning) + output sort
      "a20_time_weighted_value" -> 2,
      // first-order agg + cohort join + (cohort, age) agg collapsing
      // map-side to cohorts×months metadata + cumulative window over
      // that metadata + sizes broadcast + output sort
      "a24_cohort_ltv" -> 8,
      // touch/purchase SMJ on user_id (2 sides) + converted-trial
      // distinct + trial/hit join + channel agg (map-side collapsed)
      // + output sort; subtrees print per leg statically
      "a23_conversion_wilson" -> 10,
      // one user_id exchange for the lead window + 5×5 matrix agg
      // (map-side collapsed) + totals agg + broadcast + output sort;
      // the transition subtree prints once per join leg statically
      // (AQE-reused at runtime)
      "a22_event_transitions" -> 7,
      // dims broadcast (region→nation→customer chain) + the one big
      // orders⋈lineitem exchange pair + final agg + output sort; the
      // date filter reaches the orders scan (pinned below)
      "j13_snowflake_revenue" -> 8,
      // purchase/touch SMJ on user_id (2 sides, one scan reprinted) +
      // per-purchase struct min/max agg + channel rollup of the
      // two-model union + output sort
      "a21_touch_attribution" -> 7,
      // 1-row min/max agg + broadcast + (group, bin) agg collapsing
      // map-side to ≤ groups×32 rows + cumulative windows over that
      // metadata + the exact-quantile pass's group exchange + final
      // 5-row join + output sort
      "a19_histogram_quantiles" -> 12,
      // unigram agg + positional-bigram agg (both map-side collapsed
      // to vocabulary size) + two vocab broadcasts + two 1-row total
      // broadcasts + output sort; the unigram subtree prints once per
      // broadcast leg statically (AQE-reused at runtime)
      "corpus_pmi_bigrams" -> 11,
      // (lang, tok) frequency agg collapsing map-side + rank window
      // and moment agg over vocab-sized metadata (window exchange on
      // lang) + output sort
      "corpus_zipf_fit" -> 4,
      // k-bounded packed-heap agg (one lang exchange of k·mappers
      // rows) + posexplode + output sort — same shape as
      // mix_fixed_sample
      "mix_weighted_sample" -> 2,
      // shingle-df exchange (map-side collapsed) + df-valved broadcast
      // + positional-hit doc_id agg + kept-token regroup riding the
      // same key + output sort — the excise stage shared with
      // decontam_excise
      "corpus_boilerplate_strip" -> 7,
      // the oriented-edge subtree (basket distinct + pair agg + degree
      // agg + orientation joins) prints once per self-join leg — e1/e2/
      // e3 + the degree spine — so the static count is ~9 exchanges × 9
      // identical reprints; the legs are bit-identical subtrees, which
      // AQE collapses to ONE materialization each (ReusedExchange pinned
      // at runtime below). No window anywhere.
      "graph_copurchase_triangles" -> 90,
      // profile aggs (target/raw + their 1-row totals, tc/rc subtrees
      // reprinted statically under the totals) + 4 metadata broadcasts
      // + weight broadcast + ONE per-doc score agg + single-partition
      // rank window over the K survivors + output sort
      "mix_dsir_sample" -> 12,
      // anchor/norm/label broadcasts into ONE candidate scan + the
      // per-(anchor, candidate) agg + k-bounded heap agg + winner
      // broadcast back to labels + output sort — the candidate frame
      // is never sort-merge-shuffled
      "emb_hard_negatives" -> 8,
      // two map-side-collapsing count aggs (source×B and B rows; their
      // subtrees reprint statically under the totals + spine legs,
      // AQE-reused at runtime) + metadata broadcasts + the final
      // sources-sized agg + output sort — never a corpus reshuffle
      "corpus_drift_kl" -> 11,
      // distinct-word agg + segmented-vocab broadcast + one map-side-
      // collapsing per-lang agg + output sort; the 8-round learn loop
      // runs driver-side actions outside this plan
      "corpus_bpe_fertility" -> 4,
      // the perplexity plan + ZERO added exchanges: the repetition
      // fractions ride the per-doc aggregate as grouping keys
      "corpus_quality_gate" -> 10)
    ceilings.foreach { case (n, max) =>
      val (ex, p) = audit(n)
      assert(ex <= max, s"$n gained shuffles ($ex > $max):\n$p")
    }
  }

  test("snowflake join pushes the date range into the orders scan") {
    val plan = SparkEntry.queries("j13_snowflake_revenue")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      "PushedFilters: \\[[^\\]]*o_orderdate".r.findFirstIn(plan).isDefined,
      s"date filter no longer reaches the orders parquet scan:\n$plan")
  }

  test("triangle query's self-join legs collapse to reused exchanges at runtime") {
    // The static plan reprints the oriented-edge subtree once per
    // wedge/closure leg (ceiling above); the scale story requires the
    // edge set to materialize ONCE and be re-read — assert AQE does.
    val df = SparkEntry.queries("graph_copurchase_triangles")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"), s"expected an executed AQE plan:\n$plan")
    assert("ReusedExchange".r.findAllIn(plan).length >= 2,
      s"triangle self-join legs stopped reusing the edge exchange:\n$plan")
  }

  test("prefix-sum pid frame is FROZEN: both branches read one RDD, no re-ranged corpus") {
    // PrefixSum's scale story says the corpus crosses its range
    // exchange ONCE. That used to lean on AQE ReusedExchange — an
    // optimization, not a guarantee, and when a cached upstream
    // defeated it the branches re-sampled DIFFERENT range bounds and
    // the offsets join silently corrupted the sums. The pid frame is
    // now frozen to one physical RDD (GraftSqlShim.freeze): the range
    // exchange runs inside that single instance, and the consumer plan
    // shows BOTH branches scanning the same ExistingRDD with no
    // range exchange of its own re-shuffling the corpus.
    val df = SparkEntry.queries("mix_token_budget")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert("Scan ExistingRDD".r.findAllIn(plan).length >= 2,
      s"expected both prefix-sum branches to scan the frozen pid RDD:\n$plan")
  }

  test("top-10 bench heavies: whole-stage codegen on, no CodegenFallback in the plan") {
    // the hot path must stay inside generated code: a fallback
    // expression (interpreted eval per row) or a missing codegen span
    // on a heavy query is a silent multi-x regression at 100 TB
    // (VERDICT r9 task 5 / r8 task 6). The custom-Aggregator sketch
    // stages run as ObjectHashAggregate BY DESIGN (typed aggregates
    // don't codegen) — those nodes are exempt; everything else in the
    // FINAL adaptive plan must be fallback-free and contain at least
    // one WholeStageCodegen span.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val heavies = Seq(
      "mv_segments_refresh", "j14_session_overlap",
      "id_incremental_components", "mv_profiles_refresh",
      "dedup_ngram_jaccard", "a26_hll_rollup", "emb_semdedup",
      "graph_copurchase_triangles", "graph_lpa_communities",
      "emb_kmeans_lloyd")
    val byName = SparkEntry.allQueries.map(q => q.name -> q).toMap
    def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
      f(p)
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
        case q: QueryStageExec => walk(q.plan)(f)
        case other => other.children.foreach(walk(_)(f))
      }
    }
    // Several heavies do their hot work in INTERNAL actions (MV refresh
    // jobs, CC rounds, k-means rounds) and return a cache/memo read —
    // auditing only the returned frame would miss the hot stages. So
    // capture EVERY QueryExecution the query triggers, profiler-style,
    // and audit them all.
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        captured.add(qe)
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val failures = heavies.flatMap { name =>
      captured.clear()
      spark.listenerManager.register(listener)
      val df = try {
        val df = byName(name).run(spark, dir)
        // collect() executes THIS df's QueryExecution, so AQE finalizes
        // in place (a noop write would execute a separate command
        // QueryExecution and leave this one un-finalized)
        df.collect()
        org.apache.spark.GraftCoreShim.flushListeners(spark.sparkContext)
        // the ExecutionListenerBus hop lands asynchronously after the
        // flush — wait for the capture count to go stable
        var last = -1; var stable = 0
        while (stable < 5) {
          val n = captured.size
          if (n == last) stable += 1 else stable = 0
          last = n
          if (stable < 5) Thread.sleep(20)
        }
        df
      } finally spark.listenerManager.unregister(listener)
      var codegenSpans = 0
      val fallbacks = scala.collection.mutable.ArrayBuffer[String]()
      val plans = captured.toArray(Array.empty[
        org.apache.spark.sql.execution.QueryExecution])
        .map(_.executedPlan) :+ df.queryExecution.executedPlan
      plans.foreach(walk(_) {
        case _: WholeStageCodegenExec => codegenSpans += 1
        case _: ObjectHashAggregateExec => () // typed sketch aggs: exempt
        case node =>
          node.expressions.foreach(_.foreach {
            case e: CodegenFallback =>
              fallbacks += s"${node.nodeName}:${e.prettyName}"
            case _ => ()
          })
      })
      df.unpersist()
      val errs = scala.collection.mutable.ArrayBuffer[String]()
      if (codegenSpans == 0) errs += s"$name: no WholeStageCodegen span"
      if (fallbacks.nonEmpty)
        errs += s"$name: CodegenFallback at ${fallbacks.distinct.take(5).mkString(", ")}"
      errs
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("partition-less windows: every unpartitioned WindowExec sits on a bounded frame") {
    // A window with no PARTITION BY serializes through ONE task — fine
    // on a frame bounded by a limit or a metadata-cardinality aggregate,
    // a silent single-task bottleneck on anything that grows with the
    // corpus (the r11 bench log's `WindowExec: No Partition Defined`
    // warnings all traced to bounded frames BY READING; this makes that
    // true BY TEST, so the next bounded-looking frame that grows 100×
    // is loud). Two layers: (1) the offender set must be exactly the
    // reviewed whitelist — any NEW unpartitioned window anywhere fails
    // here and must be justified; (2) every whitelisted window except
    // w10's deliberate semantics pin must be STRUCTURALLY bounded — a
    // limit or aggregate in its child subtree (cached builds included).
    // query -> why its unpartitioned window is safe (reviewed r12).
    // ExactQuantiles entries look partition-less because their constant
    // stratum column folds out of the partition spec; the frame under
    // them is per-entity AGGREGATES with a documented swap to
    // approx_percentile / PrefixSum at billion-entity scale.
    val whitelist: Map[String, String] = Map(
      "w10_rank_variants" -> ("deliberate semantics pin of the dimension-sized " +
        "window family; corpus-scale twin is w11_scalable_ranks via PrefixSum"),
      "a29_daily_anomalies" -> "day-level aggregate frame (rows = days in range)",
      "a30_new_vs_returning" -> "day-level aggregate frame (rows = days in range)",
      "a32_conversion_latency" -> ("ExactQuantiles over per-user latency " +
        "aggregates, one constant stratum (see operator scaladoc)"),
      "rfm_segments" -> ("ExactQuantiles threshold stage over per-customer " +
        "aggregates; query scaladoc documents the billion-customer swap"),
      "corpus_vocab" -> "vocab rank after limit(VocabK)",
      "corpus_token_ids" -> "embeds the corpus_vocab stage: rank after limit(VocabK)",
      "corpus_training_tokens" -> "embeds the corpus_vocab stage: rank after limit(VocabK)",
      "rag_hybrid_topk" -> "RRF ranks over top-K-limited retrieval pools",
      "mix_dsir_sample" -> "sample rank after limit(DsirK)",
      "stats_key_skew" -> ("cumulative sum over the multiplicity histogram " +
        "(rows = distinct multiplicities, metadata-sized)"))
    // (boundedness per unpartitioned WindowExec comes from the shared
    // `sweep` — one q.run per query across all the all-queries tests)
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.allQueries.foreach { q =>
      val unpartitioned = sweep(q.name).physBare
      if (unpartitioned.nonEmpty) {
        if (!whitelist.contains(q.name))
          offenders += s"${q.name}: unpartitioned window NOT whitelisted"
        else if (q.name != "w10_rank_variants" && !unpartitioned.forall(identity))
          offenders += s"${q.name}: whitelisted but child subtree has no limit/aggregate bound"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("full query sweep leaves no persisted storage behind") {
    // The round-5 bench showed cross-query pollution: unreleased
    // checkpoint/persist blocks from earlier queries inflated
    // dedup_clusters 4.0s→12.8s and v_validated_sales 3.4s→8.3s
    // in-suite. The contract: every query releases its internal
    // persists/checkpoints once its result materializes, and the
    // harness's plain unpersist() on the returned frame frees the rest.
    // This pins that contract across the WHOLE registered set, so a new
    // query (or a refactor of an old one) that strands storage fails
    // here instead of distorting the next bench round.
    // The execution pass lives in the shared `sweep` (each query is
    // planned, MATERIALIZED via count and released there, exactly the
    // old loop); the SharedFrames memo entries (deliberate long-lived
    // caches with an explicit releaseAll()) are subtracted inside the
    // sweep's before/after storage counts so only UNACCOUNTED storage
    // reads as a leak.
    sweep // force the execution pass (no-op if another test ran first)
    val (baseline, after) = sweepLeak.get
    assert(after <= baseline,
      s"query sweep leaked persistent RDDs: baseline $baseline unaccounted, " +
        s"now $after (total ${spark.sparkContext.getPersistentRDDs.size}, " +
        s"shared ${graft.SharedFrames.entryCount})")
  }
}
