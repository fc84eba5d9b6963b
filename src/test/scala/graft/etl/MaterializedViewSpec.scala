package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Incremental materialized-view maintenance: the invariant under test
  * is REFRESH(batches) == FULL REBUILD(all rows) — including the two
  * hard cases (late-arriving older version must lose; a winner turning
  * soft-deleted must VANISH from the view) — plus the scale contract
  * that a refresh rewrites only the buckets its batch touches. */
class MaterializedViewSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  // (id, version, soft_deleted, payload)
  private def rows(rs: (Long, Long, Boolean, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rs.toDF("id", "version", "deleted", "payload")
  }

  private def derive(state: DataFrame): DataFrame =
    state.filter(!col("deleted"))
      .select(col("id"), col("payload"), (col("version") * 10).as("derived"))

  private def mk(nBuckets: Int = 8) = {
    val root = Files.createTempDirectory("graft_mv").toString
    (root, new MaterializedView(root, Seq("id"),
      Seq(col("version").desc), derive, nBuckets))
  }

  private def viewMap(mv: MaterializedView): Map[Long, (String, Long)] =
    mv.view(spark).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

  /** A built two-sided view and one changing batch per side, for the
    * refresh-chain pins: `(entry point, refresh)`. */
  private def twoSidedRefreshes(): Seq[(String, () => Unit)] = {
    val s = spark; import s.implicits._
    val av = new AggregateView(Files.createTempDirectory("graft_mv_av").toString,
      Seq("id"), dimKeys = Seq("id"), dimOrder = Seq(col("dversion").desc),
      factKeys = Seq("fid"), factOrder = Seq(col("fversion").desc),
      (d, f) => d.join(f.groupBy("id").agg(sum("amount").as("total")), Seq("id"), "left"),
      nBuckets = 8)
    av.build(Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("id", "dversion", "name"),
      Seq((10L, 1L, 1L, 5L)).toDF("fid", "id", "fversion", "amount"))
    Seq(
      "refreshFacts" -> (() => av.refreshFacts(
        Seq((11L, 2L, 1L, 7L)).toDF("fid", "id", "fversion", "amount"))),
      "refreshDims" -> (() => av.refreshDims(
        Seq((1L, 2L, "a2")).toDF("id", "dversion", "name"))))
  }

  test("refresh equals full rebuild across newer, older and unseen keys") {
    val base = rows((1L, 1L, false, "a1"), (2L, 5L, false, "b5"), (3L, 2L, false, "c2"))
    val batch = rows(
      (1L, 9L, false, "a9"),  // newer version wins
      (2L, 3L, false, "b3"),  // LATE older version must lose to stored b5
      (7L, 1L, false, "g1"))  // brand-new key
    // an EMPTY build writes no state files at all: only the schema
    // line of the store's manifest keeps it readable and refreshable
    for (b <- Seq(base, base.limit(0))) {
      val (_, mv) = mk()
      mv.build(b)
      mv.refresh(batch)
      if (b eq base) assert(viewMap(mv) == Map(
        1L -> ("a9", 90L), 2L -> ("b5", 50L), 3L -> ("c2", 20L), 7L -> ("g1", 10L)))

      val (_, full) = mk()
      full.build(b.unionByName(batch))
      assert(viewMap(mv) == viewMap(full))
    }
  }

  test("a state write that fails between two bucket commits leaves the whole old state") {
    // the second bucket directory moved into the state store fails: a
    // commit that replaces buckets one at a time loses that bucket's old
    // keys; a publish behind one manifest swap keeps every bucket old
    val dir = Files.createTempDirectory("graft_mv_torn").toString
    graft.Refusing.install(spark.sparkContext.hadoopConfiguration)
    val mv = new MaterializedView(graft.Refusing.path(dir), Seq("id"),
      Seq(col("version").desc), derive, nBuckets = 4)
    val base = rows((1L to 12L).map(i => (i, 1L, false, s"p$i")): _*)
    val batch = rows((1L to 12L by 3).map(i => (i, 2L, false, s"q$i")): _*)
    def sortedRows(d: DataFrame): Seq[String] = d.collect().map(_.toString).sorted.toSeq
    // fixture: the batch spans >= 2 buckets, each also holding keys the
    // batch does not touch
    val bucketOf = base.select(col("id"), pmod(xxhash64(col("id")), lit(4L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchIds = (1L to 12L by 3).toSet
    val hit = batchIds.map(bucketOf)
    assert(hit.size >= 2 && hit.forall(b => bucketOf.exists { case (k, kb) =>
      kb == b && !batchIds(k) }), s"fixture buckets: $bucketOf")
    mv.build(base)
    val before = sortedRows(mv.state(spark))
    graft.Refusing.refusingSecondBucketRename(s"$dir/state") {
      intercept[Exception](mv.refresh(batch))
    }
    assert(sortedRows(mv.state(spark)) == before,
      "a failed state write must leave the pre-refresh state, every bucket")
    // replayed once the fault clears: view and state converge
    mv.refresh(batch)
    val (_, full) = mk(nBuckets = 4)
    full.build(base.unionByName(batch))
    assert(sortedRows(mv.view(spark)) == sortedRows(full.view(spark)))
    assert(sortedRows(mv.state(spark)) == sortedRows(full.state(spark)))
  }

  test("state writes stay one-file-per-bucket through build and refresh") {
    // The bounded-files-per-bucket layout is a load-bearing contract
    // (small-file explosion compounds per refresh at 100 TB) and it is
    // EASY to lose silently: the fold's output clustering must survive
    // whatever physical shape the dedup-window rewrite picks (the
    // all-DESC orders every MV uses make the rewrite fire) plus the
    // r12 flag joins and checkpoint. Pin it on disk, not by reading
    // plans: every bucket directory of the state store's generations
    // holds exactly ONE parquet file after a build and after a refresh.
    def bucketFiles(root: String): Map[String, Int] =
      new java.io.File(s"$root/state").listFiles().filter(_.getName.startsWith("gen="))
        .flatMap(g => g.listFiles().filter(_.getName.startsWith("__mv_bucket="))
          .map(b => s"${g.getName}/${b.getName}" ->
            b.listFiles().count(_.getName.endsWith(".parquet"))))
        .toMap
    val (root, mv) = mk()
    // 40 versioned rows over 12 keys: several versions per key, keys
    // spread over several buckets
    mv.build(rows((1L to 40L).map(i =>
      (i % 12, i, false, s"p$i")): _*))
    val afterBuild = bucketFiles(root)
    assert(afterBuild.nonEmpty && afterBuild.values.forall(_ == 1),
      s"build left multi-file buckets: $afterBuild")
    mv.refresh(rows((3L, 99L, false, "r1"), (7L, 99L, false, "r2")))
    val afterRefresh = bucketFiles(root)
    assert(afterRefresh.values.forall(_ == 1),
      s"refresh left multi-file buckets: $afterRefresh")
  }

  test("refresh bucket probes ride the checkpoint jobs' observe metrics, no fallback") {
    // The r12 fusion removed the separate bucket-id collect jobs by
    // riding observed bucket-bitmask metrics on the batch and fold
    // checkpoints. The distinct+collect fallback stays correct but
    // re-costs every refresh — if Spark ever stops delivering metrics
    // through localCheckpoint's QueryExecution, fail HERE, loudly
    // (ConnectedComponents' probeFallbacks doctrine).
    val (_, mv) = mk()
    mv.build(rows((1L, 1L, false, "a1"), (2L, 1L, false, "b1")))
    val twoSided = twoSidedRefreshes()
    val before = BucketedView.probeFallbacks.get()
    mv.refresh(rows((1L, 2L, false, "a2"), (9L, 1L, false, "j1")))
    assert(viewMap(mv) == Map(1L -> ("a2", 20L), 2L -> ("b1", 10L), 9L -> ("j1", 10L)))
    twoSided.foreach { case (_, refresh) => refresh() }
    assert(BucketedView.probeFallbacks.get() == before,
      "refresh fell back to the distinct+collect bucket probe")
  }

  test("refresh runs exactly 4 jobs: batch ckpt, fold ckpt, publish, state write") {
    // The r12 fusion's perf win IS this job count — batch checkpoint
    // (with the observed bucket mask), fold+change-flag checkpoint,
    // generation publish, dynamic-partition state write. Nothing else
    // stops a future edit from silently reintroducing the
    // distinct+collect probe jobs or a fifth stage, so the shape is
    // pinned by counting jobs through a listener around one refresh of
    // a ≤64-bucket (maskable) store.
    val (_, mv) = mk()
    mv.build(rows((1L, 1L, false, "a1"), (2L, 1L, false, "b1")))
    // the two-sided entry points run the same chain
    val shapes = ("refresh", () => mv.refresh(rows((1L, 2L, false, "a2"), (9L, 1L, false, "j1")))) +:
      twoSidedRefreshes()
    for ((shape, refresh) <- shapes) {
      // one STAGE of the refresh = one SQL execution id (AQE fans an
      // execution out into several scheduler jobs, so raw job counts are
      // plan-shape noise); bare RDD jobs without an execution id are
      // allowed ONLY for parquet footer reads (read-side schema
      // inference on the state scan — metadata, not a refresh stage)
      val execs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val bare = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))) match {
            case Some(id) => execs.add(id)
            case None =>
              bare.add(s"job-${js.jobId}:" +
                js.stageInfos.map(_.name).mkString("|").take(120))
          }
      }
      val before = BucketedView.probeFallbacks.get()
      spark.sparkContext.addSparkListener(listener)
      try {
        refresh()
        org.apache.spark.GraftCoreShim.flushListeners(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(BucketedView.probeFallbacks.get() == before,
        "a probe fell off the observe metrics — execution count below is stale")
      assert(execs.size == 4,
        s"$shape ran ${execs.size} executions; the pinned shape is 4 " +
          "(batch ckpt, fold ckpt, publish, state write)")
      import scala.jdk.CollectionConverters._
      assert(bare.asScala.forall(_.contains("parquet at")),
        s"unexpected bare RDD job (a probe job returned?): $bare")
    }
  }

  /** Runs `body` under a listener; returns, per job description, the
    * number of scheduler jobs and the task count of every stage that ran. */
  private def jobsByLabel(body: => Unit): Map[String, (Int, Seq[Int])] = {
    import scala.jdk.CollectionConverters._
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val stageLabel = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val label = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs.put(js.jobId, label)
        js.stageIds.foreach(stageLabel.put(_, label))
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stageTasks.put(sc.stageInfo.stageId, sc.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.GraftCoreShim.flushListeners(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    val tasks = stageTasks.asScala.toSeq.groupBy { case (st, _) => stageLabel.get(st) }
    jobs.asScala.values.groupBy(identity).map { case (label, js) =>
      label -> (js.size, tasks.getOrElse(label, Seq.empty).map(_._2))
    }
  }

  test("fold+flag runs at most 2 scheduler jobs: one exchange, no broadcast probes") {
    // the fold and the change flag share one bucket exchange and one
    // window pass; each broadcast probe the flag once joined against was
    // a job of its own (6 per fold+flag before the fusion)
    val (_, mv) = mk()
    mv.build(rows((1L, 1L, false, "a1"), (2L, 1L, false, "b1")))
    val shapes = ("mv", () => mv.refresh(rows((1L, 2L, false, "a2"), (9L, 1L, false, "j1")))) +:
      twoSidedRefreshes().map { case (_, r) => ("av", r) }
    for ((phase, refresh) <- shapes) {
      val fold = jobsByLabel(refresh()).get(s"$phase:refresh fold+flag").map(_._1)
      assert(fold.exists(n => n >= 1 && n <= 2),
        s"$phase fold+flag ran ${fold.getOrElse(0)} jobs; the ceiling is 2")
    }
  }

  test("a small multi-bucket refresh writes with fewer tasks than buckets, one file per bucket") {
    // the refresh exchanges are sized by data, not pinned to nBuckets:
    // a CDC batch that fits one task is written by one task, and AQE's
    // coalescing keeps each bucket inside a single task, so every
    // rewritten bucket partition still holds exactly one file. Given a
    // store root, it lists the newest generation: the buckets the last
    // publish rewrote
    def bucketFiles(dir: String): Map[String, Int] = {
      val d = new java.io.File(dir)
      val gens = d.listFiles().filter(_.getName.startsWith("gen="))
      (if (gens.isEmpty) d else gens.maxBy(_.getName.drop(4).toLong)).listFiles()
        .filter(_.getName.startsWith("__mv_bucket="))
        .map(b => b.getName -> b.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    }
    val (root, mv) = mk(nBuckets = 8)
    mv.build(rows((1L to 40L).map(i => (i % 12, i, false, s"p$i")): _*))
    val byLabel = jobsByLabel(
      mv.refresh(rows((0L until 12L).map(k => (k, 99L, false, s"r$k")): _*)))
    val rewritten = bucketFiles(s"$root/state")
    assert(rewritten.size >= 3, s"fixture should span several buckets: $rewritten")
    for (label <- Seq("mv:refresh derive+publish", "mv:refresh state-write")) {
      val tasks = byLabel.get(label).map(_._2).getOrElse(Seq.empty)
      assert(tasks.nonEmpty && tasks.forall(_ < rewritten.size),
        s"$label ran stages of $tasks tasks for ${rewritten.size} buckets")
    }
    assert(rewritten.values.forall(_ == 1), s"state left multi-file buckets: $rewritten")
    val gens = new java.io.File(s"$root/view").listFiles().filter(_.isDirectory)
      .flatMap(g => bucketFiles(g.getPath).values)
    assert(gens.nonEmpty && gens.forall(_ == 1), "a view generation left multi-file buckets")
    assert(viewMap(mv) == (0L until 12L).map(k => k -> (s"r$k", 990L)).toMap)
  }

  test("a winner turning soft-deleted disappears from the view (even emptying its bucket)") {
    // nBuckets=1: every key shares one bucket, so the delete case also
    // exercises partition replacement when rows remain; the second mv
    // (key alone in the store) exercises the bucket-goes-EMPTY case
    // that dynamic partition overwrite would silently miss.
    val (_, mv) = mk(nBuckets = 1)
    mv.build(rows((1L, 1L, false, "a1"), (2L, 1L, false, "b1")))
    mv.refresh(rows((1L, 2L, true, "a2")))
    assert(viewMap(mv) == Map(2L -> ("b1", 10L)))

    val (_, lone) = mk(nBuckets = 1)
    lone.build(rows((5L, 1L, false, "e1")))
    lone.refresh(rows((5L, 2L, true, "e2")))
    assert(viewMap(lone) == Map.empty)
    // state still remembers the deleted winner: an older resurfacing
    // version must NOT resurrect the row
    lone.refresh(rows((5L, 1L, false, "e1")))
    assert(viewMap(lone) == Map.empty)
  }

  test("randomized batch splits: any refresh sequence equals the full rebuild, both derive scopes") {
    // Adversarial coverage for the refresh fast paths (batch-key-scoped
    // change compare, fused clustered fold, no-op skip): random rows
    // over a small key pool — so batches are full of late-arriving
    // losers, duplicate keys, NULL keys and soft-deletes — split into
    // build + 2 CDC batches, replayed under BOTH derive scopes
    // (whole-bucket and key-scoped). Invariant: published view AND
    // retained state equal the single-shot full rebuild, row for row.
    val s = spark
    import s.implicits._
    def df(rs: Seq[(Option[Long], Long, Boolean, String)]): DataFrame =
      rs.toDF("id", "version", "deleted", "payload")
    def sortedRows(d: DataFrame): Seq[String] =
      d.collect().map(_.toString).sorted.toSeq
    for (seed <- Seq(7, 42);
         scope <- Seq(BucketedView.DefaultKeyScopeMinStateBytes, 0L)) {
      val rnd = new scala.util.Random(seed)
      // globally-unique versions keep the order total (ties would make
      // rank-1 engine-arbitrary and the equality vacuous-by-luck)
      val all = (1 to 90).map { i =>
        val id = if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(12).toLong)
        (id, i.toLong, rnd.nextInt(4) == 0, s"p$i")
      }
      val split = all.groupBy(_ => rnd.nextInt(3))
      val (b0, b1, b2) =
        (split.getOrElse(0, Seq.empty), split.getOrElse(1, Seq.empty),
          split.getOrElse(2, Seq.empty))
      def mkScoped() = new MaterializedView(
        Files.createTempDirectory("graft_mv_rand").toString, Seq("id"),
        Seq(col("version").desc), derive, nBuckets = 4,
        keyScopeMinStateBytes = scope)
      val inc = mkScoped()
      inc.build(df(b0))
      inc.refresh(df(b1))
      inc.refresh(df(b2))
      inc.refresh(df(b2)) // replayed batch: must be a published no-op
      val full = mkScoped()
      full.build(df(all))
      assert(sortedRows(inc.view(s)) == sortedRows(full.view(s)),
        s"view diverged (seed=$seed scope=$scope)")
      assert(sortedRows(inc.state(s)) == sortedRows(full.state(s)),
        s"state diverged (seed=$seed scope=$scope)")
    }
  }

  // ---- key-scoped derive path (keyScopeMinStateBytes = 0 forces it;
  // the default threshold keeps small stores on the whole-bucket path,
  // so these specs are the scoped path's only exercise) ----

  test("key-scoped refresh equals full rebuild and derives ONLY the changed keys") {
    val root = Files.createTempDirectory("graft_mv_ks").toString
    var deriveKeys: Set[Long] = Set.empty
    val mv = new MaterializedView(root, Seq("id"), Seq(col("version").desc),
      st => {
        // runs while the scoped input (checkpointed changed rows) is live
        deriveKeys = st.select("id").collect().map(_.getLong(0)).toSet
        derive(st)
      },
      nBuckets = 2, keyScopeMinStateBytes = 0L)
    mv.build(rows((1L, 1L, false, "a1"), (2L, 5L, false, "b5"),
      (3L, 2L, false, "c2"), (4L, 1L, false, "d1")))
    mv.refresh(rows(
      (1L, 9L, false, "a9"),  // newer version: changed
      (2L, 3L, false, "b3"),  // late older version: loses, NOT a changed key
      (7L, 1L, false, "g1"))) // new key: changed
    assert(deriveKeys == Set(1L, 7L),
      s"scoped derive saw unchanged keys: $deriveKeys")
    // unchanged keys sharing the republished buckets carried forward
    assert(viewMap(mv) == Map(
      1L -> ("a9", 90L), 2L -> ("b5", 50L), 3L -> ("c2", 20L),
      4L -> ("d1", 10L), 7L -> ("g1", 10L)))
    val (_, full) = mk()
    full.build(rows((1L, 9L, false, "a9"), (2L, 5L, false, "b5"),
      (3L, 2L, false, "c2"), (4L, 1L, false, "d1"), (7L, 1L, false, "g1")))
    assert(viewMap(mv) == viewMap(full))
  }

  test("key-scoped: soft-deleted winner vanishes while bucket-mates carry forward") {
    val root = Files.createTempDirectory("graft_mv_ks_del").toString
    val mv = new MaterializedView(root, Seq("id"), Seq(col("version").desc),
      derive, nBuckets = 1, keyScopeMinStateBytes = 0L)
    mv.build(rows((1L, 1L, false, "a1"), (2L, 1L, false, "b1")))
    mv.refresh(rows((1L, 2L, true, "a2")))
    // key 1's new winner is deleted → derive emits nothing for it; the
    // carry-forward must keep key 2 and must NOT resurrect key 1's old row
    assert(viewMap(mv) == Map(2L -> ("b1", 10L)))
    // replayed batch: no change → no publish (no-op precedes scoping)
    val vs = mv.viewVersions(spark)
    mv.refresh(rows((1L, 2L, true, "a2")))
    assert(mv.viewVersions(spark) == vs)
  }

  test("key-scoped: NULL keys fold, scope and carry forward null-safely") {
    val s = spark; import s.implicits._
    def nrows(rs: (Option[Long], Long, Boolean, String)*): DataFrame =
      rs.toDF("id", "version", "deleted", "payload")
    val root = Files.createTempDirectory("graft_mv_ks_null").toString
    val mv = new MaterializedView(root, Seq("id"), Seq(col("version").desc),
      derive, nBuckets = 1, keyScopeMinStateBytes = 0L)
    mv.build(nrows((Some(1L), 1L, false, "a1"), (None, 1L, false, "n1")))
    // the NULL key gets a newer version; key 1 is untouched and must
    // survive the anti join's null-safe equality (a plain equi-join
    // would drop or duplicate the null-key row)
    mv.refresh(nrows((None, 2L, false, "n2")))
    val got = mv.view(spark).collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) ->
        (r.getString(1), r.getLong(2))).toMap
    assert(got == Map(Some(1L) -> ("a1", 10L), None -> ("n2", 20L)))
  }

  test("null-safe key semi/anti joins plan as hash joins, never nested loops") {
    // the key-scoped path's scaladoc claim, pinned: EqualNullSafe
    // extracts as a hash join key (coalesce+isnull), so the scope/
    // carry-forward joins stay O(n) hash joins — a planner regression
    // to BroadcastNestedLoopJoin would be quadratic in bucket size
    val s = spark; import s.implicits._
    val df = Seq((Some(1L), "a"), (None: Option[Long], "n")).toDF("id", "v")
    val keysDf = Seq(Some(1L), (None: Option[Long])).toDF("id")
    for (j <- Seq(BucketedView.semiOnKeys(df, keysDf, Seq("id")),
                  BucketedView.antiOnKeys(df, keysDf, Seq("id")))) {
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
        s"null-safe key join fell off the hash path:\n$plan")
      assert(plan.contains("HashJoin"), s"expected a hash join:\n$plan")
    }
    // and the null key matches null-safely (semi keeps it, anti drops it)
    assert(BucketedView.semiOnKeys(df, keysDf, Seq("id")).count() == 2)
    assert(BucketedView.antiOnKeys(df, keysDf, Seq("id")).count() == 0)
  }

  test("refresh leaves untouched bucket partitions byte-identical") {
    val (root, mv) = mk(nBuckets = 64)
    mv.build(rows((1L to 40L).map(i => (i, 1L, false, s"p$i")): _*))
    def snapshot(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(root))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = snapshot()
    mv.refresh(rows((1L, 2L, false, "p1v2")))
    val after = snapshot()
    // the single-key batch touches exactly one bucket; every parquet
    // file in any OTHER bucket dir must survive untouched
    val bucketOf1 = before.keySet.map(_.replaceAll(".*__mv_bucket=([0-9]+).*", "$1"))
    assert(bucketOf1.size > 1, "fixture should span several buckets")
    val touched = after.keySet.diff(before.keySet) ++ before.keySet.diff(after.keySet)
    val touchedBuckets = touched.map(_.replaceAll(".*__mv_bucket=([0-9]+).*", "$1"))
    assert(touchedBuckets.size <= 2, // one state bucket + one view bucket
      s"refresh touched more than the batch's bucket: $touchedBuckets")
    val untouched = before.keySet.intersect(after.keySet)
    assert(untouched.forall(p => before(p) == after(p)),
      "an untouched partition's file was rewritten")
    // and the refreshed content is correct
    assert(viewMap(mv)(1L) == ("p1v2", 20L))
  }

  test("aggregate-first eligibility mirrors the dedup rewrite's fire conditions") {
    val s = spark; import s.implicits._
    val plain = Seq((1L, 2L, "a")).toDF("id", "version", "payload")
    val withMap = plain.withColumn("attrs",
      map(lit("k"), col("payload")))
    // the standard MV order (all-desc, default nulls) over an orderable
    // schema qualifies; any disqualifier must flip the heuristic to the
    // fused-fold fallback (perf-only — pinned so a regression is loud)
    assert(BucketedView.aggregateFirstEligible(plain, Seq(col("version").desc)))
    assert(BucketedView.aggregateFirstEligible(plain,
      Seq(col("version").asc, col("payload").asc)))
    assert(!BucketedView.aggregateFirstEligible(plain,
      Seq(col("version").desc, col("payload").asc)), "mixed directions")
    assert(!BucketedView.aggregateFirstEligible(plain,
      Seq(col("version").desc_nulls_first)), "non-default null ordering")
    assert(!BucketedView.aggregateFirstEligible(withMap,
      Seq(col("version").desc)), "map payload is not orderable as a struct")
  }

  test("a map-payload view builds and refreshes through the fused-fold fallback") {
    // map columns disqualify the aggregate-first build shape (the packed
    // struct would be unorderable); the fallback fold must still produce
    // a correct store end-to-end, refresh included
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory("graft_mv_map").toString
    val mv = new MaterializedView(root, Seq("id"), Seq(col("version").desc),
      st => st.select(col("id"), map_values(col("attrs"))(0).as("payload")),
      nBuckets = 8)
    def rws(rs: (Long, Long, String)*) =
      rs.toDF("id", "version", "p")
        .select(col("id"), col("version"), map(lit("k"), col("p")).as("attrs"))
    mv.build(rws((1L, 1L, "a1"), (2L, 1L, "b1")))
    mv.refresh(rws((1L, 2L, "a2"), (3L, 1L, "c1")))
    val got = mv.view(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a2", 2L -> "b1", 3L -> "c1"))
  }
}
