package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** The incremental bucketed-state view engine: one or more keyed,
  * latest-version-wins STATE sides feeding one published VIEW, kept
  * fresh by CDC batches that read and rewrite only the hash buckets they
  * touch — the piece that makes the reference's nightly full-view
  * recompute (`sql/customer_360_views.sql`) survive 100 TB.
  * [[MaterializedView]] fixes one side, [[AggregateView]] two.
  *
  * Every store is a [[GenerationStore]] bucketed by the same
  * `__mv_bucket = pmod(xxhash64(bucketKeys), nBuckets)`: rewritten
  * buckets land in an immutable new generation and one atomic manifest
  * swap publishes them, so a concurrent reader (or a crash anywhere)
  * sees a complete old-or-new store, and a bucket whose rows all
  * disappear publishes that emptiness too.
  *
  *   - STATE, per side (`$root/<side.dir>`, one retained version) — the
  *     latest source row per side key, BEFORE any view filter (a key
  *     whose winner fails the view's gate must keep that winner, or an
  *     older resurfacing row would wrongly win the next refresh).
  *     Latest-per-key is associative, so (state ∪ batch) → latest is
  *     exactly (full history) → latest: the base table is never read
  *     again after the build. A store read resolves leaf bucket
  *     directories, so it re-adds the bucket column with the write's
  *     own expression — sound by the second precondition below.
  *   - VIEW (`$root/view`) — `derive(states)`. Deletes fall out: a
  *     winner turning soft-deleted drops out of `derive`, no tombstones.
  *
  * Preconditions, each load-bearing at 100 TB:
  *
  *   - `derive` is BUCKET-CLOSED on `bucketKeys`: every join,
  *     aggregation or window key inside it functionally determines
  *     `bucketKeys`, and its output keeps the `bucketKeys` columns
  *     unrenamed. A bucket's view rows then depend only on that bucket's
  *     state (per-bucket refresh == full rebuild), and each view row on
  *     one `bucketKeys` value (the key-scoped path below). With one side
  *     and `bucketKeys == keys` this is per-key locality: a derive that
  *     reads bucket-mates passes small tests and diverges past the
  *     key-scope threshold.
  *   - every version of a side's key carries the SAME `bucketKeys` value
  *     (a deal never moves between customers; re-keying arrives as
  *     delete + insert). True by construction when `bucketKeys ⊆ keys`.
  *   - each side's `order` is a TOTAL order (unique tiebreaker) matching
  *     the view's own rank order: rank-1 under ties is engine-arbitrary.
  *   - batches arrive pre-filtered by any predicate the view applies
  *     BEFORE its rank (filter-then-latest is associative across
  *     batches; latest-then-filter is not).
  *
  * SINGLE WRITER, enforced: build and every refresh serialize on a
  * per-view lock (uncontended with one writer), so a dimension refresh
  * fired mid-stream interleaves between micro-batches instead of
  * racing one, and two refreshes of one view handed the same batch
  * concurrently ([[graft.streaming.Streams.maintainCycle]]) take the
  * lock in either order; any serial order converges.
  *
  * REFRESH (one side's batch), four SQL executions on a ≤64-bucket store:
  *
  *   1. batch checkpoint — the batch plan can be arbitrarily expensive
  *      and is read three times; its bucket ids ride the job as an
  *      observed bitmask metric ([[bucketMask]]), not a probe job.
  *   2. fold + flag — the side's dirty buckets (partition-pruned read)
  *      ∪ batch go through ONE bucket-clustered exchange and one window
  *      pass over (bucket, keys) that picks each key's winner and flags
  *      it changed against the old row's map-safe JSON fingerprint
  *      ([[foldFlagged]]: no probe joins, so no broadcast jobs); the
  *      changed bucket ids ride the checkpoint that also severs lineage
  *      before the read-overwrite.
  *   3. derive + publish — only CHANGED buckets; a bucket whose fold is
  *      byte-identical is skipped, so a replayed batch publishes NO
  *      generation (the idempotence at-least-once delivery relies on).
  *   4. state write — the changed buckets' new state, staged into the
  *      side's store as one generation ([[GenerationStore.stage]]) on a
  *      second thread WHILE step 3 runs: both read only the fold+flag
  *      checkpoint and stores the other never writes. Its manifest swap
  *      waits for step 3's swap.
  *
  * CRASH CONTRACT — publish BEFORE the state write. The no-op skip keys
  * off the state fold, so the state write must be the last durable
  * step: a crash anywhere leaves state old, and replaying the batch
  * re-detects the change, re-publishes idempotently and completes the
  * state write (state-first plus the skip made a crash between the two
  * skip the publish forever). A store's durable step is its manifest
  * swap, not its generation write, so staging the state early keeps the
  * order: the state swap runs only after the view's swap and
  * [[onAfterPublish]], and a staged generation never swapped (the view
  * publish failed) is a crashed partial write the next state publish's
  * GC collects. The state write is all-or-nothing across its buckets (a
  * crash before its manifest swap leaves every bucket old): no torn
  * multi-bucket state. The mirror window — view published, state not
  * yet swapped — is closed by any later replay of the crashed batch
  * (latest-version-wins). The fold+flag checkpoint materializes every
  * read of the old state first, so the state publish's GC never removes
  * files a pending plan still reads.
  *
  * COST-BASED derive scope, chosen by the dirty buckets' on-disk state
  * size over every side (an FS-metadata probe, zero jobs): below
  * `keyScopeMinStateBytes` whole dirty buckets are re-derived; at or
  * above it every side is semi-joined to the changed rows' `bucketKeys`
  * values and the rest of each republished bucket carries forward from
  * the served generation (anti join on `bucketKeys`) — a 10-row batch
  * against terabyte buckets re-derives 10 keys. The scoped path's extra
  * stages cost more than they save on small buckets (measured at sf0.1),
  * hence the threshold. Fold and state write stay whole-bucket either
  * way: state IO is O(dirty buckets) regardless. */
abstract class BucketedView private[etl] (
    root: String,
    bucketKeys: Seq[String],
    sides: Seq[BucketedView.Side],
    derive: Seq[DataFrame] => DataFrame,
    nBuckets: Int,
    keepVersions: Int,
    keyScopeMinStateBytes: Long) {
  import BucketedView._

  private val bucketCol = "__mv_bucket"
  // JobLabel prefix of every phase: `mv:` one-sided, `av:` two-sided
  private val phase = if (sides.size == 1) "mv" else "av"

  /** Atomic manifest-mediated publish of the served view (exposed to
    * the catalog and the crash/concurrency specs). */
  private[graft] val store = new GenerationStore(s"$root/view", bucketCol, keepVersions)

  /** Each side's latest-row-per-key state, one retained version
    * (exposed to the crash-order specs). */
  private[graft] val stateStores = sides.map(s => new GenerationStore(s"$root/${s.dir}", bucketCol))

  /** Test hook: runs between the view publish and the state swap —
    * the mirror crash window of the publish-first ordering. */
  private[graft] var onAfterPublish: () => Unit = () => ()

  private val writerLock = new java.util.concurrent.locks.ReentrantLock()

  private def withWriterLock[T](body: => T): T = {
    writerLock.lock()
    try body finally writerLock.unlock()
  }

  /** Committed snapshot versions readable right now ([[viewAt]]),
    * bounded by `keepVersions`. */
  def viewVersions(spark: SparkSession): Seq[Long] = store.versions(spark)

  /** SNAPSHOT READ: the view exactly as committed version `v` served it
    * (None once aged past `keepVersions`). */
  def viewAt(spark: SparkSession, v: Long): Option[DataFrame] =
    store.readVersion(spark, v)

  /** The published view (all buckets), resolved through the generation
    * manifest. A view never published or currently EMPTY has no parquet
    * files, so its schema comes from deriving over zero state rows. */
  def view(spark: SparkSession): DataFrame =
    store.read(spark).getOrElse(derive(sides.indices.map(sideState(spark, _).limit(0))))

  /** Side `side`'s latest-row-per-key state (only `buckets`' when given),
    * without the bucket column; an all-empty store reads as an empty
    * frame of its recorded schema. */
  protected def sideState(
      spark: SparkSession, side: Int, buckets: Option[Seq[Long]] = None): DataFrame = {
    val st = stateStores(side)
    buckets.fold(st.read(spark))(st.readBuckets(spark, _)).getOrElse(
      spark.createDataFrame(new java.util.ArrayList[Row](), st.schema(spark).getOrElse(
        throw new IllegalStateException(s"${st.root}: the view was never built"))))
  }

  private def withBucket(df: DataFrame): DataFrame =
    df.withColumn(bucketCol,
      pmod(xxhash64(bucketKeys.map(col): _*), lit(nBuckets.toLong)))

  /** Each bucket in exactly one task before a store publish (a
    * `partitionBy(bucket)` write): without it every shuffle task holds
    * rows of every bucket and each write emits up to tasks×buckets
    * files, a small-file explosion that compounds per refresh. The
    * exchange is hash-on-bucket with NO fixed count, so AQE sizes it by
    * data: coalescing merges whole hash partitions, so a task may hold
    * several buckets but a bucket never spans two tasks — still one file
    * per bucket, without paying `nBuckets` tasks (each deserializing the
    * writer) for a CDC batch that fits one. */
  private def clustered(df: DataFrame): DataFrame = df.repartition(col(bucketCol))

  /** Latest-per-key fold whose output is already bucket-clustered: one
    * data-sized exchange serves both the window and the state write
    * ([[Dedup.latestByKeyClustered]]; sound because the bucket is
    * constant within a key group, by the second precondition). The
    * clustering survives filter and localCheckpoint physically, so the
    * state write needs no second shuffle, and one bucket per task holds
    * as for [[clustered]]. */
  private def foldClustered(df: DataFrame, side: Side): DataFrame =
    Dedup.latestByKeyClustered(df, side.keys, side.order, bucketCol)

  /** Full initial build of every side's state and the whole view. Each
    * state publish (every bucket) IS its fold's materialization; the
    * derive then re-reads the states — a column-pruned scan of fresh
    * parquet, cheaper than holding full-width block copies across the
    * pass. Sides are independent jobs (disjoint inputs and stores),
    * submitted concurrently. */
  protected def build(sources: Seq[DataFrame]): Unit =
    withWriterLock { graft.plans.MvRewrite.withRuleDisabled {
      val spark = sources.head.sparkSession
      val writes = sides.zip(sources).zip(stateStores).map { case ((side, source), st) =>
        // BUILD-ONLY fold shape: the initial load is the high-version-
        // fanout case, where aggregating FIRST wins (the dedup rewrite's
        // map-side partial combine ships ~|keys| rows per mapper) and only
        // the survivors recluster for the write. That win needs
        // [[graft.plans.DedupWindowToMaxBy]] to fire; when the order
        // doesn't qualify, latestByKey would plan a window exchange PLUS
        // the recluster, so the fused fold is the fallback. Refresh folds
        // keep the fused shape: their input is mostly deduped state.
        val bucketed = withBucket(source)
        val folded =
          if (aggregateFirstEligible(bucketed, side.order))
            clustered(Dedup.latestByKey(bucketed, side.keys, side.order))
          else foldClustered(bucketed, side)
        // one label per side when there are several: `dims` → `dim-state-write`
        val label =
          if (sides.size == 1) "fold+state-write" else s"${side.dir.stripSuffix("s")}-state-write"
        // labels are thread-local: set inside the job body
        () => graft.JobLabel(spark, s"$phase:build $label") {
          st.publish(folded, 0L until nBuckets.toLong)
          ()
        }
      }
      runAll(s"$phase-build")(writes)
      graft.JobLabel(spark, s"$phase:build derive+publish") {
        store.publish(
          clustered(withBucket(derive(sides.indices.map(sideState(spark, _))))),
          0L until nBuckets.toLong)
      }
    } }

  /** Incremental refresh of side `side` from a CDC batch of its rows —
    * the protocol in the class doc. */
  protected def refresh(side: Int, batch: DataFrame): Unit =
    withWriterLock { graft.plans.MvRewrite.withRuleDisabled {
    val spark = batch.sparkSession
    val keys = sides(side).keys
    val mask = maskable(nBuckets)
    val bucketed = withBucket(batch)
    val observedBatch =
      if (mask) bucketed.observe("graft_mv_batch", bucketMask(bucketCol, lit(true)))
      else bucketed
    val (b, releaseB) = graft.JobLabel(spark, s"$phase:refresh batch-checkpoint") {
      graft.Lineage.checkpointed(observedBatch)
    }
    try {
    val buckets =
      (if (mask) observedBuckets(observedBatch, "graft_mv_batch") else None)
        .getOrElse(b.select(bucketCol).distinct().collect().map(_.getLong(0)).toSeq)
    if (buckets.isEmpty) return
    val keyScoped =
      stateStores.map(_.bucketBytes(spark, buckets)).sum >= keyScopeMinStateBytes
    val oldState = withBucket(sideState(spark, side, Some(buckets)))
    // resolved with the fold, BEFORE any write, while oldState's input
    // files are intact; the window pass keeps the fold's bucket
    // clustering intact to the state write
    val flagged0 = foldFlagged(oldState, b, keys, sides(side).order, bucketCol)
    val flagged =
      if (mask) flagged0.observe("graft_mv_changed", bucketMask(bucketCol, col(ChangedCol)))
      else flagged0
    val (flaggedCp, release) = graft.JobLabel(spark, s"$phase:refresh fold+flag") {
      graft.Lineage.checkpointed(flagged)
    }
    try {
      val newState = flaggedCp.drop(ChangedCol)
      val changedRows = flaggedCp.filter(col(ChangedCol)).drop(ChangedCol)
      val changed =
        (if (mask) observedBuckets(flagged, "graft_mv_changed") else None)
          .getOrElse(changedRows.select(bucketCol).distinct().collect().map(_.getLong(0)).toSeq)
      if (changed.isEmpty) return
      val newStateRows = newState.filter(col(bucketCol).isin(changed: _*))
      val inputs = sides.indices.map { i =>
        if (i == side) newStateRows.drop(bucketCol) else sideState(spark, i, Some(changed))
      }
      val newViewRows =
        if (!keyScoped) withBucket(derive(inputs))
        else {
          // re-derive only the changed `bucketKeys` values; the rest of
          // each republished bucket rides along from the served
          // generation, whose files a publish never mutates
          val changedAgg = changedRows.select(bucketKeys.map(col): _*).distinct()
          val derived = withBucket(derive(
            inputs.map(semiOnKeys(_, changedAgg, bucketKeys))))
          store.readBuckets(spark, changed)
            .map(v => derived.unionByName(withBucket(antiOnKeys(v, changedAgg, bucketKeys))))
            .getOrElse(derived)
        }
      // steps 3 and 4 overlap; the state swap is the last durable step
      var swapState: () => Long = null
      runAll(s"$phase-refresh")(Seq(
        () => swapState = graft.JobLabel(spark, s"$phase:refresh state-write") {
          stateStores(side).stage(newStateRows, changed)
        },
        () => {
          graft.JobLabel(spark, s"$phase:refresh derive+publish") {
            store.publish(clustered(newViewRows), changed)
          }
          onAfterPublish()
        }))
      swapState()
    } finally release()
    } finally releaseB()
  } }
}

object BucketedView {

  /** One keyed state side: its store directory under the view root, the
    * keys its latest-version-wins fold groups by, and that fold's total
    * version `order`. */
  final case class Side(dir: String, keys: Seq[String], order: Seq[Column])

  /** Run independent jobs, concurrently when there is more than one, on
    * threads named `graft-<name>-<i>`, and wait for ALL to complete
    * before rethrowing the first failure: a sibling outliving the call
    * would race what the caller does next (a catch-and-retry overwrite
    * of the same path, a state swap, a catalog commit). The engine's one
    * thread pool: build's side writes, a refresh's state stage and view
    * publish, and [[graft.streaming.Streams.maintainCycle]]'s member
    * refreshes. */
  private[graft] def runAll(name: String)(jobs: Seq[() => Unit]): Unit =
    if (jobs.size <= 1) jobs.foreach(_())
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      val ids = new java.util.concurrent.atomic.AtomicInteger
      val pool = java.util.concurrent.Executors.newFixedThreadPool(jobs.size,
        (r: Runnable) => new Thread(r, s"graft-$name-${ids.getAndIncrement()}"))
      try {
        val ec = ExecutionContext.fromExecutor(pool)
        val running = jobs.map(job => Future(job())(ec))
        running.foreach(Await.ready(_, scala.concurrent.duration.Duration.Inf))
        running.foreach(_.value.get.get)
      } finally pool.shutdown()
    }

  /** Dirty-state size at which a refresh switches from re-deriving whole
    * dirty buckets to the key-scoped derive + carry-forward path. 4 GiB:
    * below it re-deriving the buckets is a sub-second cluster job and the
    * scoped path's extra stages dominate; above it recomputing unchanged
    * keys dominates (O(batch) instead of O(dirty buckets) compute). */
  val DefaultKeyScopeMinStateBytes: Long = 4L << 30

  /** Conservative mirror of [[graft.plans.DedupWindowToMaxBy]]'s fire
    * conditions, checkable BEFORE planning: all sort directions identical
    * with the DEFAULT null ordering, and every payload column orderable
    * (the rewrite packs the whole row into one comparable struct). A bare
    * order column defaults to ascending, matching `orderBy`. False
    * negatives only cost the build the fused-fold shape — a perf
    * heuristic, never a correctness gate. */
  private[graft] def aggregateFirstEligible(
      df: DataFrame, order: Seq[Column]): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    // (child, descending, nullsLast) per sort column — read off the
    // Column node, since the lazy expression wrapper hides SortOrder
    val sos = order.map(org.apache.spark.sql.GraftSqlShim.sortOrderOf)
    // no determinism probe: it is unreadable pre-analysis (the lazy
    // node wrapper reports leaf-deterministic), and a nondeterministic
    // order key already violates the total-order contract — the
    // rewrite's own guard still refuses to fire on one
    sos.nonEmpty &&
      (sos.forall(_._2) || sos.forall(!_._2)) &&
      // default null ordering: DESC NULLS LAST / ASC NULLS FIRST
      sos.forall { case (_, desc, nullsLast) => desc == nullsLast } &&
      df.schema.forall(f => RowOrdering.isOrderable(f.dataType))
  }

  /** Marker column [[foldFlagged]] appends: true exactly on the
    * new-state rows whose latest-per-key fold CHANGED anything. */
  private[graft] val ChangedCol = "__mv_changed"

  /** The refresh fold: the latest row per `keys` of `oldState` ∪ `batch`
    * (one row per key, `bucketCol`-clustered like
    * [[Dedup.latestByKeyClustered]]) plus [[ChangedCol]] — true iff the
    * key is in the batch (the per-key fold can change no other) AND the
    * winner's fingerprint differs from the old row's, or there is no old
    * row (the fold never drops a key, so that captures every insert and
    * update).
    *
    * ONE hash exchange on `bucketCol` and window aggregates over
    * `(bucket, keys)`: `row_number` under `order` picks the winner, a
    * whole-frame OR of the batch tag says whether the key is in the
    * batch, and a whole-frame max carries the OLD row's fingerprint —
    * computed only for keys in the batch, so a dirty bucket's untouched
    * keys are never serialized. Window partitioning groups NULL keys like
    * any value, so the flag is null-safe with no join. Every window
    * function here has a whole-partition frame or depends on one, so
    * Spark plants no WindowGroupLimit that would drop the old row
    * before its fingerprint is read.
    *
    * The fingerprint is the row's JSON (columns in sorted name order,
    * nulls KEPT so the encoding is injective per schema), not a raw-row
    * compare: state schemas in the reference family carry JSONB-style
    * maps, which Spark cannot compare for equality. A map whose physical
    * entry order differs can only FALSELY REPORT a change (a wasted
    * republish), never hide one. */
  private[graft] def foldFlagged(
      oldState: DataFrame, batch: DataFrame, keys: Seq[String], order: Seq[Column],
      bucketCol: String): DataFrame = {
    val cols = oldState.columns
    val rowJson = to_json(struct(cols.filter(_ != bucketCol).sorted.map(col): _*),
      Map("ignoreNullFields" -> "false"))
    val byKey = Window.partitionBy((bucketCol +: keys).map(col): _*).orderBy(order: _*)
    val wholeKey = byKey.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    oldState.withColumn("__mv_from_batch", lit(false))
      .unionByName(batch.select(cols.map(col): _*).withColumn("__mv_from_batch", lit(true)))
      .repartition(col(bucketCol))
      .withColumn("__mv_rn", row_number().over(byKey))
      .withColumn("__mv_in_batch", max(col("__mv_from_batch")).over(wholeKey))
      .withColumn("__mv_old_json",
        max(when(col("__mv_in_batch") && !col("__mv_from_batch"), rowJson)).over(wholeKey))
      .filter(col("__mv_rn") === 1)
      .withColumn(ChangedCol, col("__mv_in_batch") &&
        (col("__mv_old_json").isNull || col("__mv_old_json") =!= rowJson))
      .drop("__mv_rn", "__mv_from_batch", "__mv_in_batch", "__mv_old_json")
  }

  /** Times [[observedBuckets]] found no metric and a refresh fell back
    * to the separate distinct+collect job. The fallback is CORRECT but
    * re-introduces the job the observe fusion removed — a Spark change
    * that reroutes `localCheckpoint`'s QueryExecution must fail the
    * observe-path pin in MaterializedViewSpec loudly, not re-cost every
    * refresh quietly. */
  private[graft] val probeFallbacks = new java.util.concurrent.atomic.AtomicLong

  /** Bucket-id observe metrics are only attached when the whole bucket
    * domain fits one Long BITMASK. `bit_or(shiftleft(1L, bucket))` is a
    * DECLARATIVE aggregate — `collect_set` is a TypedImperativeAggregate
    * whose per-row path is CodegenFallback, and PlanAuditSpec pins the
    * refresh jobs fallback-free. Wider stores keep the separate
    * distinct+collect probe. */
  private[graft] def maskable(nBuckets: Int): Boolean = nBuckets <= 64

  /** The bitmask metric expression: OR of `1L << bucket` over the rows
    * where `include` holds (rows failing it contribute NULL, which
    * `bit_or` skips — an all-excluded job yields a NULL mask = ∅). */
  private[graft] def bucketMask(bucketCol: String, include: Column): Column =
    bit_or(when(include,
      expr(s"shiftleft(1L, cast($bucketCol as int))"))).as("mask")

  /** The bucket-id set an `observe(name, bucketMask(...))` metric
    * captured on `df`'s materializing job, if the runtime delivered it
    * (callers keep a distinct+collect fallback). */
  private[graft] def observedBuckets(df: DataFrame, name: String): Option[Seq[Long]] = {
    val m = df.queryExecution.observedMetrics.get(name).map { r =>
      if (r.isNullAt(0)) Seq.empty[Long]
      else {
        val mask = r.getLong(0)
        (0 until 64).collect { case i if ((mask >>> i) & 1L) == 1L => i.toLong }
      }
    }
    if (m.isEmpty) probeFallbacks.incrementAndGet()
    m
  }

  /** `df` rows whose `keys` tuple appears in `keysDf` (same-named
    * columns). NULL-SAFE equality — the latest-wins window groups NULL
    * keys like any other value, so the key-scoped paths must too. The
    * right side is renamed to dodge same-lineage ambiguity;
    * EqualNullSafe still extracts as a hash join key, so this plans as a
    * hash semi join, never a nested loop. */
  private[graft] def semiOnKeys(df: DataFrame, keysDf: DataFrame, keys: Seq[String]): DataFrame =
    joinOnKeys(df, keysDf, keys, "left_semi")

  /** Complement of [[semiOnKeys]]: `df` rows whose `keys` tuple is NOT
    * in `keysDf` (null-safe). */
  private[graft] def antiOnKeys(df: DataFrame, keysDf: DataFrame, keys: Seq[String]): DataFrame =
    joinOnKeys(df, keysDf, keys, "left_anti")

  private def joinOnKeys(
      df: DataFrame, keysDf: DataFrame, keys: Seq[String], how: String): DataFrame = {
    val renamed = keys.map(k => s"__mvk_$k")
    val rhs = keysDf.select(keys.map(col): _*).toDF(renamed: _*)
    df.join(rhs,
      keys.zip(renamed).map { case (l, r) => col(l) <=> col(r) }.reduce(_ && _),
      how)
  }
}
