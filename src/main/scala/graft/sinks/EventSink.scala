package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** S7 + ST5: the HTTP/JSON event sink with batched, rate-limited
  * delivery — re-expression of the reference's Segment track loop
  * (`scripts/lambda_redshift_to_segment.py:330-424`: 100-event batches,
  * `time.sleep` between batches, per-event JSON payloads).
  *
  * The transport is pluggable (an HTTP POST in production, a recording
  * fake in tests) because the engine's job is the distributed half:
  * shaping rows to JSON payloads (PipelineQueries.actEvents), sizing
  * batches, pacing calls, and never funnelling events through the
  * driver. Delivery runs per-partition on executors; each partition
  * paces itself, so cluster-wide throughput = partitions × rate — cap
  * partitions (`repartition(n)`) to cap the aggregate request rate
  * against the downstream API.
  */
object EventSink {

  type Transport = Seq[String] => Unit

  /** Deliver `payloadCol` (a JSON string column) in batches of
    * `batchSize`, sleeping `pauseMillis` between consecutive batches in
    * the same partition (the reference's rate limit, `lambda:408-415`).
    * Returns the delivered-event count from an accumulator so callers
    * can reconcile against the source count (exactly-once bookkeeping
    * stays with the caller via [[ProcessedIds]]).
    *
    * Delivery is AT-LEAST-ONCE and the returned count is an UPPER
    * bound: a task retry or speculative duplicate re-sends its
    * partition and the accumulator counts both attempts (Spark only
    * dedups accumulator updates inside actions, and `foreachPartition`
    * side effects re-run regardless). Treat `returned > source.count()`
    * as "retries happened", not data loss; for an exact delivered set,
    * reconcile against [[ProcessedIds]] (a distinct count of delivered
    * ids), which is idempotent under replay. */
  def deliver(
      events: DataFrame,
      payloadCol: String,
      transport: Transport,
      batchSize: Int = 100,
      pauseMillis: Long = 0L): Long = {
    val acc: LongAccumulator =
      events.sparkSession.sparkContext.longAccumulator("events_delivered")
    events.select(col(payloadCol).cast("string")).foreachPartition {
      rows: Iterator[org.apache.spark.sql.Row] =>
        var first = true
        rows.map(_.getString(0)).grouped(batchSize).foreach { batch =>
          if (!first && pauseMillis > 0) Thread.sleep(pauseMillis)
          first = false
          transport(batch)
          acc.add(batch.size)
        }
    }
    acc.value
  }

  /** ST2/ST5/ST8 hardening: idempotent per-batch delivery — the shape
    * `foreachBatch` replays demand (`Streams.deliverStream`). The batch
    * is anti-joined against [[ProcessedIds]] BEFORE the transport, only
    * fresh ids are delivered, and exactly those ids are appended. Under
    * a crash-and-replay of the same batch:
    *
    *   - crash AFTER the state append (e.g. before the streaming
    *     checkpoint commit) → the replay finds every id processed and
    *     re-sends NOTHING;
    *   - crash BETWEEN transport and append → the replay re-sends that
    *     one batch (at-least-once; the deterministic U6 messageId keeps
    *     the downstream idempotent, `lambda:557-560`'s contract).
    *
    * Exactly-once to a non-transactional HTTP transport is impossible;
    * this bounds duplicates to the single interrupted batch. NULL ids
    * are excluded (same reasoning as Incremental.nextBatch: an
    * untrackable row would be re-sent in every replay). The fresh set is
    * locally CHECKPOINTED — not just cached — before the transport: the
    * append below writes to the very state dir the anti-join reads, so
    * a recomputation during the write (cache eviction) must be
    * impossible by construction, not merely unlikely. A localCheckpoint
    * truncates the lineage to the materialized blocks; the anti-join
    * can never re-run (blocks are released once the append lands —
    * [[graft.Lineage.checkpointed]]). Ids are also deduped
    * WITHIN the batch — an at-least-once upstream can repeat an id
    * inside one micro-batch, and the anti-join alone would deliver both
    * copies (state only absorbs ids from PRIOR batches). */
  def deliverBatchIdempotent(
      batch: DataFrame,
      idCol: String,
      payloadCol: String,
      statePath: String,
      transport: Transport,
      batchSize: Int = 100,
      pauseMillis: Long = 0L): Long = {
    val spark = batch.sparkSession
    // eager checkpoint: materializes now and severs lineage; released
    // explicitly after the state append — checkpoint blocks are NOT
    // reclaimed by unpersist/eviction, and a sink that runs per
    // micro-batch would otherwise leak one block set per batch
    val (fresh, release) = graft.Lineage.checkpointed(batch
      .filter(col(idCol).isNotNull)
      .dropDuplicates(idCol)
      .join(ProcessedIds.load(spark, statePath, idCol,
        batch.schema(idCol).dataType), Seq(idCol), "left_anti"))
    try {
      val sent = deliver(fresh, payloadCol, transport, batchSize, pauseMillis)
      ProcessedIds.append(fresh.select(idCol), statePath)
      sent
    } finally release()
  }

  /** S9: the processed-ID state store — replaces the reference's S3
    * JSON state file (`lambda:97-135`: load set, union, save). Parquet
    * append keeps writes cheap and atomic-per-batch; reads are a
    * distributed distinct (never a driver-side set); [[compact]] folds
    * the append log into one snapshot when it fragments. The log, its
    * snapshot commit and the fold are [[graft.etl.AppendLog]]'s — ONE
    * definition shared with the other append-log state stores (see its
    * scaladoc). */
  object ProcessedIds {

    /** `idType` types the EMPTY bootstrap frame (no state dir yet). It
      * must match the caller's id column: a mistyped empty side makes
      * the first batch's anti-join insert a cast on the key — under
      * ANSI mode a string messageId vs the old hardcoded bigint threw
      * NumberFormatException on the very first delivery. */
    def load(spark: SparkSession, statePath: String, idCol: String,
        idType: org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType): DataFrame =
      graft.etl.AppendLog.load(spark, statePath,
        fold = _.select(idCol).distinct(),
        empty = spark.emptyDataFrame
          .withColumn(idCol, lit(null).cast(idType)).limit(0))

    def append(ids: DataFrame, statePath: String): Unit =
      graft.etl.AppendLog.append(ids, statePath)

    /** Fold the append log into one deduplicated snapshot
      * (crash-safety: [[graft.etl.AppendLog.compact]]). */
    def compact(spark: SparkSession, statePath: String, idCol: String): Unit =
      graft.etl.AppendLog.compact(spark, statePath, fold = _.select(idCol).distinct())
  }
}
