package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.GenerationStore
import graft.operators.ConnectedComponents

/** Continuously-maintained identity components — the streaming shell
  * around [[ConnectedComponents.incrementalMerge]]: each micro-batch of
  * match edges folds into a persisted `(id, comp)` label map, so the
  * identity graph the reference accumulates in its warehouse
  * (`identity-resolution/database-schema.sql:145-380`) stays resolved
  * CONTINUOUSLY instead of nightly, at batch-sized incremental cost.
  *
  * Crash contract (the CorpusIngest posture, simplified by algebra):
  * the map is a single-bucket [[GenerationStore]] — each batch writes a
  * new immutable generation fully, THEN swaps the store's manifest. A
  * crash before the swap leaves the old map serving; a replay
  * re-applies the batch. No processed-batch ledger is needed, because
  * folding a batch in is IDEMPOTENT — merging edges already inside
  * their components is a no-op — so at-least-once delivery converges
  * without dedup (pinned in `IdentityComponentsStreamSpec`, including
  * the double-apply case). The store keeps the committed and the
  * previous generation (the widest window a concurrent reader can
  * straddle); each publish collects older ones and crashed partials.
  *
  * 100 TB design: per batch, the delta CC runs on component-collapsed
  * METADATA (≤ batch edges); the full map is rewritten once per batch
  * — at the scale where that rewrite dominates, shard the map over the
  * store's buckets and republish only buckets holding relabeled
  * components (same manifest algebra, per bucket). */
object IdentityComponents {

  /** Hook for crash-window tests: runs after the new generation is
    * fully written, before the manifest swap. */
  @volatile var onBeforeSwap: () => Unit = () => ()

  def currentGen(spark: SparkSession, statePath: String): Option[Long] =
    GenerationStore.single(statePath).manifest(spark).flatMap(_.get(0L))

  /** The served component map, exactly as last committed. */
  def labels(spark: SparkSession, statePath: String): Option[DataFrame] =
    GenerationStore.single(statePath).read(spark)

  /** Fold one micro-batch of edges into the persisted map; returns the
    * committed generation. First batch bootstraps with a full CC. */
  def applyBatch(
      spark: SparkSession,
      batchEdges: DataFrame,
      srcCol: String,
      dstCol: String,
      statePath: String): Long = {
    val (upd, release) = labels(spark, statePath) match {
      case Some(l) =>
        ConnectedComponents.incrementalMerge(l, batchEdges, srcCol, dstCol)
      case None =>
        val full = ConnectedComponents.run(batchEdges, srcCol, dstCol)
        (full, () => { full.unpersist(); () })
    }
    val store = GenerationStore.single(statePath)
    store.onBeforeSwap = () => onBeforeSwap()
    try store.replace(upd) finally release()
  }
}
