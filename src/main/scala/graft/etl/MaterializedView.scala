package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ONE-SIDED [[BucketedView]]: a keyed, latest-version-wins source
  * whose latest row per key lives in the [[GenerationStore]] at
  * `$root/state`, bucketed on its own `keys`, feeding a view (in
  * `$root/view`) whose `derive` is per-key local (the engine's
  * bucket-closed precondition with `bucketKeys == keys`). View and state
  * publish through the same manifest swap. Cross-key views belong in
  * [[AggregateView]]. */
final class MaterializedView(
    root: String,
    keys: Seq[String],
    order: Seq[Column],
    derive: DataFrame => DataFrame,
    nBuckets: Int = 64,
    keepVersions: Int = 1,
    keyScopeMinStateBytes: Long = BucketedView.DefaultKeyScopeMinStateBytes)
  extends BucketedView(root, keys, Seq(BucketedView.Side("state", keys, order)),
    states => derive(states.head), nBuckets, keepVersions, keyScopeMinStateBytes) {

  /** Full initial build of state and view from `source`. */
  def build(source: DataFrame): Unit = build(Seq(source))

  /** Incremental refresh from a CDC batch of source rows. */
  def refresh(batch: DataFrame): Unit = refresh(0, batch)

  /** The latest-row-per-key state store. */
  def state(spark: SparkSession): DataFrame = sideState(spark, 0)

  /** CDC OUT of the serving layer: the row-level changelog between two
    * retained snapshots — per view key, `insert` (new in `v2`),
    * `delete` (gone from `v2`), or `update` (any non-key value changed,
    * null-safe struct compare); unchanged rows are omitted. Downstream
    * consumers (activation feeds, cache invalidation) subscribe to what
    * a refresh DID instead of re-diffing the whole view — the join is
    * key-partitioned, never a full-view collect. None unless BOTH
    * versions are still retained. Output: key columns (coalesced),
    * `change`, `old_row`, `new_row` structs (null on insert/delete
    * respectively). */
  def changesBetween(spark: SparkSession, v1: Long, v2: Long): Option[DataFrame] =
    for { a <- viewAt(spark, v1); b <- viewAt(spark, v2) } yield {
      val cols = a.columns.toSeq
      val left = a.select(keys.map(col) :+ struct(cols.map(col): _*).as("old_row"): _*)
      val right = b.select(keys.map(col) :+ struct(cols.map(col): _*).as("new_row"): _*)
      left.join(right, keys, "full_outer")
        .withColumn("change",
          when(col("old_row").isNull, "insert")
            .when(col("new_row").isNull, "delete")
            .when(!(col("old_row") <=> col("new_row")), "update"))
        .filter(col("change").isNotNull)
        .select(keys.map(col) ++ Seq(col("change"), col("old_row"), col("new_row")): _*)
    }
}
