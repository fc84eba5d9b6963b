package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The TWO-SIDED [[BucketedView]]: a DIMENSION store (`$root/dims`) and
  * a FACT store (`$root/facts`), each latest-version-wins per its own
  * key and each a [[GenerationStore]] bucketed like the view, feeding
  * one aggregate view (`$root/view`) bucketed on the AGGREGATION key
  * `bucketKeys` (reference: the nightly `marketing.customer_segments`
  * rebuild, `customer_360_views.sql:376-515` — at 100× the segments view
  * is the expensive one to recompute). */
final class AggregateView(
    root: String,
    bucketKeys: Seq[String],
    dimKeys: Seq[String],
    dimOrder: Seq[Column],
    factKeys: Seq[String],
    factOrder: Seq[Column],
    derive: (DataFrame, DataFrame) => DataFrame,
    nBuckets: Int = 64,
    keepVersions: Int = 1,
    keyScopeMinStateBytes: Long = BucketedView.DefaultKeyScopeMinStateBytes)
  extends BucketedView(root, bucketKeys,
    Seq(BucketedView.Side("dims", dimKeys, dimOrder), BucketedView.Side("facts", factKeys, factOrder)),
    states => derive(states(0), states(1)), nBuckets, keepVersions, keyScopeMinStateBytes) {

  /** Full initial build of both states and the view. */
  def build(dims: DataFrame, facts: DataFrame): Unit = build(Seq(dims, facts))

  /** CDC batch of fact rows: re-aggregate only the batch's buckets. */
  def refreshFacts(batch: DataFrame): Unit = refresh(1, batch)

  /** CDC batch of dimension rows: same bucket-pruned path, other side. */
  def refreshDims(batch: DataFrame): Unit = refresh(0, batch)

  /** The latest-row-per-key dimension state store. */
  def dims(spark: SparkSession): DataFrame = sideState(spark, 0)

  /** The latest-row-per-key fact state store. */
  def facts(spark: SparkSession): DataFrame = sideState(spark, 1)
}
