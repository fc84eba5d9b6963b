package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dedup-by-window — the reference's signature pattern
  * (`sql/customer_360_views.sql:71-74,262-265,535-538`):
  * `ROW_NUMBER() OVER (PARTITION BY key ORDER BY version DESC) = 1`.
  *
  * Scale notes (100 TB): the window is a single hash-partition exchange
  * on the key, and the rank-1 form is SKEW-IMMUNE twice over — the
  * [[graft.plans.DedupWindowToMaxBy]] rewrite collapses same-direction
  * orders into a partially-aggregated max-struct, and for every order
  * the rewrite declines (mixed directions, custom null ordering) Spark
  * plants a PARTIAL WindowGroupLimit before the exchange, so a hot key
  * contributes one row per map partition to the shuffle, never its row
  * set (both pinned on whale fixtures: `SkewSpec`, `DedupSkewSpec`;
  * the measured A/B there is why no salted dedup variant exists — it
  * loses to the group-limited plan even at a 90% whale). Callers must
  * pass a TOTAL order (include a unique tiebreaker) or ties pick an
  * arbitrary row.
  */
object Dedup {

  /** Keep exactly one row per key group, the first under `order`.
    * W1/W2 in SURVEY §2.5. */
  def latestByKey(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** [[latestByKey]] fused with a cluster-by-`clusterCol` exchange:
    * ONE shuffle serves both the per-key window and a downstream
    * `partitionBy(clusterCol)` write. Requires `clusterCol` to be
    * functionally determined by `keys` (the materialized-view bucket
    * contract: bucket = hash(keys), or — facts side — every version of
    * a key carries the same bucket value): the window partitions by
    * `(clusterCol, keys)`, which then groups exactly like `(keys)`,
    * and hash-partitioning on `clusterCol` alone already satisfies
    * that window's clustered distribution, so Spark plans no second
    * exchange (verified: 1 Exchange in the executed plan). At 100 TB
    * this halves the shuffled bytes of every state materialization.
    * The exchange carries no fixed partition count, so AQE sizes it by
    * data (coalescing small partitions); coalescing merges whole hash
    * partitions, so each `clusterCol` value still lands in one task. */
  def latestByKeyClustered(df: DataFrame, keys: Seq[String], order: Seq[Column],
      clusterCol: String): DataFrame = {
    val w = Window.partitionBy((clusterCol +: keys).map(col): _*).orderBy(order: _*)
    df.repartition(col(clusterCol))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** The estimated share of `df`'s rows held by its hottest `keys`
    * value, from one cheap sampled aggregation — the operator-local
    * form of the `stats_key_skew` diagnostic (that query reports
    * max/mean skew over exact counts; a routing/alerting decision only
    * needs the hot key's SHARE, and a 1% sample resolves a ≥10% whale
    * with margin). Deterministic (fixed sample seed), one narrow job.
    *
    * NOTE it is NOT wired into [[latestByKey]]: the measured A/B
    * (`DedupSkewSpec`) shows the rank-1 dedup needs no skew routing —
    * Spark's InferWindowGroupLimit plants a PARTIAL WindowGroupLimit
    * BEFORE the exchange under ANY order direction, so a hot key
    * collapses to one row per map partition and a salted two-phase
    * variant LOSES (extra hash + wider exchange, nothing saved) even
    * at a 90% whale. The share probe remains the observation tool for
    * operators that genuinely ship whole key groups (irreducible
    * sequence windows, non-limited ranks). */
  def keySkewShare(df: DataFrame, keys: Seq[String],
      sampleFraction: Double = 0.01): Double = {
    val counts = df.sample(withReplacement = false, sampleFraction, seed = 42L)
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("__cnt"))
      .agg(max(col("__cnt")).as("__max"), sum(col("__cnt")).as("__total"))
      .head()
    if (counts.isNullAt(0) || counts.getLong(1) == 0L) 0.0
    else counts.getLong(0).toDouble / counts.getLong(1).toDouble
  }

  /** Sequence-number a group: 1-based position under `order` within
    * each key partition (W3: purchase sequence,
    * `customer_360_views.sql:350-353`). */
  def sequenceNumber(df: DataFrame, keys: Seq[String], order: Seq[Column],
                     as: String = "seq"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn(as, row_number().over(w))
  }

  /** Exact duplicate removal by content hash, keeping the smallest id —
    * north-star exact dedup over `documents`. Single shuffle on the
    * hash; no full-row comparisons. */
  def exactByHash(df: DataFrame, contentCol: String, idCol: String): DataFrame = {
    latestByKey(
      df.withColumn("__h", md5(col(contentCol))),
      Seq("__h"), Seq(col(idCol).asc)
    ).drop("__h")
  }
}
