package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Streaming token-budget admission — the per-stratum quota of
  * `mix_token_budget` applied WHILE ingesting: each micro-batch admits
  * documents, in deterministic order, until its source stratum's
  * PERSISTENT cumulative token count reaches the budget; later batches
  * resume where the state left off, so the stream as a whole admits
  * exactly the greedy prefix the one-shot batch operator would.
  *
  * Within a batch the running sum is [[graft.operators.PrefixSum]]
  * (bounded tasks even when one source dominates a batch); the state is
  * one row per stratum (bounded metadata), read once per batch and
  * overwritten behind an eager checkpoint — the same read-overwrite
  * discipline as the event sink and corpus ingest.
  *
  * Replay safety: admission mutates state, so the gate must sit AFTER
  * an idempotence boundary — in the [[CorpusIngest]] pipeline that is
  * the content-hash anti-join, which turns a replayed batch's rows into
  * no-ops before they can double-count into the budget.
  */
object BudgetGate {

  final case class GateStats(input: Long, admitted: Long, exhausted: Long)

  /** Admit one micro-batch of `(idCol, sourceCol, textCol, …)` rows
    * against the persistent per-source budget at `statePath`. Returns
    * the admitted rows (original columns) and the stage counts. */
  def admitBatch(
      batch: DataFrame,
      idCol: String,
      sourceCol: String,
      textCol: String,
      statePath: String,
      budget: Long): (DataFrame, GateStats) = {
    require(budget > 0, s"budget must be positive, got $budget")
    val spark = batch.sparkSession
    val input = batch.count()
    val prior = readState(spark, statePath, sourceCol)
    val ranked = graft.operators.PrefixSum.runningSum(
        batch.withColumn("__tok", TextFunctions.tokenCount(col(textCol))),
        Seq(sourceCol), Seq(col(idCol)), col("__tok"), "__cum_in_batch")
      .join(prior, Seq(sourceCol), "left")
      .withColumn("__cum_total",
        col("__cum_in_batch") + coalesce(col("__cum_tokens"), lit(0L)))
    val admitted = ranked.filter(col("__cum_total") <= budget)
    // new state = per-source high water of admitted totals, carrying
    // forward untouched strata; checkpoint severs the read of the
    // directory the write below replaces
    val (newState, release) = graft.Lineage.checkpointed(
      prior.join(
          admitted.groupBy(sourceCol)
            .agg(max(col("__cum_total")).as("__batch_cum")),
          Seq(sourceCol), "full_outer")
        .select(col(sourceCol),
          greatest(coalesce(col("__cum_tokens"), lit(0L)),
            coalesce(col("__batch_cum"), lit(0L))).as("__cum_tokens")))
    try {
      val (out, releaseOut) = graft.Lineage.checkpointed(
        admitted.select(batch.columns.map(col): _*))
      try {
        newState.write.mode("overwrite").parquet(statePath)
        val n = out.count()
        // the returned frame is detached from both the state dir and
        // the batch plan; persist through the cache manager so the
        // caller's unpersist() releases it (checkpoint blocks released
        // here, in the finally)
        val pinned = out.persist()
        pinned.count()
        (pinned, GateStats(input, n, input - n))
      } finally releaseOut()
    } finally release()
  }

  /** The persistent `(sourceCol, __cum_tokens)` state, empty on first
    * use (schema built rather than inferred: a partitioned write of
    * zero rows leaves nothing to infer from). */
  def readState(
      spark: SparkSession, statePath: String, sourceCol: String): DataFrame =
    if (hasParquet(spark, statePath))
      spark.read.parquet(statePath)
    else {
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField(sourceCol, StringType),
          StructField("__cum_tokens", LongType))))
    }

  /** Resolved through the path's Hadoop `FileSystem`, so a qualified
    * `file:`/`hdfs:` state path is found like a bare one. */
  private def hasParquet(spark: SparkSession, statePath: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(statePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && {
      val files = fs.listFiles(p, true)
      Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
        .exists(_.getPath.getName.endsWith(".parquet"))
    }
  }
}
