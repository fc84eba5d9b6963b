package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.GenerationStore
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
  * one row per stratum (bounded metadata) in a single-bucket
  * [[GenerationStore]]: each batch reads the committed generation and
  * publishes the new state as a fresh one behind an atomic manifest
  * swap, so the write never replaces files the read holds, and a failed
  * write leaves the previous state serving (a lost state would restart
  * every stratum at 0 and admit a second full budget).
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
    // computed once: the returned rows and the new state both derive
    // from this checkpoint
    val (admitted, release) = graft.Lineage.checkpointed(
      graft.operators.PrefixSum.runningSum(
          batch.withColumn("__tok", TextFunctions.tokenCount(col(textCol))),
          Seq(sourceCol), Seq(col(idCol)), col("__tok"), "__cum_in_batch")
        .join(prior, Seq(sourceCol), "left")
        .withColumn("__cum_total",
          col("__cum_in_batch") + coalesce(col("__cum_tokens"), lit(0L)))
        .filter(col("__cum_total") <= budget))
    try {
      // new state = per-source high water of admitted totals, carrying
      // forward untouched strata
      GenerationStore.single(statePath).replace(
        prior.join(
            admitted.groupBy(sourceCol)
              .agg(max(col("__cum_total")).as("__batch_cum")),
            Seq(sourceCol), "full_outer")
          .select(col(sourceCol),
            greatest(coalesce(col("__cum_tokens"), lit(0L)),
              coalesce(col("__batch_cum"), lit(0L))).as("__cum_tokens")))
      // persisted through the cache manager so the caller's unpersist()
      // releases it; the checkpoint blocks are released in the finally
      val out = admitted.select(batch.columns.map(col): _*).persist()
      val n = out.count()
      (out, GateStats(input, n, input - n))
    } finally release()
  }

  /** The persistent `(sourceCol, __cum_tokens)` state, read under the
    * schema its store's manifest carries; empty on first use (schema
    * built rather than inferred: a publish of zero rows leaves no
    * files). */
  def readState(
      spark: SparkSession, statePath: String, sourceCol: String): DataFrame =
    GenerationStore.single(statePath).read(spark).getOrElse {
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField(sourceCol, StringType),
          StructField("__cum_tokens", LongType))))
    }
}
