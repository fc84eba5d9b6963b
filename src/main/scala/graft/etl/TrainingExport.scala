package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The training pipeline's LAST MILE: materialize model-ready packed
  * sequences (`corpus_training_tokens` shape — one row per
  * `(source, seq_id)` with the space-joined token-id string) as an
  * on-disk lake a trainer's data loader can stream shard-by-shard,
  * plus a read-back MANIFEST that proves what landed.
  *
  * Layout: hive-partitioned by `(source, shard)`, shard = dense
  * `seq_id / seqsPerShard` — packed sequences are fixed-length, so
  * equal sequence counts ARE equal token counts (the balanced-shard
  * guarantee `mix_shard_assign` needs a prefix sum for on RAW documents
  * comes free after packing; each stream's short tail sequence skews
  * its last shard only). A trainer resumes mid-epoch by skipping whole
  * shard directories; partition pruning serves single-source reads.
  *
  * Write discipline: rows cluster to their shard before the write
  * (bounded files per partition — the [[BucketedView]] bucket clustering
  * doctrine); `overwrite` keeps re-exports idempotent.
  *
  * The MANIFEST is computed from a READ-BACK of the written files, not
  * from the input plan — it attests to bytes on disk: per shard the
  * sequence count, token totals, OOV totals, and an order-independent
  * checksum (exact DECIMAL sum of 60-bit md5 row prefixes, the
  * `dq_table_checksum` primitive) a consumer can re-derive to prove a
  * copied/synced shard intact without re-reading the producer. */
object TrainingExport {

  private def rowHash(ser: Column): Column =
    conv(substring(md5(ser), 1, 15), 16, 10).cast("long").cast("decimal(20,0)")

  /** Write `seqs` — (source, seq_id, n_tokens, n_oov, ids_str) — under
    * `root` partitioned by (source, shard); return the read-back
    * manifest: one row per shard. */
  def exportSequences(
      seqs: DataFrame,
      root: String,
      seqsPerShard: Int): DataFrame = {
    require(seqsPerShard >= 1, s"seqsPerShard must be >= 1, got $seqsPerShard")
    val sharded = seqs.withColumn("shard",
      (col("seq_id") / seqsPerShard).cast("long"))
    sharded
      .repartition(col("source"), col("shard"))
      .write.mode("overwrite").partitionBy("source", "shard").parquet(root)
    manifest(seqs.sparkSession.read.parquet(root))
  }

  /** The per-shard manifest of an exported lake (or any frame carrying
    * the export columns): counts, token/OOV totals, and the
    * order-independent content checksum over (seq_id, ids_str). */
  def manifest(exported: DataFrame): DataFrame =
    exported
      .groupBy(col("source"), col("shard").cast("long").as("shard"))
      .agg(
        count(lit(1)).as("n_seqs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_oov")).as("total_oov"),
        sum(rowHash(concat_ws("|", col("seq_id").cast("string"), col("ids_str"))))
          .cast("string").as("checksum"))
      .orderBy("source", "shard")
}
