package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The append-log state mechanism shared by every small cross-batch
  * state store: appends are atomic-per-batch parquet writes, reads FOLD
  * the whole log through a store-specific collapse (distinct for an id
  * set, bitwise-OR for a bloom bitset), and [[compact]] rewrites the
  * log as one folded snapshot with a crash-safe swap.
  *
  * Extracted from [[graft.sinks.EventSink.ProcessedIds]] (which now
  * delegates here) when [[graft.operators.BloomDedup]] needed the same
  * discipline for its bitset state — the load/append/compact dance must
  * not drift between stores, and the crash-recovery contract is pinned
  * once: a compact that died between its two renames leaves the
  * previous snapshot at `<path>.old`, and [[load]] restores it rather
  * than silently starting empty.
  *
  * The fold MUST be idempotent over re-appended rows (set-union,
  * bitwise-OR): that is what makes at-least-once replay of a state
  * append harmless, and what makes compact ≡ no-compact for readers.
  *
  * Paths resolve through the Hadoop `FileSystem` of the state path (the
  * [[GenerationStore]] rule), so a qualified `file:`/`hdfs:` path reads
  * the same store the Spark writer appended to.
  *
  * The log OWNS its schema: the first append and every compact write
  * the [[BucketedView.SchemaSidecar]], so [[load]] reads without a
  * footer-inference job (one bare Spark job per call otherwise), and an
  * append whose schema differs from it fails before writing. Logs that
  * predate the sidecar load through inference until their next
  * compact.
  */
object AppendLog {

  private def fs(spark: SparkSession, statePath: String): FileSystem =
    new Path(statePath).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Read the folded state; `empty` bootstraps a missing store. */
  def load(spark: SparkSession, statePath: String,
      fold: DataFrame => DataFrame, empty: => DataFrame): DataFrame = {
    val f = fs(spark, statePath)
    val dir = new Path(statePath)
    val old = new Path(statePath + ".old")
    if (!f.exists(dir) && f.exists(old)) f.rename(old, dir)
    if (f.exists(dir)) fold(BucketedView.readState(spark, statePath))
    else empty
  }

  /** Append one batch's rows — atomic per batch (parquet append). The
    * first append into a fresh log also writes its schema sidecar. */
  def append(rows: DataFrame, statePath: String): Unit = {
    val spark = rows.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    AtomicText.read(new Path(statePath, BucketedView.SchemaSidecar), conf).foreach { json =>
      val logged = org.apache.spark.sql.types.DataType.fromJson(json)
      require(GenerationStore.sameTypeIgnoreNullability(logged, rows.schema),
        s"append to $statePath: batch schema ${rows.schema.simpleString} differs " +
          s"from the log's ${logged.simpleString}")
    }
    val fresh = !fs(spark, statePath).exists(new Path(statePath))
    rows.write.mode("append").parquet(statePath)
    if (fresh) BucketedView.writeSchemaSidecar(spark, statePath, rows.schema)
  }

  /** Rewrite the append log as one folded snapshot. Swap order is
    * crash-safe on a local/posix fs: snapshot → .tmp, live → .old,
    * .tmp → live, drop .old. Every failure mode leaves either the live
    * dir or .old intact, and [[load]] knows to restore .old. */
  def compact(spark: SparkSession, statePath: String,
      fold: DataFrame => DataFrame, empty: => DataFrame): Unit = {
    val snap = load(spark, statePath, fold, empty).cache()
    snap.count() // materialize before touching the live dir
    val f = fs(spark, statePath)
    val tmp = new Path(statePath + ".tmp")
    val old = new Path(statePath + ".old")
    val dir = new Path(statePath)
    f.delete(tmp, true); f.delete(old, true) // stale leftovers from a past crash
    snap.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    BucketedView.writeSchemaSidecar(spark, tmp.toString, snap.schema)
    snap.unpersist()
    if (f.exists(dir) && !f.rename(dir, old))
      throw new java.io.IOException(s"compact: cannot stage $dir aside")
    if (!f.rename(tmp, dir)) {
      f.rename(old, dir) // roll back to the previous snapshot
      throw new java.io.IOException(s"compact: cannot activate $tmp")
    }
    f.delete(old, true)
  }
}
