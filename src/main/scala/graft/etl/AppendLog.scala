package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** The append-log state mechanism shared by the set-like cross-batch
  * state stores: appends are atomic-per-batch parquet writes into the
  * log directory, reads FOLD the log through a store-specific collapse
  * (distinct for an id set, bitwise-OR for a bloom bitset), and
  * [[compact]] folds the appends into one snapshot.
  *
  * Extracted from [[graft.sinks.EventSink.ProcessedIds]] (which now
  * delegates here) when [[graft.operators.BloomDedup]] needed the same
  * discipline for its bitset state — the load/append/compact dance must
  * not drift between stores.
  *
  * The snapshot is a single-bucket [[GenerationStore]] in the
  * `_snapshot.parquet` child (a parquet dataset directory, named like
  * the lake's tables; `_`-prefixed, so Spark's listing of the log
  * directory skips it). It commits through the store's manifest swap,
  * and [[load]] folds snapshot ∪ appends. The fold MUST be idempotent over
  * re-appended rows (set-union, bitwise-OR): that is what makes
  * at-least-once replay of a state append harmless, what makes
  * compact ≡ no-compact for readers, and what makes a compact that died
  * between its publish and its delete of the folded appends harmless
  * (those rows fold twice until the next compact removes them).
  *
  * Paths resolve through the Hadoop `FileSystem` of the state path (the
  * [[GenerationStore]] rule), so a qualified `file:`/`hdfs:` path reads
  * the same store the Spark writer appended to.
  *
  * The log OWNS its schema: the first append writes it to a sidecar
  * file at the log root (the snapshot store's schema rides its
  * manifest; the appends have no manifest to carry theirs), so [[load]]
  * reads without a footer-inference job (one bare Spark job per call
  * otherwise), and an append whose schema differs from it fails before
  * writing. Logs that predate the sidecar load through inference until
  * their next compact.
  */
object AppendLog {

  private def fs(spark: SparkSession, statePath: String): FileSystem =
    new Path(statePath).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def snapshot(statePath: String): GenerationStore =
    GenerationStore.single(s"$statePath/_snapshot.parquet")

  /** `_`-prefixed: hidden from Spark's listing of the log directory;
    * content is `StructType.json`. */
  private def sidecar(statePath: String): Path =
    new Path(statePath, "_graft_schema.json")

  private def recordSchema(spark: SparkSession, statePath: String, schema: StructType): Unit =
    AtomicText.write(sidecar(statePath), schema.json, spark.sparkContext.hadoopConfiguration)

  /** The schema the log recorded; None for a log that predates it. */
  private def loggedSchema(spark: SparkSession, statePath: String): Option[StructType] =
    AtomicText.read(sidecar(statePath), spark.sparkContext.hadoopConfiguration)
      .map(DataType.fromJson(_).asInstanceOf[StructType])

  /** The log's append files, read through the recorded schema when
    * there is one, else through footer inference. */
  private def readAppends(spark: SparkSession, statePath: String): DataFrame =
    loggedSchema(spark, statePath).fold(spark.read)(spark.read.schema(_)).parquet(statePath)

  /** Read the folded state; `empty` bootstraps a missing store. */
  def load(spark: SparkSession, statePath: String,
      fold: DataFrame => DataFrame, empty: => DataFrame): DataFrame =
    if (!fs(spark, statePath).exists(new Path(statePath))) empty
    else fold(withSnapshot(spark, statePath, readAppends(spark, statePath)))

  private def withSnapshot(
      spark: SparkSession, statePath: String, appends: DataFrame): DataFrame =
    snapshot(statePath).read(spark).fold(appends)(_.unionByName(appends))

  /** Append one batch's rows — atomic per batch (parquet append). The
    * first append into a fresh log also writes its schema sidecar. */
  def append(rows: DataFrame, statePath: String): Unit = {
    val spark = rows.sparkSession
    loggedSchema(spark, statePath).foreach { logged =>
      require(GenerationStore.sameTypeIgnoreNullability(logged, rows.schema),
        s"append to $statePath: batch schema ${rows.schema.simpleString} differs " +
          s"from the log's ${logged.simpleString}")
    }
    val fresh = !fs(spark, statePath).exists(new Path(statePath))
    rows.write.mode("append").parquet(statePath)
    if (fresh) recordSchema(spark, statePath, rows.schema)
  }

  /** Fold snapshot ∪ appends into one file, publish it as the snapshot's
    * next generation, then delete exactly the append files the fold
    * read (an append landing meanwhile stays for the next compact). A
    * crash anywhere leaves every row readable: before the publish the
    * old snapshot and the appends serve; after it, the idempotent fold
    * absorbs the appends not yet deleted. No-op when nothing was
    * appended since the last compact. */
  def compact(spark: SparkSession, statePath: String,
      fold: DataFrame => DataFrame): Unit =
    if (fs(spark, statePath).exists(new Path(statePath))) {
      val appends = readAppends(spark, statePath)
      val folded = appends.inputFiles
      if (folded.nonEmpty) {
        snapshot(statePath).replace(
          fold(withSnapshot(spark, statePath, appends)).coalesce(1))
        // a log that predates the sidecar gets one before its appends go
        recordSchema(spark, statePath, appends.schema)
        val f = fs(spark, statePath)
        folded.foreach(p => f.delete(new Path(p), false))
      }
    }
}
