package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bounded-memory cross-batch dedup state — a deterministic, mergeable
  * Bloom filter over document content, kept as a RELATIONAL bitset so
  * the state is a ≤`Words`-row table no matter how many documents it
  * has absorbed.
  *
  * Why this exists beside the exact stores: [[graft.sinks.EventSink
  * .ProcessedIds]] (and the exact-dedup rank pass) keep the FULL key
  * set — the right call when every id must be re-derivable, but at
  * 100 TB the "have I seen this content before" ingest question cannot
  * afford a state table that grows with history. The production answer
  * (the shape web-scale dedup pipelines use for cross-shard screening)
  * is an approximate-membership filter with a measured, tunable
  * false-positive rate: false POSITIVES divert a clean document to the
  * quarantine lane (auditable, recoverable); false NEGATIVES — a real
  * duplicate slipping through — are structurally IMPOSSIBLE, which is
  * the half of the guarantee a dedup screen actually needs.
  *
  * Distinct from [[BloomPrune]] on purpose: BloomPrune is a COST
  * optimization whose exactness is restored by the anti-join behind
  * it; this filter IS the state — its false-positive behavior is a
  * first-class, measured property (`dedup_bloom_fpr`), not an
  * implementation detail.
  *
  * Determinism contract (what makes the DuckDB differential possible):
  * probe `i` of a key is the first [[HexLen]] hex chars of
  * `md5("bloom<i>|" || key)` — the same md5-hex hash space every other
  * cross-engine operator here uses (see `LlmQueries`), so the bit
  * positions, the screen decisions and the false-positive accounting
  * replay bit-identically in ANSI SQL with no engine-private hashing.
  *
  * Sizing: the position space is 16^[[HexLen]] = [[Positions]] bits —
  * deliberately SMALL so the false-positive path is non-vacuous at the
  * differential's scale (an empirically-zero-FP filter would leave the
  * accounting untested). Production sizing is the standard
  * bits-per-key trade (m ≈ −n·ln p / (ln 2)², k ≈ (m/n)·ln 2) and only
  * changes the two constants; every downstream shape (bitset rows ≤
  * m/64, OR-merge, broadcast probe) is unchanged.
  *
  * 100 TB posture: the filter build is a distributed explode + distinct
  * + 64-bit-word aggregate (partial aggregation collapses map-side; the
  * driver never sees positions); the state is ≤ m/64 rows (here
  * [[Words]] = 64) so the screen side BROADCASTS it and the probe is a
  * map-side join — per-batch cost is the batch's rows, independent of
  * how much history the filter has absorbed. Merging two filters is a
  * bitwise-OR groupBy: idempotent, commutative, associative — safe
  * under at-least-once replay and shard-parallel builds by
  * construction.
  */
object BloomDedup {

  /** Hex-prefix length of a probe position: position space = 16^HexLen. */
  val HexLen = 3

  /** Number of bit positions (16^[[HexLen]]). */
  val Positions: Long = 1L << (4 * HexLen)

  /** Bitset words (64 bits each) — the state's maximum row count. */
  val Words: Long = Positions / 64

  /** Probes per key. */
  val DefaultK = 2

  /** The k probe positions of `key`, each a [[HexLen]]-char md5-hex
    * prefix. Duplicate positions within one key's array are kept (a
    * colliding probe pair must still count twice in the hit total, or
    * the `hits == k` flag rule would drift from the SQL replay). */
  def probePositions(key: Column, k: Int = DefaultK): Column =
    array((0 until k).map(i =>
      substring(md5(concat(lit(s"bloom$i|"), key)), 1, HexLen)): _*)

  /** The SET BITS of a filter over `df`'s keys, in position-string form:
    * one `pos` row per distinct set position. This is the portable/
    * auditable face of the state; [[toBitset]] packs it 64× denser. */
  def positionsOf(df: DataFrame, key: Column, k: Int = DefaultK): DataFrame =
    df.select(explode(probePositions(key, k)).as("pos")).distinct()

  /** Pack position strings into the bitset-word table `(word, bits)` —
    * ≤ [[Words]] rows regardless of input size. Spark-side only (the
    * hex→int hop never crosses into an oracle): `p = conv(pos, 16, 10)`,
    * `word = p div 64`, `bit = p mod 64`. */
  def toBitset(positions: DataFrame): DataFrame =
    positions
      .select(conv(col("pos"), 16, 10).cast("long").as("p"))
      .select((col("p") / 64).cast("long").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(p, 64) AS INT))").as("mask"))
      .groupBy("word").agg(expr("bit_or(mask)").as("bits"))

  /** OR-merge bitset states — idempotent, commutative, associative. */
  def mergeBitsets(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("word").agg(expr("bit_or(bits)").as("bits"))

  /** Build the bitset state for `df`'s keys in one pass. */
  def buildBitset(df: DataFrame, key: Column, k: Int = DefaultK): DataFrame =
    toBitset(positionsOf(df, key, k))

  /** Screen `batch` against a bitset state: per input row, how many of
    * its k probes hit a set bit, and the membership verdict
    * (`flagged ⇔ hits == k` — the Bloom rule). Output = `idCols` ++
    * `(n_probes_set, flagged)`, one row per input row. `idCols` must
    * uniquely identify rows (the per-row probe explode is re-collapsed
    * by them).
    *
    * The state side is ≤ [[Words]] rows and is broadcast; the probe is
    * a map-side left join + per-row aggregate — no shuffle of the
    * batch beyond the id-collapse, cost independent of history size. */
  def screen(
      batch: DataFrame,
      key: Column,
      state: DataFrame,
      idCols: Seq[String],
      k: Int = DefaultK): DataFrame = {
    val probes = batch
      .select(idCols.map(col) :+ explode(probePositions(key, k)).as("pos"): _*)
      .select(idCols.map(col) :+ conv(col("pos"), 16, 10).cast("long").as("p"): _*)
      .select(idCols.map(col) ++ Seq(
        (col("p") / 64).cast("long").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(p, 64) AS INT))").as("mask")): _*)
    probes
      .join(broadcast(state), Seq("word"), "left")
      .select(idCols.map(col) :+
        when(col("bits").isNotNull && (col("bits").bitwiseAND(col("mask")) === col("mask")),
          lit(1L)).otherwise(lit(0L)).as("hit"): _*)
      .groupBy(idCols.map(col): _*)
      .agg(sum(col("hit")).as("n_probes_set"))
      .withColumn("flagged", col("n_probes_set") === lit(k.toLong))
  }

  /** The CROSS-BATCH bitset state as an [[graft.etl.AppendLog]] store:
    * each micro-batch appends its (word, bits) rows; reads fold the log
    * with the bitwise-OR groupBy; compact folds it into ≤ [[Words]]
    * rows. The fold is idempotent over re-appended rows (OR), so an
    * at-least-once replay of a state append (or of a compact's fold)
    * changes nothing — the crash-safety contract the streaming screen
    * leans on. */
  object State {
    private def empty(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("word", LongType), StructField("bits", LongType))))
    }

    private def fold(log: DataFrame): DataFrame =
      log.groupBy("word").agg(expr("bit_or(bits)").as("bits"))

    def load(spark: org.apache.spark.sql.SparkSession, statePath: String): DataFrame =
      graft.etl.AppendLog.load(spark, statePath, fold, empty(spark))

    def append(bitset: DataFrame, statePath: String): Unit =
      graft.etl.AppendLog.append(bitset, statePath)

    def compact(spark: org.apache.spark.sql.SparkSession, statePath: String): Unit =
      graft.etl.AppendLog.compact(spark, statePath, fold)
  }
}
