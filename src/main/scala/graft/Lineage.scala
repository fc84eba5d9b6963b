package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Scoped Spark job descriptions (guide §1.5: label your jobs). The
  * multi-job operators (materialized-view build/refresh, generation
  * publishes) submit dozens of jobs per call; unlabeled they all read
  * as `withThreadLocalCaptured at CompletableFuture.java` in the UI and
  * in listener-based profiles, which makes per-phase attribution
  * impossible. The description is a thread-local Spark property, so the
  * helper restores the caller's previous label on exit (operators nest:
  * a refresh's publish runs inside the refresh's own label scope). */
object JobLabel {
  def apply[T](spark: org.apache.spark.sql.SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(prev)
  }
}

/** Lineage-severing helpers shared by the iterative / read-overwrite
  * operators (materialized-view refresh, the idempotent event sink),
  * plus the round loop and local-solve gate of the iterative graph
  * operators (ConnectedComponents, Lpa, PageRank, KCore, BpeMerges).
  */
object Lineage {

  /** Eager `localCheckpoint` plus an explicit releaser for its storage.
    *
    * Checkpoint blocks are NOT freed by `Dataset.unpersist` (they live
    * outside the cache manager) and are otherwise reclaimed only when
    * the driver's context cleaner happens to GC the dead RDD object —
    * asynchronous and timing-dependent. In a long-lived session running
    * many queries that is a steady storage-memory leak, so operators
    * that checkpoint internally must release their blocks explicitly
    * once the last consumer has run.
    */
  def checkpointed(df: DataFrame): (DataFrame, () => Unit) = {
    // Already a materialized leaf (a SharedFrames memo, or a prior
    // checkpoint): a second localCheckpoint would only copy the stored
    // blocks into a duplicate set. Reuse the frame as-is with a no-op
    // releaser — the blocks belong to the original owner, which is
    // exactly why they must NOT be released here. A checkpoint leaf
    // whose blocks were already released has no lineage left to
    // recompute from: re-checkpointing it fails inside a task (or
    // silently succeeds while stray blocks remain), so refuse it here.
    org.apache.spark.sql.GraftSqlShim.leafRdd(df) match {
      case Some(rdd) if rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE =>
        return (df, () => ())
      case Some(rdd) if rdd.isCheckpointed =>
        throw new IllegalStateException(
          s"graft.Lineage.checkpointed: checkpoint leaf $rdd was already " +
            "released; its frame cannot be read")
      case _ =>
    }
    // measured-size stats (see SharedFrames.cached): a checkpointed CDC
    // batch is usually tiny, and re-stamping it with its real block
    // bytes lets the planner broadcast it in the refresh's anti/semi
    // joins instead of trusting the origin plan's inflated estimate
    val cp = org.apache.spark.sql.GraftSqlShim.withMeasuredStats(
      df.localCheckpoint(eager = true))
    // The checkpoint's storage is exactly the RDD inside the returned
    // frame's LogicalRDD leaf. Releasing that (and only that) is safe
    // under concurrent jobs — unlike diffing getPersistentRDDs, which
    // could capture (and later drop) someone else's localCheckpoint
    // blocks, an unrecoverable loss once their lineage is severed.
    val rdd = org.apache.spark.sql.GraftSqlShim.leafRdd(cp).getOrElse(
      throw new IllegalStateException(
        "graft.Lineage.checkpointed: the checkpointed frame's leaf is " +
          s"${cp.queryExecution.analyzed.nodeName}, not a LogicalRDD; " +
          "its blocks could not be released"))
    (cp, () => rdd.unpersist(blocking = false))
  }

  /** The checkpointed round loop of the iterative graph operators.
    * `seed` is round 0 as [[checkpointed]] returns it. Round r eagerly
    * checkpoints `step(state, r)` — the per-round cut that keeps a loop's
    * plan from doubling every round until planning dominates — and then
    * releases round r-1, which nothing reads any more; without that, a
    * long-lived session keeps one superseded block set per round. The
    * loop ends when `step` returns None (no round r), when
    * `done(built, state)` holds for the frame the step built and its
    * checkpoint, or after `maxRounds` rounds. Returns the last round's
    * frame and releaser: [[detach]] it or release it. */
  private[graft] def rounds(seed: (DataFrame, () => Unit), maxRounds: Int)(
      step: (DataFrame, Int) => Option[DataFrame],
      done: (DataFrame, DataFrame) => Boolean): (DataFrame, () => Unit) = {
    var (state, release) = seed
    var r = 0
    var stop = false
    while (!stop && r < maxRounds) {
      r += 1
      step(state, r) match {
        case None => stop = true
        case Some(built) =>
          val (next, releaseNext) = checkpointed(built)
          release()
          state = next
          release = releaseNext
          stop = done(built, next)
      }
    }
    (state, release)
  }

  /** Detaches a result from checkpoint storage: persists `df` through
    * the cache manager, materializes it, then runs the checkpoint's
    * `release` — so the caller frees everything with `unpersist()`. */
  private[graft] def detach(df: DataFrame, release: () => Unit): DataFrame = {
    val out = df.persist()
    out.count()
    release()
    out
  }

  /** Edge count at or below which the iterative graph operators solve
    * DRIVER-SIDE over the collected edges instead of running distributed
    * rounds. Cost-based, same doctrine as `BucketedView`'s
    * `keyScopeMinStateBytes`: every distributed round pays its shuffles
    * and an eager checkpoint REGARDLESS of data size, so a bounded edge
    * list (2^20 two-field rows collect to a few tens of MB) is pure fixed
    * overhead per round. History-sized edge lists (the 100 TB posture)
    * keep the distributed rounds. Each operator's spec pins its two paths
    * equal. */
  private[graft] val LocalSolveMaxEdges: Long = 1L << 20

  /** The local-solve gate. `edges` must be persisted or checkpointed:
    * its count here is the gate's one job. Returns the ordering for a
    * driver-side solve when `edges` has at most `maxEdges` rows and
    * columns `a` and `b` share a type [[localOrdering]] covers; None
    * sends the operator to its distributed rounds. The whitelist is the
    * equality test too: the driver solves key `HashMap`s on raw boxed
    * ids, and only for these types is boxed equality Spark's grouping
    * equality (binary compares by reference, float/double split -0.0
    * from 0.0). */
  private[graft] def localSolveOrdering(
      edges: DataFrame, maxEdges: Long, a: String, b: String): Option[Ordering[Any]] = {
    val n = edges.count()
    val idType = edges.schema(a).dataType
    if (n <= maxEdges && edges.schema(b).dataType == idType) localOrdering(idType)
    else None
  }

  /** Orderings that exactly mirror the distributed paths' `min`
    * semantics on EXTERNAL (collected) values. Integral types share
    * Spark's numeric order; strings must compare as UTF-8 BYTES (Spark's
    * UTF8String binary order), not `String.compareTo` (UTF-16 code
    * units) — they diverge on supplementary characters. Unlisted types
    * (decimals, structs…) return None and take the distributed path,
    * whose `min` needs no driver-side mirror. */
  private def localOrdering(dt: DataType): Option[Ordering[Any]] = dt match {
    case LongType => Some(Ordering.by((a: Any) => a.asInstanceOf[Long]))
    case IntegerType => Some(Ordering.by((a: Any) => a.asInstanceOf[Int]))
    case ShortType => Some(Ordering.by((a: Any) => a.asInstanceOf[Short]))
    case ByteType => Some(Ordering.by((a: Any) => a.asInstanceOf[Byte]))
    case StringType => Some(new Ordering[Any] {
      def compare(a: Any, b: Any): Int = {
        val x = a.asInstanceOf[String]
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val y = b.asInstanceOf[String]
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var i = 0
        val n = math.min(x.length, y.length)
        while (i < n) {
          val c = (x(i) & 0xff) - (y(i) & 0xff)
          if (c != 0) return c
          i += 1
        }
        x.length - y.length
      }
    })
    case _ => None
  }

  /** A driver solve's result as the distributed path returns it:
    * persisted, materialized, freed by `unpersist()`. */
  private[graft] def localResult(
      spark: org.apache.spark.sql.SparkSession,
      rows: Seq[Row],
      fields: (String, DataType)*): DataFrame = {
    val out = spark.createDataFrame(rows.asJava,
      StructType(fields.map { case (name, dt) => StructField(name, dt) })).persist()
    out.count()
    out
  }
}
