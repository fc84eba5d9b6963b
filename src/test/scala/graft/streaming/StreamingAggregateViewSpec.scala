package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.etl.AggregateView

/** The streaming refresh loop's crash contract: kill the loop at the
  * widest window (view generation written, manifest not swapped, mark
  * not advanced), replay, and the view must converge to the full
  * rebuild — no double-apply, no partial serving state, mark advanced
  * only after applied work. */
class StreamingAggregateViewSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def dims(rs: (Long, Long, String)*): DataFrame = {
    val s = spark; import s.implicits._
    rs.toDF("id", "dversion", "name")
  }
  // (fid, id, fversion, amount) — fversion doubles as the feed version
  private def facts(rs: (Long, Long, Long, Long)*): DataFrame = {
    val s = spark; import s.implicits._
    rs.toDF("fid", "id", "fversion", "amount")
  }

  private def derive(d: DataFrame, f: DataFrame): DataFrame =
    d.join(
      f.groupBy("id").agg(sum("amount").as("total"), count(lit(1)).as("n")),
      Seq("id"), "left")
      .select(col("id"), col("name"),
        coalesce(col("total"), lit(0L)).as("total"),
        coalesce(col("n"), lit(0L)).as("n"))

  private def mkAv(root: String) = new AggregateView(root, Seq("id"),
    dimKeys = Seq("id"), dimOrder = Seq(col("dversion").desc),
    factKeys = Seq("fid"), factOrder = Seq(col("fversion").desc),
    derive, nBuckets = 4)

  private def viewMap(av: AggregateView): Map[Long, (String, Long, Long)] =
    av.view(spark).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap

  private val d0 = Seq((1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "c"))
  // three feed versions: new facts, a replacing version, a new key
  private val feedRows = Seq(
    (10L, 1L, 1L, 100L), (20L, 2L, 1L, 7L),   // version 1
    (10L, 1L, 2L, 150L), (30L, 3L, 2L, 40L),  // version 2 (10 replaces)
    (40L, 1L, 3L, 9L))                        // version 3

  private def fullRebuild(): Map[Long, (String, Long, Long)] = {
    val av = mkAv(Files.createTempDirectory("graft_sav_full").toString)
    av.build(dims(d0: _*), facts(feedRows: _*))
    viewMap(av)
  }

  test("micro-batches drain whole version groups and converge to the full rebuild") {
    val root = Files.createTempDirectory("graft_sav").toString
    val av = mkAv(root)
    av.build(dims(d0: _*), facts())
    val loop = new StreamingAggregateView(av.refreshFacts, s"$root/_HWM", "fversion")
    val feed = facts(feedRows: _*)
    assert(loop.highWaterMark(spark).isEmpty)
    assert(loop.processNext(feed) == Seq(1L))
    assert(loop.highWaterMark(spark).contains(1L))
    // version 1 applied, 2..3 pending
    assert(viewMap(av)(1L) == (("a", 100L, 1L)))
    assert(loop.processAvailable(feed) == 2)
    assert(loop.processNext(feed).isEmpty, "drained loop must report caught-up")
    assert(viewMap(av) == fullRebuild())
  }

  test("mid-stream kill at the widest window, then replay: converges, never partial") {
    val root = Files.createTempDirectory("graft_sav_kill").toString
    val av = mkAv(root)
    av.build(dims(d0: _*), facts())
    val loop = new StreamingAggregateView(av.refreshFacts, s"$root/_HWM", "fversion")
    val feed = facts(feedRows: _*)
    assert(loop.processNext(feed) == Seq(1L))
    val afterV1 = viewMap(av)

    // kill inside batch 2's publish: generation written, manifest NOT
    // swapped, mark NOT advanced
    final class Boom extends RuntimeException("kill")
    av.store.onBeforeSwap = () => throw new Boom
    intercept[Boom] { loop.processNext(feed) }
    av.store.onBeforeSwap = () => ()
    assert(loop.highWaterMark(spark).contains(1L),
      "mark must not advance past killed work")
    assert(viewMap(av) == afterV1,
      "a killed refresh must leave the complete version-1 view serving")

    // replay: the same version re-selects, re-applies idempotently
    // (fact state latest-wins absorbs the half-committed state write)
    assert(loop.processNext(feed) == Seq(2L))
    assert(loop.processAvailable(feed) == 1)
    assert(viewMap(av) == fullRebuild())
  }

  test("replay of applied-but-unmarked work is a no-op (crash between refresh and mark)") {
    val root = Files.createTempDirectory("graft_sav_replay").toString
    val av = mkAv(root)
    av.build(dims(d0: _*), facts())
    val loop = new StreamingAggregateView(av.refreshFacts, s"$root/_HWM", "fversion")
    val feed = facts(feedRows: _*)
    assert(loop.processAvailable(feed, maxVersions = 3) == 1)
    val applied = viewMap(av)
    assert(applied == fullRebuild())
    // simulate the crash window: work done, mark lost — rewind the mark
    graft.etl.AtomicText.write(new org.apache.hadoop.fs.Path(s"$root/_HWM"),
      "1", spark.sparkContext.hadoopConfiguration)
    assert(loop.processAvailable(feed) == 2,
      "rewound mark must re-select versions 2 and 3")
    assert(viewMap(av) == applied, "replayed rows double-applied into the view")
    assert(loop.highWaterMark(spark).contains(3L))
  }
}
