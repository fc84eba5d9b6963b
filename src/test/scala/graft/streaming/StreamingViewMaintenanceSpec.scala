package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.etl.MaterializedView

/** Continuous view maintenance end to end: a CDC stream keeps a
  * MaterializedView fresh through `Streams.maintain`, and the
  * result must equal a batch FULL REBUILD over everything the stream
  * delivered — including the hard per-batch cases (late losers,
  * soft-deleted winners) and foreachBatch's at-least-once delivery
  * (a replayed batch must publish NO new generation). */
class StreamingViewMaintenanceSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def derive(state: DataFrame): DataFrame =
    state.filter(!col("deleted"))
      .select(col("id"), col("payload"), (col("version") * 10).as("derived"))

  private def rows(rs: (Long, Long, Boolean, String)*): DataFrame = {
    val s = spark; import s.implicits._
    rs.toDF("id", "version", "deleted", "payload")
  }

  private def viewMap(mv: MaterializedView): Map[Long, (String, Long)] =
    mv.view(spark).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

  test("CDC stream maintains the view; replay is a no-op; result equals full rebuild") {
    val s0 = spark
    import s0.implicits._
    implicit val sq = spark.sqlContext
    val root = Files.createTempDirectory("graft_smv").toString
    val mv = new MaterializedView(s"$root/mv", Seq("id"),
      Seq(col("version").desc), derive, nBuckets = 4)
    val base = Seq((1L, 1L, false, "a1"), (2L, 5L, false, "b5"))
    mv.build(rows(base: _*))

    val in = MemoryStream[(Long, Long, Boolean, String)]
    val q = Streams.maintain(
      in.toDF().toDF("id", "version", "deleted", "payload"), s"$root/ckpt")(mv.refresh)
    val batch1 = Seq((1L, 9L, false, "a9"), (7L, 1L, false, "g1"))
    val batch2 = Seq((2L, 6L, true, "b6"), (1L, 3L, false, "a3")) // delete winner; late loser
    try {
      in.addData(batch1: _*)
      q.processAllAvailable()
      assert(viewMap(mv) == Map(
        1L -> ("a9", 90L), 2L -> ("b5", 50L), 7L -> ("g1", 10L)))
      in.addData(batch2: _*)
      q.processAllAvailable()
      // 2's winner turned soft-deleted and vanished; 1's late v3 lost to v9
      assert(viewMap(mv) == Map(1L -> ("a9", 90L), 7L -> ("g1", 10L)))
    } finally q.stop()

    // at-least-once delivery: a crash between refresh and offset commit
    // replays the batch — a fully-replayed batch folds byte-identical
    // and must publish NO new generation
    val gens = mv.viewVersions(spark)
    mv.refresh(rows(batch2: _*))
    assert(mv.viewVersions(spark) == gens,
      "replayed CDC batch published a new generation")

    // the streamed view IS the batch full rebuild over everything delivered
    val full = new MaterializedView(s"$root/full", Seq("id"),
      Seq(col("version").desc), derive, nBuckets = 4)
    full.build(rows(base ++ batch1 ++ batch2: _*))
    assert(viewMap(mv) == viewMap(full))
  }

  test("fact stream maintains the aggregate view; equals two-sided full rebuild") {
    val s0 = spark
    import s0.implicits._
    implicit val sq = spark.sqlContext
    val root = Files.createTempDirectory("graft_sav").toString
    def dims(rs: (Long, Long, String)*) = rs.toDF("id", "dver", "name")
    def facts(rs: (Long, Long, Long, Long)*) = rs.toDF("fid", "id", "fver", "amt")
    def mkAv(r: String) = new graft.etl.AggregateView(r,
      bucketKeys = Seq("id"),
      dimKeys = Seq("id"), dimOrder = Seq(col("dver").desc),
      factKeys = Seq("fid"), factOrder = Seq(col("fver").desc),
      derive = (d, f) => d.join(f, Seq("id"))
        .groupBy("id", "name").agg(sum(col("amt")).as("total")),
      nBuckets = 4)
    val av = mkAv(s"$root/av")
    val d0 = Seq((1L, 1L, "ann"), (2L, 1L, "bob"))
    val f0 = Seq((10L, 1L, 1L, 5L), (11L, 2L, 1L, 7L))
    av.build(dims(d0: _*), facts(f0: _*))

    val in = MemoryStream[(Long, Long, Long, Long)]
    val q = Streams.maintain(
      in.toDF().toDF("fid", "id", "fver", "amt"), s"$root/ckpt")(av.refreshFacts)
    val b1 = Seq((12L, 1L, 1L, 3L))          // new deal for customer 1
    val b2 = Seq((10L, 1L, 2L, 9L))          // later version of deal 10 wins
    def viewTotals = av.view(spark).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      assert(viewTotals == Map(1L -> 8L, 2L -> 7L))
      in.addData(b2: _*)
      q.processAllAvailable()
      assert(viewTotals == Map(1L -> 12L, 2L -> 7L))
    } finally q.stop()

    // a replayed fact batch publishes no new generation
    val gens = av.viewVersions(spark)
    av.refreshFacts(facts(b2: _*))
    assert(av.viewVersions(spark) == gens)

    // streamed == two-sided full rebuild
    val full = mkAv(s"$root/full")
    full.build(dims(d0: _*), facts(f0 ++ b1 ++ b2: _*))
    assert(viewTotals == full.view(spark).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap)
  }
}
