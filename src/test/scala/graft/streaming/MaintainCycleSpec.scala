package graft.streaming

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, CyclicBarrier, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.etl.{MaterializedView, SnapshotCatalog}

/** `Streams.maintainCycle` runs a micro-batch's member refreshes
  * CONCURRENTLY, waits for every one of them, and only then commits the
  * catalog cycle (or rethrows the first failure). Two views of one
  * keyed source, each refreshed by its own refresher. */
class MaintainCycleSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  /** How long a refresher waits for its sibling: long enough for a
    * loaded machine, short enough that a serial cycle fails fast. */
  private val MeetS = 5L

  private def mkViews() = {
    val s = spark; import s.implicits._
    val root = Files.createTempDirectory("graft_maintain").toString
    def view(name: String, scale: Double) =
      new MaterializedView(s"$root/$name", Seq("custno"), Seq(col("version").desc),
        derive = st => st.select(col("custno"), (col("amount") * scale).as("amount")),
        nBuckets = 4, keepVersions = 2)
    val (a, b) = (view("a", 1.0), view("b", 2.0))
    val base = Seq((1L, 1L, 10.0), (2L, 1L, 20.0)).toDF("custno", "version", "amount")
    a.build(base); b.build(base)
    val catalog = new SnapshotCatalog(s"$root/catalog")
      .register("a", a.store).register("b", b.store)
    catalog.commitCycle(spark)
    (root, a, b, catalog)
  }

  private def amounts(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getAs[Long]("custno") -> r.getAs[Double]("amount")).toMap

  test("two refreshers on different views run at the same time; one cycle commits") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val (root, a, b, catalog) = mkViews()
    val cycle0 = catalog.liveCycle(spark)
    // each refresher proceeds only once its sibling is running too: run
    // one after the other, the first one's await times out
    val meet = new CyclicBarrier(2)
    val in = MemoryStream[(Long, Long, Double)]
    val q = Streams.maintainCycle(
      in.toDF().toDF("custno", "version", "amount"), catalog, s"$root/ckpt")(
      batch => { meet.await(MeetS, TimeUnit.SECONDS); a.refresh(batch) },
      batch => { meet.await(MeetS, TimeUnit.SECONDS); b.refresh(batch) })
    try { in.addData((1L, 2L, 99.0)); q.processAllAvailable() } finally q.stop()
    assert(catalog.liveCycle(spark) == cycle0.map(_ + 1), "exactly one cycle commits")
    val views = catalog.readAll(spark).get
    assert(amounts(views("a")) == Map(1L -> 99.0, 2L -> 20.0))
    assert(amounts(views("b")) == Map(1L -> 198.0, 2L -> 40.0))
  }

  test("a failing refresher surfaces only after its sibling finished; no cycle commits") {
    val s = spark; import s.implicits._
    implicit val sq = spark.sqlContext
    val (root, a, _, catalog) = mkViews()
    val pinned = catalog.snapshot(spark)
    val failing = new CountDownLatch(1)
    val in = MemoryStream[(Long, Long, Double)]
    // the sibling starts its refresh only once the failure is on its way
    // up, so the error reaches the cycle while the sibling still runs
    val q = Streams.maintainCycle(
      in.toDF().toDF("custno", "version", "amount"), catalog, s"$root/ckpt")(
      batch => {
        assert(failing.await(MeetS, TimeUnit.SECONDS), "the sibling never started")
        a.refresh(batch)
      },
      _ => { failing.countDown(); throw new RuntimeException("injected refresher failure") })
    in.addData((2L, 2L, 55.0))
    val err = intercept[Exception](try q.processAllAvailable() finally q.stop())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("injected refresher failure")), err)
    assert(amounts(a.view(spark))(2L) == 55.0,
      "the sibling view must have absorbed the batch before the failure surfaced")
    assert(catalog.snapshot(spark) == pinned, "a failed batch must commit no catalog cycle")
    assert(amounts(catalog.readAll(spark).get("a"))(2L) == 20.0,
      "the catalog must still serve the previous cycle")
  }
}
