package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.{JobSites, Refusing, SharedSpark}

/** Streaming budget admission must equal the ONE-SHOT greedy prefix
  * over the concatenated batches: state carries each stratum's high
  * water across micro-batches, a stratum that fills mid-batch admits
  * exactly its remaining prefix, and later batches for a full stratum
  * admit nothing. Storage hygiene: no persisted blocks survive beyond
  * the returned (caller-released) frames. */
class BudgetGateSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def docs(rs: (Long, String, String)*): DataFrame = {
    val s = spark; import s.implicits._
    rs.toDF("doc_id", "source", "text")
  }

  private def words(n: Int, tag: String) = (1 to n).map(i => s"$tag$i").mkString(" ")

  test("admissions across batches equal the one-shot greedy prefix") {
    // the same store under a bare and a `file:`-qualified path
    Seq("", "file:").foreach { scheme =>
      val statePath = scheme + Files.createTempDirectory("graft_budget").toString + "/state"
      val budget = 25L
      val b1 = docs(
        (1L, "web", words(10, "a")),   // web: 10
        (2L, "web", words(10, "b")),   // web: 20
        (3L, "forum", words(24, "c"))) // forum: 24
      val b2 = docs(
        (4L, "web", words(5, "d")),    // web: 25 — exactly fills
        (5L, "web", words(1, "e")),    // web: would be 26 → rejected
        (6L, "forum", words(1, "f")),  // forum: 25 — fills
        (7L, "news", words(30, "g")))  // news: 30 > 25 → rejected outright
      val b3 = docs(
        (8L, "web", words(1, "h")),    // web full → rejected
        (9L, "news", words(20, "i")))  // news still empty: 20 admitted

      val (a1, s1) = BudgetGate.admitBatch(b1, "doc_id", "source", "text", statePath, budget)
      val (a2, s2) = BudgetGate.admitBatch(b2, "doc_id", "source", "text", statePath, budget)
      val (a3, s3) = BudgetGate.admitBatch(b3, "doc_id", "source", "text", statePath, budget)
      val got = (a1.collect() ++ a2.collect() ++ a3.collect()).map(_.getLong(0)).toSet
      a1.unpersist(); a2.unpersist(); a3.unpersist()

      assert(got == Set(1L, 2L, 3L, 4L, 6L, 9L), s"admitted $got")
      assert(s1 == BudgetGate.GateStats(3, 3, 0))
      assert(s2 == BudgetGate.GateStats(4, 2, 2))
      assert(s3 == BudgetGate.GateStats(2, 1, 1))

      // and the state is the per-source high water
      val state = BudgetGate.readState(spark, statePath, "source")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(state == Map("web" -> 25L, "forum" -> 25L, "news" -> 20L))
    }
  }

  test("batch admission matches the mix_token_budget greedy semantics") {
    // one batch, one stratum crossing the budget: the kept set is the
    // exact doc_id-ordered prefix, independent of input partitioning
    val statePath = Files.createTempDirectory("graft_budget2").toString + "/state"
    val batch = docs((1L to 20L).map(i => (i, "web", words(7, s"w$i"))): _*)
      .repartition(7)
    val (a, stats) = BudgetGate.admitBatch(
      batch, "doc_id", "source", "text", statePath, 50L)
    val ids = a.collect().map(_.getLong(0)).toSet
    a.unpersist()
    assert(ids == (1L to 7L).toSet, s"got $ids") // 7*7=49 <= 50 < 56
    assert(stats == BudgetGate.GateStats(20, 7, 13))
  }

  test("a failed state write leaves the previous batch's state readable") {
    // the store on a scheme whose part-file creation fails while armed:
    // the second batch's state write job starts and then fails
    Refusing.install(spark.sparkContext.hadoopConfiguration)
    val statePath = Refusing.path(Files.createTempDirectory("graft_budget4").toString + "/state")
    def state() = BudgetGate.readState(spark, statePath, "source")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (a1, _) = BudgetGate.admitBatch(
      docs((1L, "web", words(10, "a")), (2L, "forum", words(4, "b"))),
      "doc_id", "source", "text", statePath, 25L)
    a1.unpersist()
    assert(state() == Map("web" -> 10L, "forum" -> 4L))
    Refusing.armed = true
    try intercept[Exception](BudgetGate.admitBatch(
      docs((3L, "web", words(5, "c"))), "doc_id", "source", "text", statePath, 25L))
    finally Refusing.armed = false
    assert(state() == Map("web" -> 10L, "forum" -> 4L),
      "a failed state write must leave the first batch's state serving")
  }

  test("admitBatch runs no more Spark jobs than its measured count") {
    // a ceiling at the measured count per batch, not a target: a new job
    // fails here with the per-call-site breakdown
    val statePath = Files.createTempDirectory("graft_budget5").toString + "/state"
    val batches = Seq(
      docs((1L, "web", words(10, "a")), (2L, "web", words(10, "b")),
        (3L, "forum", words(24, "c"))),
      docs((4L, "web", words(5, "d")), (5L, "web", words(1, "e")),
        (6L, "forum", words(1, "f")), (7L, "news", words(30, "g"))),
      docs((8L, "web", words(1, "h")), (9L, "news", words(20, "i"))))
    for (((batch, ceiling), i) <- batches.zip(Seq(14, 16, 16)).zipWithIndex) {
      val ((a, _), sites) = JobSites(spark)(
        BudgetGate.admitBatch(batch, "doc_id", "source", "text", statePath, 25L))
      a.unpersist()
      info(s"batch ${i + 1}: ${sites.values.sum} jobs: $sites")
      assert(sites.values.sum <= ceiling,
        s"batch ${i + 1}: admitBatch ran ${sites.values.sum} jobs, ceiling $ceiling: $sites")
    }
  }

  test("gate leaves no persisted storage behind once results release") {
    val sc = spark.sparkContext
    val statePath = Files.createTempDirectory("graft_budget3").toString + "/state"
    val before = sc.getPersistentRDDs.size
    val (a, _) = BudgetGate.admitBatch(
      docs((1L, "web", words(3, "x"))), "doc_id", "source", "text", statePath, 10L)
    a.count()
    a.unpersist(blocking = true)
    assert(sc.getPersistentRDDs.size == before, "budget gate stranded storage")
  }
}
