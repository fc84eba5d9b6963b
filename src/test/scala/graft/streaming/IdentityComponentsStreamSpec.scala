package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{JobSites, SharedSpark}
import graft.operators.ConnectedComponents

/** The streaming identity-components contract: batches fold forward to
  * exactly the full-recompute map, a crash at the widest window (new
  * generation written, marker not swapped) serves the OLD map and
  * replays to convergence, and double-applying a batch (at-least-once
  * delivery) is a no-op — the idempotence that lets the maintainer run
  * WITHOUT a processed-batch ledger. */
class IdentityComponentsStreamSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def edges(es: Seq[(Long, Long)]) = {
    val s = spark
    import s.implicits._
    es.toDF("src", "dst")
  }

  private def served(statePath: String): Map[Long, Long] =
    IdentityComponents.labels(spark, statePath).get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def full(es: Seq[(Long, Long)]): Map[Long, Long] = {
    val l = ConnectedComponents.run(edges(es), "src", "dst")
    val got = l.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    l.unpersist()
    got
  }

  private final class Boom extends RuntimeException("crash before swap")

  test("three batches fold to the full-recompute map; crash + replay converges; double-apply is a no-op") {
    val statePath = Files.createTempDirectory("graft_idc").toString
    val b1 = Seq((1L, 2L), (10L, 11L), (20L, 21L))
    val b2 = Seq((2L, 3L), (30L, 31L)) // extend comp 1, new comp
    val b3 = Seq((3L, 10L), (21L, 30L)) // merge 1-10, merge 20-30
    IdentityComponents.applyBatch(spark, edges(b1), "src", "dst", statePath)
    IdentityComponents.applyBatch(spark, edges(b2), "src", "dst", statePath)
    assert(served(statePath) == full(b1 ++ b2))

    // crash at the widest window applying b3: the new generation is on
    // disk, the marker still names the b1+b2 map — readers see the
    // complete OLD state
    IdentityComponents.onBeforeSwap = () => throw new Boom
    intercept[Boom] {
      IdentityComponents.applyBatch(spark, edges(b3), "src", "dst", statePath)
    }
    IdentityComponents.onBeforeSwap = () => ()
    assert(served(statePath) == full(b1 ++ b2),
      "a crash before the marker swap must leave the old map serving")

    // replay after the crash converges to the full recompute
    IdentityComponents.applyBatch(spark, edges(b3), "src", "dst", statePath)
    val want = full(b1 ++ b2 ++ b3)
    assert(served(statePath) == want)

    // at-least-once: the SAME batch delivered again changes nothing
    IdentityComponents.applyBatch(spark, edges(b3), "src", "dst", statePath)
    assert(served(statePath) == want,
      "re-applying a committed batch must be a no-op (idempotent fold)")

    // generations are pruned to committed + previous
    val gens = new java.io.File(statePath).list().filter(_.startsWith("gen="))
    assert(gens.length <= 2, s"stale generations not pruned: ${gens.toSeq}")
  }

  test("applyBatch runs no more Spark jobs than its measured count") {
    // a ceiling at the measured count per batch, not a target: a new job
    // fails here with the per-call-site breakdown
    val statePath = Files.createTempDirectory("graft_idc_jobs").toString
    val batches = Seq(Seq((1L, 2L), (3L, 4L)), Seq((2L, 5L)), Seq((4L, 6L)))
    for (((b, ceiling), i) <- batches.zip(Seq(9, 18, 18)).zipWithIndex) {
      val (_, sites) = JobSites(spark)(
        IdentityComponents.applyBatch(spark, edges(b), "src", "dst", statePath))
      info(s"batch ${i + 1}: ${sites.values.sum} jobs: $sites")
      assert(sites.values.sum <= ceiling,
        s"batch ${i + 1}: applyBatch ran ${sites.values.sum} jobs, ceiling $ceiling: $sites")
    }
  }

  test("the maintainer leaves no persisted storage behind") {
    val sc = spark.sparkContext
    System.gc()
    val statePath = Files.createTempDirectory("graft_idc_hyg").toString
    val baseline = sc.getPersistentRDDs.size
    IdentityComponents.applyBatch(spark,
      edges((1L until 20L).map(i => (i, i + 1))), "src", "dst", statePath)
    IdentityComponents.applyBatch(spark,
      edges(Seq((20L, 40L), (50L, 51L))), "src", "dst", statePath)
    assert(sc.getPersistentRDDs.size <= baseline,
      s"leaked persistent RDDs: baseline $baseline, now ${sc.getPersistentRDDs.size}")
  }
}
