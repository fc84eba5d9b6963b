package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Fixed-point weighted PageRank: ground truth below is an independent
  * in-memory replay of the exact integer arithmetic (per-edge floor,
  * then exact sum), so the DataFrame loop can't self-confirm. */
class PageRankSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def prMap(
      es: Seq[(String, String, Long)], iters: Int = 8,
      localMax: Long = graft.Lineage.LocalSolveMaxEdges): Map[String, Long] = {
    val s = spark
    import s.implicits._
    val ranks = PageRank.run(es.toDF("src", "dst", "w"), "src", "dst", "w", iters,
      localSolveMaxEdges = localMax)
    val got = ranks.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    ranks.unpersist()
    got
  }

  /** reference: the same fixed-point recurrence, scalar-side */
  private def reference(es: Seq[(String, String, Long)], iters: Int): Map[String, Long] = {
    val byEdge = es.groupBy(e => (e._1, e._2)).map { case (k, g) => (k, g.map(_._3).sum) }
    val outw = byEdge.groupBy(_._1._1).map { case (s0, g) => s0 -> g.values.sum }
    val p = byEdge.map { case ((a, b), w) => (a, b, PageRank.ProbScale * w / outw(a)) }
    val verts = (es.map(_._1) ++ es.map(_._2)).distinct
    var r = verts.map(_ -> 1000000000L).toMap
    for (_ <- 1 to iters) {
      val in = p.toSeq.groupBy(_._2).map { case (v, g) =>
        v -> g.map { case (u, _, pp) => 85L * r(u) * pp / 100000000L }.sum
      }
      r = verts.map(v => v -> (150000000L + in.getOrElse(v, 0L))).toMap
    }
    r
  }

  test("an in-star concentrates rank on the hub") {
    val es = Seq(("a", "hub", 1L), ("b", "hub", 1L), ("c", "hub", 1L), ("hub", "a", 1L))
    // the hub↔a exchange is a damped 2-cycle (multiplier 0.85² per
    // round-trip) — run past the oscillation so the steady state shows
    val got = prMap(es, iters = 40)
    assert(got("hub") > got("a") && got("hub") > got("b") && got("hub") > got("c"))
    // spokes b and c are symmetric (only out-edges, same shape) → equal
    assert(got("b") == got("c"))
    // "a" receives the hub's whole damped mass back, b/c receive nothing
    assert(got("a") > got("b"))
  }

  test("heavier transitions pull rank: weight matters, not just topology") {
    val light = prMap(Seq(("x", "y", 1L), ("x", "z", 1L), ("y", "x", 1L), ("z", "x", 1L)))
    val heavy = prMap(Seq(("x", "y", 9L), ("x", "z", 1L), ("y", "x", 1L), ("z", "x", 1L)))
    assert(light("y") == light("z")) // symmetric under equal weights
    assert(heavy("y") > heavy("z")) // 90% of x's mass flows to y
  }

  test("matches the scalar fixed-point replay on a random weighted graph — BOTH solve paths") {
    val rnd = new scala.util.Random(7)
    val es = Seq.fill(60)((s"v${rnd.nextInt(12)}", s"v${rnd.nextInt(12)}", 1L + rnd.nextInt(20).toLong))
      .filter(e => e._1 != e._2)
    val truth = reference(es, 6)
    assert(prMap(es, iters = 6) == truth, "local (driver) path")
    assert(prMap(es, iters = 6, localMax = 0L) == truth, "iterative (distributed) path")
  }

  test("parallel edges add weights (same graph, pre-summed vs duplicated)") {
    val dup = Seq(("a", "b", 2L), ("a", "b", 3L), ("b", "a", 4L))
    val summed = Seq(("a", "b", 5L), ("b", "a", 4L))
    assert(prMap(dup) == prMap(summed))
  }

  test("binary vertex ids take the distributed path — both gates agree") {
    // Array[Byte] HashMap keys compare by reference, so the driver solve
    // would split one vertex into several rows with split ranks; the
    // gate's type whitelist routes binary ids to the distributed rounds
    val s = spark; import s.implicits._
    val es = Seq(("a", "b", 1L), ("b", "c", 2L), ("c", "a", 1L), ("a", "c", 3L))
      .map { case (x, y, w) => (x.getBytes("UTF-8"), y.getBytes("UTF-8"), w) }
      .toDF("src", "dst", "w")
    def ranks(gate: Long) = {
      val r = PageRank.run(es, "src", "dst", "w", 6, localSolveMaxEdges = gate)
      val got = r.collect()
        .map(row => new String(row.getAs[Array[Byte]](0), "UTF-8") -> row.getLong(1))
        .toSeq.sorted
      r.unpersist()
      got
    }
    val dflt = ranks(graft.Lineage.LocalSolveMaxEdges)
    assert(dflt == ranks(0L), s"default gate $dflt vs distributed")
    assert(dflt.map(_._1) == Seq("a", "b", "c"), dflt)
  }

  test("releases every block it allocates (checkpoint + cache hygiene)") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val ranks = PageRank.run(
      prFrame(Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "a", 1L))),
      "src", "dst", "w", iterations = 5,
      localSolveMaxEdges = 0L) // force the distributed loop: its checkpoint hygiene is what this pins
    ranks.count()
    ranks.unpersist(blocking = true)
    assert(sc.getPersistentRDDs.size == before,
      "pagerank leaked checkpoint or cache blocks past its own unpersist")
  }

  private def prFrame(es: Seq[(String, String, Long)]) = {
    val s = spark
    import s.implicits._
    es.toDF("src", "dst", "w")
  }
}
