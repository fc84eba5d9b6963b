package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** k-core peeling on hand-drawn graphs: a dense core survives, a tail
  * peels off round by round, and a cascade (removing one node drops
  * another below k) needs the extra round the fixed budget provides. */
class KCoreSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def edges(es: (Long, Long)*) = {
    val s = spark; import s.implicits._
    es.toDF("x", "y")
  }

  test("triangle with a pendant tail: tail peels, triangle survives k=2") {
    // 1-2-3 triangle, 3-4 pendant, 4-5 pendant chain
    val g = edges((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val stats = KCore.peelStats(g, k = 2, rounds = 3)
    assert(stats.map(s => (s.round, s.nodesAlive, s.edgesAlive)) == Seq(
      (0, 5L, 10L),  // all nodes, 5 undirected = 10 directed edges
      (1, 4L, 8L),   // node 5 (deg 1) peels; 4 now deg 1 but counted next round
      (2, 3L, 6L),   // cascade: node 4 peels; triangle remains
      (3, 3L, 6L)))  // fixed point — the true 2-core
  }

  test("k larger than any degree empties the graph and stays empty") {
    val g = edges((1L, 2L), (2L, 3L))
    val stats = KCore.peelStats(g, k = 5, rounds = 2)
    assert(stats.map(_.nodesAlive) == Seq(3L, 0L, 0L))
    assert(stats.map(_.edgesAlive) == Seq(4L, 0L, 0L))
  }

  test("peeling is monotone non-increasing in both counts") {
    val g = edges((1 to 30).flatMap(i =>
      Seq((i.toLong, ((i % 30) + 1).toLong), (i.toLong, ((i % 7) + 40).toLong))): _*)
    val stats = KCore.peelStats(g, k = 3, rounds = 4)
    val nodes = stats.map(_.nodesAlive)
    val es = stats.map(_.edgesAlive)
    assert(nodes.zip(nodes.tail).forall { case (a, b) => b <= a })
    assert(es.zip(es.tail).forall { case (a, b) => b <= a })
  }

  test("local solve ≡ distributed path on the same graph (cost gate equivalence)") {
    // a graph with a dense core, a cascading tail and an isolated star,
    // peeled through BOTH paths: the default gate takes the driver-side
    // loop; gate 0 forces the distributed rounds. Same stats, round by
    // round — the r11 CC/PageRank local-solve doctrine, pinned here too.
    val g = edges(((1 to 40).flatMap(i => (i + 1 to math.min(i + 4, 40))
        .map(j => (i.toLong, j.toLong))) ++
      Seq((40L, 41L), (41L, 42L), (42L, 43L)) ++
      (50 to 56).map(i => (49L, i.toLong))): _*)
    val local = KCore.peelStats(g, k = 3, rounds = 5)
    val dist = KCore.peelStats(g, k = 3, rounds = 5, localSolveMaxEdges = 0L)
    assert(local == dist, s"local $local vs distributed $dist")
    // the gate really chose different paths: sanity that the graph is
    // small enough for the default gate and non-trivial for the peel
    assert(local.head.edgesAlive > 0 && local.last.edgesAlive < local.head.edgesAlive)
  }

  test("float ids with -0.0/0.0 take the distributed path — both gates agree") {
    // Spark's grouping normalizes -0.0 to 0.0; boxed java.lang.Double
    // equality does not. The local peel's HashMap would split node 0.0
    // into two, so the type gate must route doubles to the distributed
    // rounds — pinned by running both gate settings and demanding the
    // SAME stats (with -0.0 and 0.0 as the same dense-core node).
    val s = spark; import s.implicits._
    val g = Seq((-0.0, 1.0), (0.0, 2.0), (1.0, 2.0), (2.0, 3.0))
      .toDF("x", "y")
    val dflt = KCore.peelStats(g, k = 2, rounds = 3)
    val dist = KCore.peelStats(g, k = 2, rounds = 3, localSolveMaxEdges = 0L)
    assert(dflt == dist, s"default-gate $dflt vs distributed $dist")
    // node 0.0 (≡ -0.0), 1.0, 2.0 form the 2-core: 3 nodes survive
    assert(dflt.last.nodesAlive == 3L, dflt)
  }

  test("null-endpoint edges are dropped before both paths") {
    val s = spark; import s.implicits._
    val g = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (2L, 3L), (1L, 3L), (null, 1L), (3L, null))
      .toDF("x", "y")
    val local = KCore.peelStats(g, k = 2, rounds = 2)
    val dist = KCore.peelStats(g, k = 2, rounds = 2, localSolveMaxEdges = 0L)
    assert(local == dist, s"local $local vs distributed $dist")
    // round 0 already excludes the two null edges: 3 nodes, 6 directed
    assert(local.head == KCore.RoundStat(0, 3L, 6L), local.head)
  }

  test("the distributed peel releases every checkpoint it allocates") {
    val sc = spark.sparkContext
    // settle: evict anything a previously-run suite left to the cleaner
    System.gc()
    val baseline = sc.getPersistentRDDs.size
    KCore.peelStats(edges((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)),
      k = 2, rounds = 3, localSolveMaxEdges = 0L)
    assert(sc.getPersistentRDDs.size <= baseline,
      s"leaked persistent RDDs: baseline $baseline, now ${sc.getPersistentRDDs.size}")
  }
}
