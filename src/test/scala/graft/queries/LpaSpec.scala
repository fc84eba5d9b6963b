package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkEntry}

/** Structural sanity of the synchronous LPA communities (the DuckDB
  * differential replays the identical rounds; this pins that the
  * output is a real partition with real structure, deterministically).
  */
class LpaSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.01"

  test("communities form a non-degenerate partition and are deterministic") {
    val df = SparkEntry.queries("graph_lpa_communities")(spark, dir)
    val rows = df.collect()
    df.unpersist()
    assert(rows.nonEmpty)
    val byComm = rows.groupBy(_.getAs[Long]("community"))
    assert(byComm.size > 1, "everything collapsed into one community")
    assert(byComm.size < rows.length, "no labels propagated — all singletons")
    assert(byComm.exists(_._2.length >= 5), "no community of meaningful size formed")
    // community_size is consistent with the actual partition
    for ((_, members) <- byComm)
      assert(members.forall(_.getAs[Long]("community_size") == members.length))

    val df2 = SparkEntry.queries("graph_lpa_communities")(spark, dir)
    val again = df2.collect()
    df2.unpersist()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq, "non-deterministic")
  }

  test("local solve ≡ distributed rounds (cost gate equivalence)") {
    // same graph through both paths: the default gate takes the
    // driver-side loop, gate 0 forces the distributed rounds — labels
    // must match node for node (max-count/min-label tie-breaks and the
    // synchronous update discipline both replayed exactly)
    val s = spark; import s.implicits._
    val edges = ((1 to 25).flatMap(i => (i + 1 to math.min(i + 3, 25))
        .map(j => (i.toLong, j.toLong))) ++
      (30 to 40).map(i => (i.toLong, (i + 1).toLong)) ++
      Seq((25L, 30L))).toDF("x", "y")
    def labelsOf(gate: Long) = {
      val df = graft.operators.Lpa.run(edges, "x", "y", rounds = 4,
        localSolveMaxEdges = gate)
      val m = df.collect().map(r => r.get(0) -> r.get(1)).toMap
      df.unpersist()
      m
    }
    val local = labelsOf(graft.Lineage.LocalSolveMaxEdges)
    val dist = labelsOf(0L)
    assert(local.nonEmpty && local == dist,
      s"paths diverged: ${local.toSeq.diff(dist.toSeq).take(5)} vs " +
        s"${dist.toSeq.diff(local.toSeq).take(5)}")
  }

  test("null-endpoint edges are filtered before both paths") {
    // distributed rounds drop null-key join matches implicitly; the
    // driver replay used to count a (node, null-label) vote and compare
    // null through the ordering — the up-front filter makes the paths
    // identical by construction, pinned here with nulls in the input
    val s = spark; import s.implicits._
    val edges = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (2L, 3L), (1L, 3L), (null, 1L), (2L, null),
      (10L, 11L), (11L, 12L)).toDF("x", "y")
    def labelsOf(gate: Long) = {
      val df = graft.operators.Lpa.run(edges, "x", "y", rounds = 3,
        localSolveMaxEdges = gate)
      val m = df.collect().map(r => r.get(0) -> r.get(1)).toMap
      df.unpersist()
      m
    }
    val local = labelsOf(graft.Lineage.LocalSolveMaxEdges)
    val dist = labelsOf(0L)
    assert(local == dist, s"paths diverged on null input: $local vs $dist")
    assert(!local.keySet.contains(null), "null node leaked into labels")
  }

  test("the distributed rounds release every block they allocate") {
    val s = spark; import s.implicits._
    val sc = spark.sparkContext
    // settle: evict anything a previously-run suite left to the cleaner
    System.gc()
    val baseline = sc.getPersistentRDDs.size
    val labels = graft.operators.Lpa.run(
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("x", "y"), "x", "y",
      rounds = 3, localSolveMaxEdges = 0L)
    assert(labels.count() == 4)
    labels.unpersist(blocking = true)
    assert(sc.getPersistentRDDs.size <= baseline,
      s"leaked persistent RDDs: baseline $baseline, now ${sc.getPersistentRDDs.size}")
  }
}
