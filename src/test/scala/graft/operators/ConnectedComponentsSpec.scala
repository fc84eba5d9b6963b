package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Connected components: the pair→cluster step of near-dup dedup.
  * Ground truth below is an independent union-find over the same
  * edges, so the propagation loop can't self-confirm. */
class ConnectedComponentsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def edgesDf(es: Seq[(Long, Long)]) = {
    val s = spark
    import s.implicits._
    es.toDF("src", "dst")
  }

  private def components(
      es: Seq[(Long, Long)], localMax: Long = graft.Lineage.LocalSolveMaxEdges
  ): Map[Long, Long] = {
    val labels =
      ConnectedComponents.run(edgesDf(es), "src", "dst", localSolveMaxEdges = localMax)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    labels.unpersist()
    got
  }

  /** reference union-find */
  private def unionFind(es: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("a long chain collapses to the minimum id (pointer jumping beats diameter)") {
    // path 1-2-3-...-12: diameter 11 >> the handful of rounds available
    // to pure neighbor-min within maxIter if jumping were broken
    val chain = (1L until 12L).map(i => (i, i + 1))
    // force the ITERATIVE path: a 11-edge list would otherwise solve
    // driver-side and never exercise the jump
    val got = components(chain, localMax = 0L)
    assert(got.values.toSet == Set(1L))
    assert(got.keySet == (1L to 12L).toSet)
  }

  test("disjoint components keep distinct minimum labels") {
    val es = Seq((10L, 11L), (11L, 12L), (20L, 21L), (30L, 31L), (31L, 30L))
    val got = components(es)
    assert(got == Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 30L))
  }

  test("matches union-find on a random graph — on BOTH solve paths") {
    val rnd = new scala.util.Random(42)
    val es = Seq.fill(300)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
    val truth = unionFind(es)
    assert(components(es) == truth, "local (driver union-find) path")
    assert(components(es, localMax = 0L) == truth, "iterative (distributed) path")
  }

  test("local solve matches the iterative path on string vertex ids") {
    val s = spark
    import s.implicits._
    // includes ids whose UTF-8 byte order matters for the canonical min
    val es = Seq(("b", "a"), ("a", "B"), ("z9", "z10"), ("\u00e9", "zz"))
    val df = es.toDF("src", "dst")
    def m(localMax: Long) = {
      val l = ConnectedComponents.run(df, "src", "dst", localSolveMaxEdges = localMax)
      val got = l.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      l.unpersist(); got
    }
    assert(m(graft.Lineage.LocalSolveMaxEdges) == m(0L))
  }

  test("self-loops and reversed duplicate edges are harmless") {
    val got = components(Seq((5L, 5L), (1L, 2L), (2L, 1L), (5L, 6L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("label() attaches singleton clusters for edge-less rows") {
    val s = spark
    import s.implicits._
    val df = Seq(1L, 2L, 3L, 9L).toDF("doc_id")
    val (labeled, release) = ConnectedComponents.label(
      df, "doc_id", edgesDf(Seq((2L, 3L))), "src", "dst")
    val out = labeled.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    release()
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 9L -> 9L))
  }

  test("empty edge list yields empty labels") {
    assert(components(Seq.empty) == Map.empty)
  }

  private def mergeInc(
      base: Seq[(Long, Long)], batch: Seq[(Long, Long)]): Map[Long, Long] = {
    val labels = ConnectedComponents.run(edgesDf(base), "src", "dst")
    val (upd, release) =
      ConnectedComponents.incrementalMerge(labels, edgesDf(batch), "src", "dst")
    val got = upd.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    release(); labels.unpersist()
    got
  }

  test("incrementalMerge equals a full recompute over the union, for every merge class") {
    // base: {1,2,3}, {10,11}, {20,21} — three components
    val base = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
    // batch exercises all four classes: merge two existing components
    // (3-10), attach a NEW vertex to an existing component (21-30),
    // an entirely new component (40-41), and a WITHIN-component no-op
    // edge (1-3)
    val batch = Seq((3L, 10L), (21L, 30L), (40L, 41L), (1L, 3L))
    assert(mergeInc(base, batch) == components(base ++ batch))
    // a new vertex with the SMALLEST id must become the canonical
    // label of the merged component (labels stay "min member id")
    val batch2 = Seq((0L, 11L))
    assert(mergeInc(base, batch2) == components(base ++ batch2))
    // chained merges through the batch: one batch edge-path fusing all
    // three components transitively via a fresh middle vertex
    val batch3 = Seq((3L, 99L), (99L, 10L), (11L, 20L))
    assert(mergeInc(base, batch3) == components(base ++ batch3))
    // empty batch is the identity on the vertex set
    assert(mergeInc(base, Seq.empty) == components(base))
  }

  test("incrementalMerge leaves no persisted storage behind") {
    val sc = spark.sparkContext
    System.gc()
    val base = (1L until 30L).map(i => (i, i + 1))
    val baseline = sc.getPersistentRDDs.size
    val labels = ConnectedComponents.run(edgesDf(base), "src", "dst")
    val (upd, release) = ConnectedComponents.incrementalMerge(
      labels, edgesDf(Seq((30L, 100L), (200L, 201L))), "src", "dst")
    assert(upd.count() == 33)
    release(); labels.unpersist(blocking = true)
    assert(sc.getPersistentRDDs.size <= baseline,
      s"leaked persistent RDDs: baseline $baseline, now ${sc.getPersistentRDDs.size}")
  }

  test("convergence rides the checkpoint's observe — the probe fallback never fires") {
    // the fallback re-runs each round's plan as a SECOND job; if a Spark
    // change ever routes localCheckpoint through a QueryExecution that
    // drops the CollectMetrics node, every CC round silently costs
    // double — this pin turns that into a loud failure (VERDICT r9 §4)
    ConnectedComponents.probeFallbacks.set(0L)
    val labels = ConnectedComponents.run(
      edgesDf((1L until 20L).map(i => (i, i + 1))), "src", "dst",
      localSolveMaxEdges = 0L)
    assert(labels.count() == 20)
    labels.unpersist(blocking = true)
    assert(ConnectedComponents.probeFallbacks.get() == 0L,
      "a CC round fell back to the emptiness probe (observe metric absent)")
  }

  test("repeated runs leave no persisted storage behind (checkpoint hygiene)") {
    val sc = spark.sparkContext
    // settle: evict anything a previously-run suite left to the cleaner
    System.gc()
    val es = (1L until 40L).map(i => (i, i + 1)) ++ Seq((100L, 101L))
    val baseline = sc.getPersistentRDDs.size
    (1 to 3).foreach { _ =>
      val labels = ConnectedComponents.run(edgesDf(es), "src", "dst",
        localSolveMaxEdges = 0L)
      assert(labels.count() == 42)
      labels.unpersist(blocking = true)
    }
    // every per-round checkpoint plus the final persist must be gone —
    // the exact leak class the round-5 bench measured (12.8s in-suite
    // vs 4.0s isolated on dedup_clusters)
    assert(sc.getPersistentRDDs.size <= baseline,
      s"leaked persistent RDDs: baseline $baseline, " +
        s"now ${sc.getPersistentRDDs.size}")
  }
}
