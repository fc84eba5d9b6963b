package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-round k-core peeling — the degree-pruning complement of the
  * engine's other iterative graph operators (CC's pointer jumping,
  * LPA's label votes, PageRank's fixed-point): each round drops every
  * node whose CURRENT degree is below k and restricts the edge list to
  * survivors. The fixed round budget is the contract (same doctrine as
  * LPA's 4 rounds): peeling is monotone, so round R is always a sound
  * OVER-approximation of the true k-core, each extra round only
  * tightens it, and a fixed budget keeps the oracle an exact unrolled
  * replay at any scale.
  *
  * One round = one grouped count (map-side partials) + two semi-join
  * restrictions of the edge list — no all-pairs stage anywhere; rounds
  * run in [[graft.Lineage.rounds]].
  *
  * The symmetrized edge list is materialized once anyway (the round-0
  * checkpoint), so its size is known before any round runs: below the
  * [[graft.Lineage.localSolveOrdering]] gate the whole peel runs
  * driver-side over the collected pairs — a graph that small makes the
  * per-round job pair (stat collect + checkpoint) pure scheduling
  * overhead. Path equivalence is pinned in KCoreSpec.
  */
object KCore {

  final case class RoundStat(round: Int, nodesAlive: Long, edgesAlive: Long)

  /** Peel `edges` (undirected pairs `(x, y)`, one row per edge) for
    * `rounds` rounds at threshold `k`; returns per-round survivor
    * counts, round 0 = the input graph. `edgesAlive` counts DIRECTED
    * (symmetrized) edges — 2× the undirected count, the natural unit
    * of the adjacency list the rounds actually operate on. */
  def peelStats(
      edges: DataFrame,
      k: Int,
      rounds: Int,
      localSolveMaxEdges: Long = graft.Lineage.LocalSolveMaxEdges): Seq[RoundStat] = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // Edges with a null endpoint are inert from round 1 on in the
    // distributed rounds (null keys never match the semi-joins), so they
    // are dropped up front — both paths then agree on round 0 too, and
    // the driver HashMap never keys a null.
    val sym = edges.filter(col("x").isNotNull && col("y").isNotNull)
      .select(col("x").as("node"), col("y").as("nbr"))
      .unionByName(edges.filter(col("x").isNotNull && col("y").isNotNull)
        .select(col("y").as("node"), col("x").as("nbr")))
    val seed @ (live, release) = graft.Lineage.checkpointed(sym)
    if (graft.Lineage.localSolveOrdering(live, localSolveMaxEdges, "node", "nbr").isDefined) {
      val pairs = live.collect().map(r => (r.get(0), r.get(1)))
      release()
      return localPeel(pairs, k, rounds)
    }
    // round r's step first records round r-1's survivors
    val stats = scala.collection.mutable.ArrayBuffer[RoundStat]()
    val (last, releaseLast) = graft.Lineage.rounds(seed, rounds)({ (live, r) =>
      stats += stat(r - 1, live)
      val keep = live.groupBy("node").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("node")
      Some(live.join(keep, Seq("node"), "left_semi")
        .join(keep.select(col("node").as("nbr")), Seq("nbr"), "left_semi")
        .select("node", "nbr"))
    }, (_, _) => false)
    stats += stat(rounds, last)
    releaseLast()
    stats.toSeq
  }

  /** Driver-side replay of exactly the distributed rounds: directed
    * degree per `node`, keep ≥ k, restrict to edges with BOTH endpoints
    * kept — same counts, same fixed budget. */
  private def localPeel(
      pairs: Array[(Any, Any)], k: Int, rounds: Int): Seq[RoundStat] = {
    var live = pairs
    def st(r: Int) = RoundStat(r,
      live.iterator.map(_._1).toSet.size.toLong, live.length.toLong)
    val stats = scala.collection.mutable.ArrayBuffer(st(0))
    for (r <- 1 to rounds) {
      val deg = scala.collection.mutable.HashMap[Any, Long]()
      live.foreach(p => deg.update(p._1, deg.getOrElse(p._1, 0L) + 1L))
      val keep = deg.collect { case (n, d) if d >= k => n }.toSet
      live = live.filter(p => keep(p._1) && keep(p._2))
      stats += st(r)
    }
    stats.toSeq
  }

  private def stat(round: Int, live: DataFrame): RoundStat = {
    // two metadata aggregates per round — rounds-sized driver state
    val row = live.agg(
      count(lit(1)).as("e"),
      countDistinct(col("node")).as("n")).collect()(0)
    RoundStat(round, row.getLong(1), row.getLong(0))
  }
}
