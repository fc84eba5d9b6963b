package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Synchronous label propagation (Raghavan et al. 2007), fixed round
  * budget, fully deterministic: every node starts with its own id as
  * label; each round every node adopts the MOST FREQUENT label among
  * its neighbours, ties to the SMALLEST label. Fixed rounds — not
  * convergence-tested — are the contract: synchronous LPA can 2-cycle
  * on bipartite-ish regions, and a fixed budget keeps the oracle an
  * exact unrolled replay.
  *
  * One distributed round = (edge ⋈ labels) + three map-side collapsing
  * hash aggregates — count per (node, label), max count per node, min
  * label at the max — no windows, no all-pairs. Rounds run in
  * [[graft.Lineage.rounds]]; its per-round checkpoints are MEASURED
  * load-bearing even at four fixed rounds (the lazy chain duplicates
  * each round's count subtree and the copies do not collapse to
  * ReusedExchange under AQE — 6.0 s → 27.3 s at sf0.1).
  *
  * Below the [[graft.Lineage.localSolveOrdering]] gate the rounds run
  * driver-side over the collected pairs — 2 jobs total instead of
  * 2·rounds — with the same max-count/min-label semantics. Path
  * equivalence pinned in LpaSpec.
  */
object Lpa {

  /** Labels after exactly `rounds` synchronous rounds: `(node, lbl)`,
    * one row per node of `edges` (undirected pairs `(xCol, yCol)`).
    * The returned frame is MATERIALIZED and cache-manager persisted —
    * internal checkpoint storage is already released; the caller frees
    * the result with a plain `unpersist()` once consumed. */
  def run(
      edges: DataFrame,
      xCol: String,
      yCol: String,
      rounds: Int,
      localSolveMaxEdges: Long = graft.Lineage.LocalSolveMaxEdges): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // Null-endpoint edges are dropped up front: in the distributed
    // rounds the inner join on `nbr` already ignores them (null keys
    // never match), while the driver replay would count a (node, null)
    // label and compare null through `ord` — filtering before BOTH
    // paths keeps them exactly equivalent (pinned in LpaSpec).
    val nn = edges.filter(col(xCol).isNotNull && col(yCol).isNotNull)
    val eb = nn.select(col(xCol).as("nbr"), col(yCol).as("node"))
      .unionByName(nn.select(col(yCol).as("nbr"), col(xCol).as("node")))
      .persist()
    val local = graft.Lineage.localSolveOrdering(eb, localSolveMaxEdges, "node", "nbr")
    if (local.isDefined) {
      val out = localSolve(eb, local.get, rounds)
      eb.unpersist()
      return out
    }
    val (labels, release) = graft.Lineage.rounds(graft.Lineage.checkpointed(
      eb.select(col("node")).distinct()
        .select(col("node"), col("node").as("lbl"))), rounds)({ (labels, _) =>
      val cnts = eb
        .join(labels.select(col("node").as("nbr"), col("lbl").as("nl")), "nbr")
        .groupBy(col("node"), col("nl"))
        .agg(count(lit(1)).as("cnt"))
      val best = cnts.groupBy("node").agg(max(col("cnt")).as("mc"))
      Some(cnts.join(best, Seq("node"))
        .filter(col("cnt") === col("mc"))
        .groupBy("node").agg(min(col("nl")).as("lbl")))
    }, (_, _) => false)
    val out = graft.Lineage.detach(labels, release)
    eb.unpersist()
    out
  }

  /** Driver-side replay of exactly the distributed rounds. Synchronous:
    * each round's counts read the PREVIOUS round's labels only. */
  private def localSolve(eb: DataFrame, ord: Ordering[Any], rounds: Int): DataFrame = {
    val pairs = eb.collect().map(r => (r.get(0), r.get(1))) // (nbr, node)
    var lbl = new java.util.HashMap[Any, Any]()
    pairs.foreach { case (_, node) => lbl.put(node, node) }
    for (_ <- 1 to rounds) {
      val cnt = new java.util.HashMap[(Any, Any), Long]()
      pairs.foreach { case (nbr, node) =>
        val key = (node, lbl.get(nbr))
        cnt.put(key, cnt.getOrDefault(key, 0L) + 1L)
      }
      val bestC = new java.util.HashMap[Any, Long]()
      val bestL = new java.util.HashMap[Any, Any]()
      cnt.forEach { (key, c) =>
        val (node, nl) = key
        val bc = bestC.getOrDefault(node, -1L)
        if (c > bc || (c == bc && ord.lt(nl, bestL.get(node)))) {
          bestC.put(node, c)
          bestL.put(node, nl)
        }
      }
      lbl = bestL // every node has ≥1 neighbour, so bestL covers all nodes
    }
    val idType = eb.schema("node").dataType
    graft.Lineage.localResult(eb.sparkSession,
      lbl.asScala.toSeq.map { case (node, l) => Row(node, l) },
      "node" -> idType, "lbl" -> idType)
  }
}
