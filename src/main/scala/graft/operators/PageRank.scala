package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Weighted PageRank over an edge list, in fixed-point integer
  * arithmetic — graph centrality as an iterative DataFrame loop.
  *
  * Use case here: rank vertices of a data-derived graph (event-type
  * transition graphs from a clickstream, near-duplicate document
  * graphs) so downstream selection ("which journey stage is central",
  * "which cluster member is the representative") has a principled
  * score instead of an arbitrary min-id pick.
  *
  * All arithmetic is LONG fixed-point so runs are exactly reproducible
  * across engines (the differential oracle unrolls the same rounds in
  * DuckDB with `//` floor division — float PageRank would diverge in
  * the last ulps and break bit-level comparison):
  *
  *   - ranks carry `scale` (default 1e9) as the unit;
  *   - edge weights become per-source transition probabilities scaled
  *     by `ProbScale` (1e6): `p = (1e6 * w) div out_weight`;
  *   - one round is `pr' = base + Σ_in floor(damping · pr · p / (100 ·
  *     1e6))` with `base = (100 − damping) · scale / 100` — per-edge
  *     floor BEFORE the sum, so the sum is an exact LONG aggregate and
  *     association order cannot matter.
  *
  * Overflow headroom: `damping · pr · p ≤ 85 · (N·scale) · 1e6`, so
  * with the default scale the vertex count must stay below ~10^2·1e9
  * mass… concretely `N·scale < 1e11` (N ≤ 100 at scale=1e9) for the
  * worst-case star; callers with big vertex sets pass a smaller
  * `scale` (the result is a ranking, not a probability — only ratios
  * matter). Dangling mass (vertices without out-edges) is dropped, the
  * standard simplification.
  *
  * Scale design (100 TB): the EXPENSIVE part of "PageRank a
  * clickstream" is building the transition graph — one window + one
  * aggregate over the event log (caller-side, see
  * `RelationalQueries.graph_event_pagerank`). The loop itself runs
  * over the collapsed edge list, whose size is bounded by distinct
  * (src, dst) keys, not by corpus rows. Each round is one join + one
  * aggregate on that edge frame, run in [[graft.Lineage.rounds]].
  *
  * Below the [[graft.Lineage.localSolveOrdering]] gate the ITERATION
  * runs driver-side. Unlike CC's min-labels this is not merely
  * equivalent but BIT-IDENTICAL by construction: every operation is
  * LONG arithmetic with per-edge floors before order-independent integer
  * sums — the exact cross-engine determinism contract the oracle already
  * relies on. The corpus-sized work (transition aggregate, probability
  * scaling) stays distributed either way; only the loop over the
  * collapsed (distinct src,dst) frame localizes.
  */
object PageRank {

  /** Scaled transition probabilities: per-source weight fractions. */
  val ProbScale: Long = 1000000L

  /** Fixed-iteration weighted PageRank. Returns `(id, pr)` — `pr` is
    * the scaled LONG rank; only vertices present in `edges` appear.
    *
    * The returned frame is MATERIALIZED and cache-manager persisted —
    * all internal checkpoint storage is already released; the caller
    * frees it with a plain `unpersist()` once consumed.
    *
    * @param edges    `(srcCol, dstCol, weightCol)` rows; parallel
    *                 edges are legal (weights add)
    * @param iterations fixed round count — fixed, not convergence-probed,
    *                 so the oracle can unroll the exact same rounds
    * @param damping  percent (default 85 ≈ the classic 0.85)
    * @param scale    fixed-point unit of a rank of 1.0
    */
  def run(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      iterations: Int = 8,
      damping: Int = 85,
      scale: Long = 1000000000L,
      localSolveMaxEdges: Long = graft.Lineage.LocalSolveMaxEdges): DataFrame = {
    require(iterations >= 1, "pagerank needs at least one round")
    require(damping > 0 && damping < 100, "damping is a percent in (0, 100)")
    val e = edges
      .groupBy(col(srcCol).as("src"), col(dstCol).as("dst"))
      .agg(sum(col(weightCol).cast("long")).as("w"))
    val outw = e.groupBy("src").agg(sum("w").as("outw"))
    // collapsed edge frame with scaled probabilities — persisted once,
    // read every round (at 100 TB this is the graph a real run would
    // checkpoint; it is distinct-key-sized, not corpus-sized)
    val probs = e.join(outw, "src")
      .select(col("src"), col("dst"),
        expr(s"($ProbScale * w) div outw").as("p"))
      .persist()
    if (graft.Lineage.localSolveOrdering(probs, localSolveMaxEdges, "src", "dst").isDefined) {
      val out = localSolve(probs, iterations, damping, scale)
      probs.unpersist()
      return out
    }
    val verts = probs.select("src")
      .union(probs.select(col("dst").as("src")))
      .distinct()
      .select(col("src").as("id"))
      .persist()
    val base = (100L - damping) * scale / 100L
    val (rank, release) = graft.Lineage.rounds(graft.Lineage.checkpointed(
      verts.select(col("id"), lit(scale).as("pr"))), iterations)({ (rank, _) =>
      // per-edge floored contribution, THEN the exact long sum — the
      // floor placement is the cross-engine determinism contract
      val contrib = probs
        .join(rank.select(col("id").as("src"), col("pr")), "src")
        .groupBy(col("dst").as("id"))
        .agg(sum(expr(s"(${damping}L * pr * p) div ${100L * ProbScale}L"))
          .as("c"))
      Some(verts.join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit(base) + coalesce(col("c"), lit(0L))).as("pr")))
    }, (_, _) => false)
    probs.unpersist()
    verts.unpersist()
    graft.Lineage.detach(rank, release)
  }

  /** Driver-side replica of the distributed loop on the collected
    * collapsed-edge frame — bit-identical by construction: `div` on
    * positive LONGs is the same truncation as Scala `/`, per-edge
    * floors precede the sums, and LONG addition is order-independent. */
  private def localSolve(
      probs: DataFrame, iterations: Int, damping: Int, scale: Long): DataFrame = {
    val es = probs.collect().map(r => (r.get(0), r.get(1), r.getLong(2)))
    val base = (100L - damping) * scale / 100L
    var pr = scala.collection.mutable.HashMap[Any, Long]()
    es.foreach { case (s, d, _) => pr(s) = scale; pr(d) = scale }
    for (_ <- 1 to iterations) {
      val contrib = scala.collection.mutable.HashMap[Any, Long]()
      es.foreach { case (s, d, p) =>
        val c = damping.toLong * pr(s) * p / (100L * ProbScale)
        contrib(d) = contrib.getOrElse(d, 0L) + c
      }
      val next = scala.collection.mutable.HashMap[Any, Long]()
      pr.keysIterator.foreach(v => next(v) = base + contrib.getOrElse(v, 0L))
      pr = next
    }
    graft.Lineage.localResult(probs.sparkSession,
      pr.toSeq.map { case (v, p) => Row(v, p) },
      "id" -> probs.schema("src").dataType, "pr" -> LongType)
  }
}
