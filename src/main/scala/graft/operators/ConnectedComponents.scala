package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Connected components over an edge list — the step that turns
  * near-duplicate PAIRS into duplicate CLUSTERS so a canonical document
  * can be kept per cluster (pairs alone under-delete: a↔b and b↔c must
  * collapse to ONE survivor, not two).
  *
  * Algorithm: iterative min-label propagation with pointer jumping.
  * Each round every vertex adopts the smallest label among itself and
  * its neighbors (one join + one aggregate), then follows its label one
  * hop (`comp := label(comp)`, path doubling). The jump makes long
  * chains converge in O(log diameter) rounds instead of O(diameter) —
  * the same idea as the published large-star/small-star algorithm
  * (Kiveris et al., "Connected Components in MapReduce and Beyond"),
  * in its simplest DataFrame form.
  *
  * Scale design (100 TB):
  *   - every round is 3 shuffles over the EDGE list, never a pairwise
  *     blowup; duplicate clusters are shallow so rounds stay single-digit;
  *   - rounds run in [[graft.Lineage.rounds]]: each is cut by an eager
  *     checkpoint and releases the round it supersedes;
  *   - convergence is exact, never "maxIter iterations and hope", and
  *     costs NO extra job: the changed-label count rides the round's own
  *     materialization via `Dataset.observe` (a `CollectMetrics` node —
  *     its accumulator fills as rows stream into the eager checkpoint,
  *     where a separate emptiness probe used to re-run the round's plan
  *     as a second job every iteration).
  */
object ConnectedComponents {

  /** Diagnostic: rounds whose convergence test fell back to the
    * emptiness PROBE because the observed metric was absent from the
    * checkpoint's QueryExecution. 0 in a healthy build — the fallback
    * re-runs the round's plan as a second job, silently doubling every
    * round's cost if a Spark upgrade ever reroutes `localCheckpoint`
    * off the observed frame's execution. Pinned by
    * `ConnectedComponentsSpec` so that regression is loud, not slow. */
  private[graft] val probeFallbacks = new java.util.concurrent.atomic.AtomicLong

  /** Component label per vertex: `(id, comp)` where `comp` is the
    * SMALLEST vertex id in the component (deterministic canonical id).
    * Only vertices present in `edges` appear; callers attach
    * edge-less singletons with a left join + coalesce to own id.
    * Throws if `maxIter` rounds don't converge (with pointer jumping
    * that needs a component diameter over 2^maxIter).
    *
    * At or below `localSolveMaxEdges` deduped edges the components are
    * solved on the driver ([[graft.Lineage.localSolveOrdering]]);
    * [[incrementalMerge]]'s batch-bounded delta graph is the case that
    * gate is for.
    *
    * The returned frame is MATERIALIZED and cache-manager persisted —
    * all internal checkpoint storage is already released; the caller
    * frees the result with a plain `unpersist()` once consumed. */
  def run(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 30,
      localSolveMaxEdges: Long = graft.Lineage.LocalSolveMaxEdges): DataFrame = {
    // symmetric deduped edge list: propagation must flow both ways.
    // The local fast path needs only one direction; the symmetric
    // union stays lazy until the iterative path materializes it.
    val half = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .filter(col("src") =!= col("dst")) // self-loops don't affect components
      .distinct()
      .persist()
    val local = graft.Lineage.localSolveOrdering(half, localSolveMaxEdges, "src", "dst")
    if (local.isDefined) {
      val out = localSolve(half, local.get)
      half.unpersist()
      return out
    }
    val sym = half
      .union(half.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist()
    // each round's state is `(id, …, new_comp)`: the seed's own id, then
    // the pointer-jumped label the round computed
    var converged = false
    val (labels, release) = graft.Lineage.rounds(graft.Lineage.checkpointed(
      sym.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("new_comp"))), maxIter)({ (state, _) =>
      val labels = state.select(col("id"), col("new_comp").as("comp"))
      // smallest label among my neighbors (join on the edge list)
      val nbr = sym
        .join(labels.select(col("id").as("src"), col("comp").as("src_comp")), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("src_comp")).as("nbr_comp"))
      val stepped = labels.join(nbr, Seq("id"), "left")
        .select(col("id"), col("comp"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("mid"))
      // pointer jump: `mid` is itself a vertex id — adopt ITS label too.
      // The changed-label count is OBSERVED on the frame the checkpoint
      // materializes: one job per round does both the materialization
      // and the convergence test.
      Some(stepped
        .join(labels.select(col("id").as("mid"), col("comp").as("jump")),
          Seq("mid"), "left")
        .select(col("id"), col("comp"),
          least(col("mid"), coalesce(col("jump"), col("mid"))).as("new_comp"))
        .observe("graft_cc", count(when(col("new_comp") =!= col("comp"), 1)).as("changed")))
    }, { (observed, jumped) =>
      converged = observed.queryExecution.observedMetrics.get("graft_cc")
        .map(_.getAs[Long]("changed") == 0L)
        .getOrElse {
          probeFallbacks.incrementAndGet()
          jumped.filter(col("new_comp") =!= col("comp")).isEmpty
        }
      converged
    })
    sym.unpersist()
    half.unpersist()
    if (!converged) {
      release()
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds")
    }
    graft.Lineage.detach(labels.select(col("id"), col("new_comp").as("comp")), release)
  }

  /** Driver-side exact solve for a bounded edge list: union-find with
    * path halving over the collected edges, then per-root minimum under
    * `ord` so labels are canonical ("comp = smallest member id") exactly
    * as the iterative path produces them. */
  private def localSolve(half: DataFrame, ord: Ordering[Any]): DataFrame = {
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      var p = parent.get(r)
      while (p != null && p != r) {
        val gp = parent.get(p)
        if (gp != null) parent.put(r, gp) // path halving
        r = p
        p = parent.get(r)
      }
      r
    }
    half.collect().foreach { row =>
      val a = row.get(0)
      val b = row.get(1)
      if (parent.get(a) == null) parent.put(a, a)
      if (parent.get(b) == null) parent.put(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) parent.put(ra, rb)
    }
    val minOfRoot = new java.util.HashMap[Any, Any]()
    parent.keySet().forEach { v =>
      val r = find(v)
      val cur = minOfRoot.get(r)
      if (cur == null || ord.lt(v, cur)) minOfRoot.put(r, v)
    }
    val idType = half.schema("src").dataType
    graft.Lineage.localResult(half.sparkSession,
      parent.keySet().asScala.toSeq.map(v => Row(v, minOfRoot.get(find(v)))),
      "id" -> idType, "comp" -> idType)
  }

  /** Cluster every row of `df`: `(… , clusterCol)` where the cluster id
    * is the smallest `idCol` reachable through `edges` (rows with no
    * edge keep their own id — singleton clusters).
    *
    * The labeled frame is LAZY (it may be corpus-sized — persisting it
    * here would be wrong at 100 TB) and joins against the persisted
    * component map; the second element releases that map once the
    * caller has consumed the result. */
  def label(
      df: DataFrame,
      idCol: String,
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      clusterCol: String = "cluster_id"): (DataFrame, () => Unit) = {
    val labels = run(edges, srcCol, dstCol)
    val comp = labels
      .select(col("id").as(idCol), col("comp").as("__graft_comp"))
    val out = df.join(comp, Seq(idCol), "left")
      .withColumn(clusterCol, coalesce(col("__graft_comp"), col(idCol)))
      .drop("__graft_comp")
    (out, () => { labels.unpersist(); () })
  }

  /** INCREMENTAL merge: fold a batch of NEW edges into an existing
    * component map without recomputing history — the daily posture of
    * identity resolution (yesterday's components + today's match edges)
    * and incremental dedup (yesterday's clusters + today's near-dup
    * pairs), where a full [[run]] over the accumulated edge list grows
    * linearly with corpus age.
    *
    * The trick is COMPONENT COLLAPSE: a new edge can only merge whole
    * components, so map each new endpoint to its current component
    * (unseen endpoints are their own), build the component-level edge
    * list — at most |batch| edges of METADATA, regardless of history
    * size — and run the full CC machinery on THAT graph. History is
    * touched exactly once: a single relabel join against the
    * (batch-sized) remap. Labels stay canonical ("comp = smallest
    * member id") because min-label propagation over component ids IS
    * min over their members.
    *
    * Returns the updated `(id, comp)` map — old vertices relabeled
    * where merges touched them, new endpoints appended — LAZY like
    * [[label]]'s output, plus a releaser for the internal delta-CC
    * result; equality with `run(old ∪ batch)` is pinned in
    * `ConnectedComponentsSpec`. */
  def incrementalMerge(
      labels: DataFrame, // (id, comp) from run() or a previous merge
      newEdges: DataFrame,
      srcCol: String,
      dstCol: String): (DataFrame, () => Unit) = {
    val ends = newEdges.select(col(srcCol).as("id"))
      .union(newEdges.select(col(dstCol).as("id")))
      .filter(col("id").isNotNull).distinct()
    val endComps = ends.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    val compEdges = newEdges
      .join(endComps.select(col("id").as(srcCol), col("comp").as("ca")), srcCol)
      .join(endComps.select(col("id").as(dstCol), col("comp").as("cb")), dstCol)
      .select("ca", "cb")
      .filter(col("ca") =!= col("cb"))
    val merged = run(compEdges, "ca", "cb") // delta-sized comp-graph CC
    val remap = merged.select(col("id").as("comp"), col("comp").as("new_comp"))
    val updatedOld = labels.join(remap, Seq("comp"), "left")
      .select(col("id"), coalesce(col("new_comp"), col("comp")).as("comp"))
    val newRows = endComps.join(labels.select("id"), Seq("id"), "left_anti")
      .join(remap, Seq("comp"), "left")
      .select(col("id"), coalesce(col("new_comp"), col("comp")).as("comp"))
    (updatedOld.unionByName(newRows), () => { merged.unpersist(); () })
  }
}
