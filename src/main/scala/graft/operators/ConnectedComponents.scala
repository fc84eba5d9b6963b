package graft.operators

import org.apache.spark.sql.DataFrame
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
  *   - per-round eager `localCheckpoint` truncates the lineage — the
  *     classic iterative-Spark failure mode is a plan that doubles every
  *     round until planning itself dominates. Each round's checkpoint
  *     blocks are released ([[graft.Lineage.checkpointed]]) the moment
  *     the next round materializes — without that, a long-lived session
  *     leaks one superseded label block set per iteration (checkpoint
  *     storage is invisible to `Dataset.unpersist` and only reclaimed
  *     if the driver happens to GC the dead RDD object);
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

  /** Edge count at or below which components are solved DRIVER-SIDE by
    * union-find on the collected (deduped, symmetric-halved) edge list
    * instead of iterating distributed rounds. Cost-based, same doctrine
    * as `BucketedView`'s `keyScopeMinStateBytes`: every distributed
    * round pays 3 shuffles + an eager checkpoint REGARDLESS of data
    * size, so a bounded edge list (≤ ~16 MB collected at this default)
    * is pure fixed overhead × O(log diameter) — the exact same labels
    * come back from one collect + one createDataFrame. History-sized
    * edge lists (the 100 TB posture) stay on the iterative path;
    * [[incrementalMerge]]'s component-collapsed delta graph (bounded by
    * the batch) is the case this is FOR. Path equivalence is pinned in
    * `ConnectedComponentsSpec`. */
  val LocalSolveMaxEdges: Long = 1L << 20

  /** Component label per vertex: `(id, comp)` where `comp` is the
    * SMALLEST vertex id in the component (deterministic canonical id).
    * Only vertices present in `edges` appear; callers attach
    * edge-less singletons with a left join + coalesce to own id.
    * Throws if `maxIter` rounds don't converge (with pointer jumping
    * that needs a component diameter over 2^maxIter).
    *
    * The returned frame is MATERIALIZED and cache-manager persisted —
    * all internal checkpoint storage is already released; the caller
    * frees the result with a plain `unpersist()` once consumed. */
  def run(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 30,
      localSolveMaxEdges: Long = LocalSolveMaxEdges): DataFrame = {
    // symmetric deduped edge list: propagation must flow both ways.
    // The local fast path needs only one direction; the symmetric
    // union stays lazy until the iterative path materializes it.
    val half = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .filter(col("src") =!= col("dst")) // self-loops don't affect components
      .distinct()
      .persist()
    val idType = half.schema("src").dataType
    val nEdges = half.count() // also materializes the persist
    // both endpoint types must agree for the driver-side solve: its maps
    // key on raw boxed ids, so a mixed src/dst frame (which the iterative
    // path's union would widen) must take the distributed path instead
    if (nEdges <= localSolveMaxEdges && half.schema("dst").dataType == idType &&
        localOrdering(idType).isDefined) {
      val out = localSolve(half, idType)
      half.unpersist()
      return out
    }
    val sym = half
      .union(half.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist()
    var (labels, releaseLabels) = graft.Lineage.checkpointed(
      sym.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("comp")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      iter += 1
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
      val observed = stepped
        .join(labels.select(col("id").as("mid"), col("comp").as("jump")),
          Seq("mid"), "left")
        .select(col("id"), col("comp"),
          least(col("mid"), coalesce(col("jump"), col("mid"))).as("new_comp"))
        .observe(s"graft_cc_$iter",
          count(when(col("new_comp") =!= col("comp"), 1)).as("changed"))
      val (jumped, releaseJumped) = graft.Lineage.checkpointed(observed)
      converged = observed.queryExecution.observedMetrics
        .get(s"graft_cc_$iter")
        .map(_.getAs[Long]("changed") == 0L)
        .getOrElse {
          probeFallbacks.incrementAndGet()
          jumped.filter(col("new_comp") =!= col("comp")).isEmpty
        }
      // this round's blocks are live (checkpointed() is eager); the
      // previous round's labels are superseded — release them NOW, not
      // when the driver's GC eventually notices the dead RDD
      releaseLabels()
      releaseLabels = releaseJumped
      labels = jumped.select(col("id"), col("new_comp").as("comp"))
    }
    sym.unpersist()
    half.unpersist()
    if (!converged) {
      releaseLabels()
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds")
    }
    // Detach the (vertex-sized) result from checkpoint storage: persist
    // through the cache manager, materialize, then drop the final
    // round's checkpoint — so the caller's ordinary `unpersist()` frees
    // everything this operator allocated.
    val out = labels.persist()
    out.count()
    releaseLabels()
    out
  }

  /** Orderings that exactly mirror the distributed path's `min(comp)`
    * semantics on EXTERNAL (collected) values. Integral/floating types
    * share Spark's numeric order; strings must compare as UTF-8 BYTES
    * (Spark's UTF8String binary order), not `String.compareTo` (UTF-16
    * code units) — they diverge on supplementary characters. Unlisted
    * types (decimals, structs…) return None and take the iterative
    * path, whose `min` needs no driver-side mirror. Shared with the
    * other cost-gated local solves ([[Lpa]]). */
  private[operators] def localOrdering(
      dt: org.apache.spark.sql.types.DataType): Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => Some(Ordering.by((a: Any) => a.asInstanceOf[Long]))
      case IntegerType => Some(Ordering.by((a: Any) => a.asInstanceOf[Int]))
      case ShortType => Some(Ordering.by((a: Any) => a.asInstanceOf[Short]))
      case ByteType => Some(Ordering.by((a: Any) => a.asInstanceOf[Byte]))
      case StringType => Some(new Ordering[Any] {
        def compare(a: Any, b: Any): Int = {
          val x = a.asInstanceOf[String]
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val y = b.asInstanceOf[String]
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          var i = 0
          val n = math.min(x.length, y.length)
          while (i < n) {
            val c = (x(i) & 0xff) - (y(i) & 0xff)
            if (c != 0) return c
            i += 1
          }
          x.length - y.length
        }
      })
      case _ => None
    }
  }

  /** Driver-side exact solve for a bounded edge list: union-find with
    * path halving over the collected edges, then per-root minimum under
    * [[localOrdering]] so labels are canonical ("comp = smallest member
    * id") exactly as the iterative path produces them. Output contract
    * matches [[run]]: persisted, materialized, freed by `unpersist()`. */
  private def localSolve(
      half: DataFrame,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val ord = localOrdering(idType).get
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
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size())
    parent.keySet().forEach { v =>
      rows.add(org.apache.spark.sql.Row(v, minOfRoot.get(find(v))))
    }
    val spark = half.sparkSession
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("comp", idType)))
    val out = spark.createDataFrame(rows, schema).persist()
    out.count()
    out
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
