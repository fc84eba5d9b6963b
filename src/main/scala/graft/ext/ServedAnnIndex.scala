package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.GenerationStore
import graft.expressions.{Int8CosineSimilarity, QuantizeInt8}

/** An IVF index SERVED from the lake — the ANN operators
  * ([[Similarity]]) composed with the serving layer
  * ([[graft.etl.GenerationStore]]), closing the gap between "we can
  * compute IVF top-k over a frame" and "a production retrieval tier
  * keeps an index on disk, appends each ingest batch, and answers
  * queries while doing so":
  *
  *   - POSTINGS live in a generation store hive-partitioned by their
  *     centroid bucket, so one search's scan statically prunes to its
  *     `nprobe` probed bucket DIRECTORIES — the (k−nprobe)/k of the
  *     corpus a probe skips is skipped on DISK, the property the
  *     in-memory `ivfTopKQuantized` documents for externally-stored
  *     inverted lists, here made the index's own layout;
  *   - CENTROIDS ride the SAME store in one reserved bucket
  *     ([[ServedAnnIndex.CentroidBucket]], schema-shaped as posting
  *     rows), so one manifest versions both halves: a search that
  *     resolved centroids from version N can never score postings from
  *     version N±1 — the torn read that mis-probes (the bucket ranking
  *     and the bucket contents must come from the same index build);
  *   - [[search]], the one query path (a `(q_id, qv)` table, live or
  *     pinned version, float or int8-shortlisted scoring), resolves
  *     ONE archived manifest ([[GenerationStore.readBucketsAt]]) —
  *     concurrent `add` publishes move the live manifest, never the
  *     search's pinned version, and `keepVersions` plus the
  *     [[graft.etl.SnapshotCatalog]] pin hook give in-flight searches
  *     the same grace the view stack's readers get (a served index is a
  *     catalog member like any view: registering it pins index version
  *     and corpus-view version in one cross-view snapshot).
  *
  * Incremental contract (same doctrine as the screens'
  * `IncrementalIndexParitySpec`): centroids are FROZEN at [[build]];
  * [[add]] assigns each batch against the served centroid set and
  * rewrites only the touched buckets — per-batch cost is the batch's
  * buckets, never the index. Re-adding a vec_id is an idempotent
  * replay (same embedding ⇒ same rows after the merge dedup); a
  * re-EMBEDDED vec_id must arrive as delete + insert — [[update]]
  * composes exactly that from [[delete]] + [[add]], like any re-keyed
  * row in the bucketed stores. Retraining centroids = a new
  * [[build]] (which publishes a complete new generation set
  * atomically — readers keep the old index until the swap).
  *
  * 100 TB posture: build is one assignment pass over the corpus plus a
  * bucket-clustered write; add is O(batch + touched buckets); search
  * reads k centroid rows + the union of its queries' probed bucket
  * directories. Nothing driver-side exceeds the centroid table (k rows
  * of metadata — the blessed `probedCentroidIds` standing).
  */
final class ServedAnnIndex(
    root: String,
    nCentroids: Int,
    nAssign: Int = 1,
    keepVersions: Int = 2) {

  import ServedAnnIndex.CentroidBucket

  private val bucketCol = "__ivf_bucket"

  /** The manifest-protocol store — register it in a
    * [[graft.etl.SnapshotCatalog]] to pin index searches to the same
    * cycle as the corpus views they serve. */
  val store = new GenerationStore(s"$root/index", bucketCol, keepVersions)

  /** Committed index versions readable right now. */
  def versions(spark: SparkSession): Seq[Long] = store.versions(spark)

  private def metaPath = new org.apache.hadoop.fs.Path(root, "_ANN_META")

  /** The assignment multiplicity the index ON DISK was built with —
    * correctness state, so it is PERSISTED at [[build]] and read back
    * here rather than trusted from a handle's constructor: the dedup
    * that keeps a multi-assigned vector from claiming several result
    * ranks must fire based on how the postings were actually written,
    * not on how the (possibly defaulted) reader handle was
    * constructed. Falls back to the constructor value for a pre-meta
    * index (whose builder and reader must then agree, the old
    * contract). One tiny driver-side read per search. */
  private def storedNAssign(spark: SparkSession): Int =
    graft.etl.AtomicText.read(metaPath, spark.sparkContext.hadoopConfiguration)
      .flatMap(_.linesIterator.collectFirst {
        case ServedAnnIndex.MetaAssign(n) => n.toInt
      }).getOrElse(nAssign)

  private def postingShape(assigned: DataFrame): DataFrame =
    assigned.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding"), col("centroid_id").cast("long").as("centroid_id"))

  /** Attach the stored int8 copy ([[Similarity.quantize]]) and the
    * bucket partition column — called at EVERY posting write
    * (build/add/delete rewrite), so [[search]]'s `rerank` stage
    * always finds `qvec` beside the float vector. Quantization is a
    * pure function of the embedding, so recomputing on a merge/rewrite
    * is byte-identical to carrying the stored copy — the merge paths
    * stay 3-column and can never drift from it. */
  private def writeShape(rows: DataFrame): DataFrame =
    Similarity.quantize(rows).withColumn(bucketCol, col("centroid_id"))

  /** Train centroids, assign the corpus, publish postings + centroid
    * rows as one atomic generation set. Returns the committed index
    * version.
    *
    * `train` picks the centroid strategy: the default
    * [[ServedAnnIndex.IdInit]] is the deterministic id-init stand-in
    * the ANN differentials replay in SQL; [[ServedAnnIndex.Lloyd]]
    * trains real k-means centroids ([[Similarity
    * .trainCentroidsKMeans]]) — the QUALITY build (better-balanced
    * buckets ⇒ higher recall at the same nprobe, pinned ≥ id-init in
    * `ServedAnnIndexSpec`), at the cost of `iters` extra corpus passes
    * and SQL-inexpressible centroids (differentials stay on id-init;
    * the serving machinery is identical either way). */
  def build(
      vectors: DataFrame,
      train: (DataFrame, Int) => DataFrame = Similarity.trainCentroidsById(_, _)): Long = {
    val v = vectors.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val centroids = train(v, nCentroids)
    val postings = postingShape(
      Similarity.assignToCentroids(v, centroids, nAssign = nAssign))
    val centroidRows = centroids.select(
      col("centroid_id").as("vec_id"),
      col("centroid").as("embedding"),
      col("centroid_id"))
    // bucket ids are the centroid ids themselves (k rows of metadata)
    val bucketIds = centroids.select("centroid_id")
      .collect().map(_.getLong(0)).toSeq
    // centroid rows carry centroid_id = CentroidBucket, so one rule
    // places every row: bucket = its centroid_id
    val rows = writeShape(postings
      .unionByName(centroidRows.withColumn("centroid_id", lit(CentroidBucket))))
    // a REBUILD must fully replace the index: the store's publish
    // carries forward every unlisted bucket, so a retrain whose
    // centroid-id set differs from the previous build would otherwise
    // leave the old build's posting buckets live in the manifest (full
    // reads mixing two builds, GC retaining them forever). Advancing
    // the previous live bucket ids alongside the new ones publishes
    // them as EMPTY in the new generation — resolve treats a bucket
    // with no files as absent — so the swap is a complete replacement.
    val prevBuckets = store.manifest(v.sparkSession)
      .map(_.keySet).getOrElse(Set.empty[Long])
    // persist the assignment multiplicity BEFORE the swap — written at
    // every (re)build so reader handles gate dedup on the on-disk
    // truth; a crash in between leaves meta beside an unswapped build,
    // which the next build simply overwrites
    graft.etl.AtomicText.write(metaPath, s"nAssign=$nAssign",
      v.sparkSession.sparkContext.hadoopConfiguration)
    val version = store.publish(rows,
      (prevBuckets ++ bucketIds + CentroidBucket).toSeq.sorted)
    // a Lloyd trainer hands back a persisted k-row table (it
    // materializes per iteration); fully consumed by the publish —
    // release it so the build leaves no storage residue
    if (centroids.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      centroids.unpersist()
    version
  }

  /** The frozen centroid table exactly as version `v` serves it. */
  def centroidsAt(spark: SparkSession, v: Long): Option[DataFrame] =
    store.readBucketsAt(spark, v, Seq(CentroidBucket)).map(
      _.select(col("vec_id").as("centroid_id"), col("embedding").as("centroid")))

  /** Append an ingest batch: assign against the SERVED (frozen)
    * centroids, merge into only the touched buckets, publish — one
    * atomic manifest swap, untouched buckets never opened. Returns the
    * new committed version (or the current one for an empty batch). */
  def add(batch: DataFrame): Long = {
    val spark = batch.sparkSession
    val v = store.versions(spark).lastOption.getOrElse(
      throw new IllegalStateException(s"ServedAnnIndex at $root was never built"))
    val centroids = centroidsAt(spark, v).getOrElse(
      throw new IllegalStateException(s"index version $v lost its centroid bucket"))
    // assign with the multiplicity the index ON DISK was built with —
    // a reader/writer handle whose constructor disagrees must not mix
    // single- and multi-assigned batches into one index
    val assigned = postingShape(Similarity.assignToCentroids(
      batch.select(col("vec_id").cast("long").as("vec_id"), col("embedding")),
      centroids, nAssign = storedNAssign(spark)))
    // touched buckets: bounded by the centroid count — metadata
    val touched = assigned.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    if (touched.isEmpty) return v
    val existing = store.readBuckets(spark, touched)
      .map(_.select("vec_id", "embedding", "centroid_id"))
      .getOrElse(assigned.limit(0))
    val merged = existing.unionByName(assigned)
      .dropDuplicates("vec_id", "centroid_id")
    store.publish(writeShape(merged), touched)
  }

  /** Remove `ids`' postings from the live index — the delete half of
    * the re-embedding contract [[add]]'s scaladoc has always documented
    * (a re-EMBEDDED vec_id must arrive as delete + insert; without a
    * delete, an embedding that moves buckets would DUPLICATE across
    * them). Two passes, both bounded:
    *
    *   1. LOCATE: one column-pruned scan of the live postings'
    *      (vec_id, centroid_id) pair — parquet reads two thin columns,
    *      never the vectors — semi-joined against the broadcast id set
    *      to find the touched buckets (driver-side result bounded by
    *      nCentroids, the blessed metadata standing). A vec_id-keyed
    *      secondary index would skip this scan; at this index's scale
    *      the two-column scan is the cheaper artifact to maintain
    *      (none);
    *   2. REWRITE: only the touched buckets are read in full,
    *      anti-joined, and published — one atomic manifest swap,
    *      untouched buckets never opened (same posture as [[add]]).
    *
    * The centroid bucket is never touched: centroid rows share the
    * vec_id space (a centroid's id IS a corpus vec_id), so deleting a
    * document must not delete the frozen centroid it once seeded.
    * Deleting an absent id is a no-op; a delete that touches nothing
    * returns the current version unchanged (idempotent replay).
    * `ids` is one `vec_id` column (a deletion batch — small enough to
    * broadcast). */
  def delete(ids: DataFrame): Long = {
    val spark = ids.sparkSession
    val v = store.versions(spark).lastOption.getOrElse(
      throw new IllegalStateException(s"ServedAnnIndex at $root was never built"))
    val del = broadcast(ids.select(col("vec_id").cast("long").as("vec_id")).distinct())
    val touched = store.read(spark) match {
      case None => Seq.empty[Long]
      case Some(live) => live
        .filter(col("centroid_id") =!= CentroidBucket)
        .select("vec_id", "centroid_id")
        .join(del, Seq("vec_id"), "left_semi")
        .select("centroid_id").distinct()
        .collect().map(_.getLong(0)).toSeq
    }
    if (touched.isEmpty) return v
    val remaining = store.readBuckets(spark, touched).get
      .select("vec_id", "embedding", "centroid_id")
      .join(del, Seq("vec_id"), "left_anti")
    store.publish(writeShape(remaining), touched)
  }

  /** Re-embedding upsert: [[delete]] the batch's ids, then [[add]] the
    * batch — the composed form of the contract `add` documents. Two
    * publishes (two versions) by design: each half is individually
    * atomic and idempotent under replay, and a crash between them
    * leaves the ids absent — the next replay's delete is a no-op and
    * the add completes the upsert, converging without duplicates. */
  def update(batch: DataFrame): Long = {
    delete(batch.select("vec_id"))
    add(batch)
  }

  /** IVF top-k for every query of a `(q_id, qv)` table, answered from
    * ONE index version in ONE plan; a one-vector search is a one-row
    * table. `version = None` resolves the latest committed version once
    * and then runs exactly as a pinned search. Returns (q_id, rnk,
    * vec_id, cosine), rank-ordered per query. None = never built or
    * `version` aged out; an EMPTY query table against a live version is
    * an empty answer, not None.
    *
    *   - per-query probe ranking is a (queries × centroids) broadcast
    *     product ranked by a window over q_id ([[probeRanks]]);
    *   - centroids and postings resolve from ONE archived manifest
    *     ([[GenerationStore.readBucketsAt]]), and the probed buckets of
    *     all queries union into one scan (≤ nCentroids ids of driver
    *     metadata, the only collect) whose file list holds only those
    *     bucket directories plus the centroid bucket;
    *   - each posting scores only against the queries that probed its
    *     bucket, and each query's top-k collapses through the k-bounded
    *     [[graft.operators.TopKPerGroup]] heap in the in-memory
    *     [[Similarity.ivfTopK]] order (cosine DESC, vec_id ASC);
    *   - `rerank = Some(n)` adds [[Similarity.ivfTopKQuantized]]'s int8
    *     stage: candidates score on the STORED int8 copy (that scan's
    *     ReadSchema leaves the float embedding on disk), each query keeps
    *     its best `n`, and only those rerank with the exact float cosine
    *     over a second read of the same probed buckets.
    *
    * The SQL execution count does not depend on Q. `queries` must be
    * small enough to broadcast (a serving batch); a corpus-scale query
    * table is [[Similarity]] join territory. */
  def search(queries: DataFrame, k: Int, nprobe: Int = 2,
      version: Option[Long] = None, rerank: Option[Int] = None): Option[DataFrame] = {
    rerank.foreach(n => require(n >= k, s"rerank ($n) must be >= k ($k)"))
    val spark = queries.sparkSession
    val qs = queries.select(col("q_id").cast("long").as("q_id"), col("qv"))
    for {
      v <- version.orElse(store.versions(spark).lastOption)
      centroids <- centroidsAt(spark, v)
      probed = probeRanks(qs, centroids, nprobe)
      unionIds = probed.select("centroid_id").distinct()
        .collect().map(_.getLong(0)).toSeq
      result <- store.readBucketsAt(spark, v, unionIds) match {
        // None from the bucket read is ambiguous: an empty query table
        // (or every probed bucket empty) on a live version is an empty
        // ANSWER, but the version may also have aged out between the
        // centroid resolve and this read — re-check liveness rather
        // than serving "no neighbors" for a lost version
        case None => if (store.versions(spark).contains(v)) Some(emptyResult(qs)) else None
        case Some(postings) => Some(perQueryTopK(
          candidates(postings, probed, qs, rerank, storedNAssign(spark))
            .join(broadcast(qs), Seq("q_id"))
            .select(col("q_id"), col("vec_id"),
              Similarity.cosine(col("embedding"), col("qv")).as("cosine")),
          k))
      }
    } yield result
  }

  /** (q_id, vec_id, embedding) rows to score: every posting of each
    * query's probed buckets, or with `rerank` only each query's int8
    * shortlist. An index written before `qvec` existed is refused; one
    * that still carries such buckets serves their rows with a null
    * `qvec`, which ranks last in the shortlist (rebuild to restore
    * them). */
  private def candidates(postings: DataFrame, probed: DataFrame, qs: DataFrame,
      rerank: Option[Int], assignN: Int): DataFrame = {
    def probedRows(payload: String) = oncePerQuery(
      postings.select("vec_id", payload, "centroid_id")
        .join(broadcast(probed), Seq("centroid_id")),
      Seq("q_id", "vec_id"), assignN)
    rerank match {
      case None => probedRows("embedding")
      case Some(n) =>
        require(postings.columns.contains("qvec"),
          s"index at $root has no stored int8 copy (pre-qvec build) — rebuild it")
        // one int8 encode per query, riding the broadcast query table
        val qs8 = qs.select(col("q_id"), QuantizeInt8.of(col("qv")).as("__q8"))
        val shortlist = probedRows("qvec")
          .join(broadcast(qs8), Seq("q_id"))
          .select(col("q_id"), col("vec_id"),
            Int8CosineSimilarity.of(col("qvec"), col("__q8")).as("__q_cos"))
          .groupBy("q_id")
          .agg(graft.operators.TopKPerGroup.topK(n)(
            col("__q_cos"), col("vec_id")).as("__short"))
          .select(col("q_id"), explode(col("__short").getField("_2")).as("vec_id"))
        // the probed-bucket UNION can hold a multi-assigned vector once
        // per bucket (including buckets only OTHER queries probed); a
        // shortlisted id must rerank once, not once per copy
        oncePerQuery(postings.select("vec_id", "embedding"), Seq("vec_id"), assignN)
          .join(broadcast(shortlist), Seq("vec_id"))
    }
  }

  /** Per-query probe ranking with the (c_sim DESC, centroid_id ASC)
    * tie-break, which must match `Similarity.probedCentroids` (the
    * single-source-of-truth warning there) or served and in-memory
    * searches probe different buckets. */
  private def probeRanks(
      qs: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame =
    qs.crossJoin(broadcast(centroids))
      .select(col("q_id"), col("centroid_id"),
        Similarity.cosine(col("centroid"), col("qv")).as("__c_sim"))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("__c_sim").desc, col("centroid_id").asc)))
      .filter(col("__rn") <= nprobe)
      .select("q_id", "centroid_id")

  /** (q_id, vec_id, cosine) candidates → the (q_id, rnk, vec_id,
    * cosine) result shape through the k-bounded heap. */
  private def perQueryTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("q_id")
      .agg(graft.operators.TopKPerGroup.topK(k)(
        col("cosine"), col("vec_id")).as("__top"))
      .select(col("q_id"), posexplode(col("__top")).as(Seq("__rnk0", "__sc")))
      .select(col("q_id"), (col("__rnk0") + 1).cast("long").as("rnk"),
        col("__sc").getField("_2").as("vec_id"),
        col("__sc").getField("_1").as("cosine"))

  private def emptyResult(qs: DataFrame): DataFrame =
    qs.limit(0).select(col("q_id"), lit(0L).as("rnk"),
      lit(0L).as("vec_id"), lit(0.0).as("cosine"))

  /** A SERVED search admits each vector ONCE per query, however many
    * probed buckets carry it: multi-assignment (nAssign >= 2) exists
    * for recall — a boundary vector reachable from either bucket — not
    * to let one document claim several ranks. Dedup is applied only
    * when the index ON DISK was built multi-assigned (`assignN` =
    * [[storedNAssign]], never the handle's constructor default), so
    * the common nAssign=1 path pays no extra exchange. (The in-memory
    * [[Similarity]] operators keep their raw per-assignment semantics;
    * their callers pass nAssign=1 assignments.) */
  private def oncePerQuery(
      candidates: DataFrame, keys: Seq[String], assignN: Int): DataFrame =
    if (assignN > 1) candidates.dropDuplicates(keys) else candidates
}

object ServedAnnIndex {
  /** The reserved bucket holding the centroid rows — outside the
    * centroid-id space (ids are non-negative vec_ids). */
  val CentroidBucket: Long = -1L

  private val MetaAssign = raw"nAssign=(\d+)".r

  /** Deterministic id-init centroids — replayable in a SQL oracle. */
  val IdInit: (org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame =
    Similarity.trainCentroidsById(_, _)

  /** Lloyd-trained centroids (k-means, `iters` passes) — the quality
    * build for [[ServedAnnIndex.build]]'s `train` parameter. */
  def Lloyd(iters: Int): (org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame =
    (v, k) => Similarity.trainCentroidsKMeans(v, k, iters)
}
