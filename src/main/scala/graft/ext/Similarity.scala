package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.{CosineSimilarity, HyperplaneBits, Int8CosineSimilarity, QuantizeInt8}

/** Similarity search over embedding columns (`Array[Float]`) — the
  * north-star ANN component. Three tiers:
  *
  *   1. [[cosine]] — the native codegen'd Catalyst expression
  *     [[graft.expressions.CosineSimilarity]] (dot + both norms in one
  *     fused primitive loop; HOF combos are CodegenFallback and
  *     measured ~2× slower on the near-dup query);
  *   2. [[bruteForceTopK]] — exact top-k against one query vector:
  *     the query rides inline as a literal array, one scan,
  *     TakeOrderedAndProject. Baseline and ground truth;
  *   3. [[ivfTopK]] — the 100 TB path: IVF-style bucketing. Vectors are
  *     assigned to their nearest centroid once (a narrow map against a
  *     broadcast centroid table); a query probes only `nprobe` centroid
  *     buckets, so the scan is ~nprobe/k of the corpus. Centroids come
  *     from [[trainCentroidsById]] (deterministic id-sampled "training",
  *     swappable for k-means without changing the probe path).
  *
  * Embedding-cosine near-dup dedup composes from the same pieces:
  * [[nearDupPairs]] buckets by centroid and emits within-bucket pairs
  * above a cosine threshold — never an all-pairs cross join.
  */
object Similarity {

  /** Cosine similarity of two float-vector columns, computed in double.
    * Native expression — inlines into whole-stage codegen; null on
    * zero-norm input. */
  def cosine(a: Column, b: Column): Column = CosineSimilarity.of(a, b)

  /** Exact brute-force top-k for `query` (single vector) against
    * `vectors(idCol, vecCol)`. The query is a literal array in the
    * plan — no driver-side loops, no collect of the corpus. */
  def bruteForceTopK(
      vectors: DataFrame,
      query: Seq[Float],
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = array(query.map(v => lit(v)): _*)
    vectors
      .select(col(idCol), cosine(col(vecCol), q).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Deterministic centroid "training": take the first `n` vectors by
    * id as centroids. At scale, replace with k-means output — the probe
    * path below only needs a (centroid_id, centroid) table. */
  def trainCentroidsById(
      vectors: DataFrame,
      n: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    vectors.orderBy(col(idCol).asc).limit(n)
      .select(col(idCol).as("centroid_id"), col(vecCol).as("centroid"))

  /** Lloyd's k-means over the corpus, DataFrame-native: each iteration
    * is one broadcast-assign pass + one per-dimension average. The
    * centroid table stays tiny (k rows) so every step is a narrow map
    * over the corpus plus a k×dim aggregate — the same shape at 100 TB,
    * where `iters` passes over the data are the whole cost and k-means++
    * style init on a sample would cut them. Empty clusters keep their
    * previous centroid. Init = [[trainCentroidsById]]. */
  def trainCentroidsKMeans(
      vectors: DataFrame,
      k: Int,
      iters: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    var centroids = trainCentroidsById(vectors, k, idCol, vecCol)
    var prevCached: Option[DataFrame] = None
    for (_ <- 1 to iters) {
      val assigned = assignToCentroids(vectors, centroids, idCol, vecCol)
      val means = assigned
        .select(col("centroid_id"), posexplode(col(vecCol)).as(Seq("pos", "v")))
        .groupBy("centroid_id", "pos")
        .agg(avg(col("v")).cast("float").as("m"))
        .groupBy("centroid_id")
        // sort_array + array-of-struct field extraction: natural struct
        // ordering on (pos, m) and GetArrayStructFields are compiled —
        // no lambda comparator / transform (both CodegenFallback)
        .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("centroid_id"), col("pm.m").as("centroid_new"))
      centroids = centroids.join(means, Seq("centroid_id"), "left")
        .select(col("centroid_id"),
          coalesce(col("centroid_new"), col("centroid")).as("centroid"))
        // k rows; materialize so the next iteration's broadcast doesn't
        // re-run every previous iteration's assignment
        .persist()
      centroids.count()
      // the new centroid table is materialized; the previous iteration's
      // cache is dead weight from here on
      prevCached.foreach(_.unpersist())
      prevCached = Some(centroids)
    }
    centroids
  }

  /** Mean cosine of each vector to its assigned centroid — the
    * (cosine-flavored) k-means objective, for evaluating a centroid
    * table's quality. */
  def assignmentQuality(
      vectors: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Double = {
    val scored = vectors.crossJoin(broadcast(centroids))
      .select(col(idCol), cosine(col(vecCol), col("centroid")).as("c_sim"))
      .groupBy(idCol).agg(max(col("c_sim")).as("best"))
    scored.agg(avg(col("best"))).head().getDouble(0)
  }

  /** Assign every vector to its `nAssign` nearest centroids (IVF
    * inverted list; nAssign > 1 = multi-probe assignment for recall —
    * a near-dup pair straddling a bucket boundary still collides in one
    * of the shared buckets). One broadcast join against ~hundreds of
    * centroids + a rank — the corpus is scanned once and the result is
    * bucketable/bucketed; output size is nAssign × corpus. */
  def assignToCentroids(
      vectors: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nAssign: Int = 1): DataFrame = {
    // __graft_-prefixed internals: a caller column named "centroid" or
    // "c_sim" must survive the assignment untouched (only "centroid_id",
    // the documented output, may collide)
    val cent = centroids.select(
      col("centroid_id"), col("centroid").as("__graft_centroid"))
    val scored = vectors.crossJoin(broadcast(cent))
      .withColumn("__graft_c_sim", cosine(col(vecCol), col("__graft_centroid")))
    scored
      .withColumn("__graft_rn", row_number().over(
        Window.partitionBy(idCol)
          .orderBy(col("__graft_c_sim").desc, col("centroid_id").asc)))
      .filter(col("__graft_rn") <= nAssign)
      // keep the caller's columns (e.g. a quantized qvec riding beside
      // the vector) — only the assignment internals are dropped
      .drop("__graft_centroid", "__graft_c_sim", "__graft_rn")
  }

  /** Shuffle-free nearest-centroid assignment (nAssign=1 only): the
    * centroid table is driver-collected (k rows of METADATA, same
    * standing as [[probedCentroidIds]]) and unrolled into one
    * `greatest(struct(sim, -centroid_id)…)` projection — argmax with
    * the same (c_sim DESC, centroid_id ASC) tie-break as
    * [[assignToCentroids]], but zero exchanges and zero window state.
    * This is the assignment for LOW-LATENCY paths (per-micro-batch
    * screening of a document stream) where a broadcast+window per batch
    * would dominate; equivalence is pinned in SimilaritySpec. A vector
    * with no defined cosine (zero norm) sorts null-smallest per struct
    * ordering and lands on the lowest centroid id — deterministic, and
    * harmless downstream because its similarity to anything is null. */
  def assignToCentroidsInline(
      vectors: DataFrame,
      centroids: DataFrame,
      vecCol: String = "embedding"): DataFrame = {
    val cents = centroids.select(col("centroid_id").cast("long"), col("centroid"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
    require(cents.nonEmpty, "assignToCentroidsInline: empty centroid table")
    val scored = cents.map { case (cid, v) =>
      val c = array(v.map(x => lit(x)): _*)
      struct(cosine(col(vecCol), c).as("s"), lit(-cid).as("nc"))
    }
    val best = if (scored.length == 1) scored.head else greatest(scored.toSeq: _*)
    vectors.withColumn("centroid_id", -best.getField("nc"))
  }

  /** Per-batch near-dup screen against a STORED quantized IVF index —
    * the streaming half of embedding dedup: each incoming micro-batch
    * is assigned inline (no shuffle), the batch's centroid set is
    * resolved driver-side, and the index read is `isin`-pruned to those
    * buckets (static partition pruning on a centroid_id-partitioned
    * store, exactly like [[ivfTopKQuantized]]'s probe). Candidates are
    * prescreened with int8 integer math and only survivors fetch full
    * vectors for the exact cosine — a batch of B docs touching c
    * centroid buckets costs B·(bucket size) int8 comparisons and a
    * handful of float fetches, independent of total index size.
    *
    * Emits one row per (batch doc, matched index doc) with the exact
    * cosine ≥ threshold: a pairs stream, so append-mode streaming needs
    * no aggregate state — wire through [[graft.streaming.Streams
    * .deliverStream]]'s foreachBatch. Recall across bucket boundaries
    * comes from building the INDEX with nAssign ≥ 2 (the stream side
    * probes one bucket; a boundary pair still collides in the index's
    * extra assignment). Self-matches (same id) are excluded. */
  def nearDupScreen(
      batch: DataFrame, // (idCol, vecCol, ...)
      indexQ: DataFrame, // assignToCentroids + quantize: (centroid_id, idCol, qCol)
      indexVectors: DataFrame, // full-precision (idCol, vecCol) for rerank
      centroids: DataFrame,
      threshold: Double,
      prefilterMargin: Double = 0.05,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      qCol: String = "qvec"): DataFrame = {
    val assigned = assignToCentroidsInline(
      quantize(batch, vecCol, "__graft_q"), centroids, vecCol)
    // the batch's probed buckets: bounded by min(batch size, k) — metadata
    val probed = assigned.select("centroid_id").distinct()
      .collect().map(_.getLong(0))
    val index = indexQ
      .filter(col("centroid_id").isin(probed: _*))
      .select(col("centroid_id"), col(idCol).as("match_id"),
        col(qCol).as("__graft_qm"))
    val survivors = assigned.join(index, Seq("centroid_id"))
      .filter(col(idCol) =!= col("match_id"))
      .filter(Int8CosineSimilarity.of(col("__graft_q"), col("__graft_qm")) >=
        threshold - prefilterMargin)
      .select(col(idCol), col("match_id"), col(vecCol).as("__graft_v"))
    survivors
      .join(indexVectors.select(col(idCol).as("match_id"),
        col(vecCol).as("__graft_vm")), Seq("match_id"))
      .withColumn("cosine", cosine(col("__graft_v"), col("__graft_vm")))
      .filter(col("cosine") >= threshold)
      .select(col(idCol), col("match_id"), col("cosine"))
  }

  /** The LSH band values of a hyperplane-signature column: one
    * `"<band_no>:<band_bits>"` string per band, exploded in place —
    * plain integer SQL over the bitmask, shared by the batch and index
    * sides so banding can never drift between them. */
  def lshBands(sig: Column, nPlanes: Int, bandBits: Int): Column = {
    // bandBits = 64 would make the mask (1L << 64) - 1 wrap to 0 and
    // every signature collide into band "b:0" — a silent all-pairs join
    require(bandBits >= 1 && bandBits <= 63,
      s"bandBits must be in [1, 63], got $bandBits")
    require(nPlanes >= 1 && nPlanes <= 64,
      s"nPlanes must be in [1, 64], got $nPlanes")
    require(nPlanes % bandBits == 0, s"$nPlanes planes not divisible into $bandBits-bit bands")
    explode(array((0 until nPlanes / bandBits).map { b =>
      concat_ws(":", lit(b.toString),
        shiftright(sig, b * bandBits)
          .bitwiseAND(lit((1L << bandBits) - 1)).cast("string"))
    }: _*))
  }

  /** Per-batch near-dup screen against an LSH-bucketed index — the
    * TRAINING-FREE counterpart of [[nearDupScreen]]: no centroid table
    * to train, broadcast or keep consistent with the store. Index
    * vectors carry a hyperplane signature
    * ([[graft.expressions.HyperplaneBits]] over the int8 payload);
    * each incoming micro-batch computes its own signatures inline (one
    * compiled expression, zero shuffle) and joins the index on band
    * values with the SMALL batch side broadcast — the index is scanned
    * once, never shuffled. Candidates int8-prescreen (margin-guarded,
    * same contract as [[nearDupScreen]]) and only survivors fetch full
    * vectors for the exact cosine.
    *
    * Emits one (batch id, match_id, cosine ≥ threshold) row per match —
    * a pairs stream, append-mode safe, no aggregate state. Recall is
    * the banding collision probability ((1−θ/π)^bandBits per band);
    * with 4×8-bit bands a cos≈0.97 near-dup collides ~95% of the time
    * while random pairs collide ~1.5% — size bands to the corpus. */
  def lshScreen(
      batch: DataFrame, // (idCol, vecCol, ...)
      indexSig: DataFrame, // quantize + HyperplaneBits: (idCol, qCol, sig)
      indexVectors: DataFrame, // full-precision (idCol, vecCol) for rerank
      threshold: Double,
      nPlanes: Int = 32,
      bandBits: Int = 8,
      seed: Int = 1,
      prefilterMargin: Double = 0.05,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      qCol: String = "qvec"): DataFrame = {
    val bq = quantize(batch, vecCol, "__graft_q")
      .withColumn("__graft_sig", HyperplaneBits.of(col("__graft_q"), nPlanes, seed))
      .filter(col("__graft_sig").isNotNull)
    val batchBands = bq.select(col(idCol), col(vecCol), col("__graft_q"),
      lshBands(col("__graft_sig"), nPlanes, bandBits).as("__graft_band"))
    val indexBands = indexSig.select(
      col(idCol).as("match_id"), col(qCol).as("__graft_qm"),
      lshBands(col("sig"), nPlanes, bandBits).as("__graft_band"))
    val cand = broadcast(batchBands).join(indexBands, Seq("__graft_band"))
      .filter(col(idCol) =!= col("match_id"))
      // a pair colliding in several bands is still ONE candidate; the
      // non-key columns are identical across its rows, so any survivor
      // representative is the same row
      .dropDuplicates(idCol, "match_id")
    cand
      .filter(Int8CosineSimilarity.of(col("__graft_q"), col("__graft_qm")) >=
        threshold - prefilterMargin)
      .select(col(idCol), col("match_id"), col(vecCol).as("__graft_v"))
      .join(indexVectors.select(col(idCol).as("match_id"),
        col(vecCol).as("__graft_vm")), Seq("match_id"))
      .withColumn("cosine", cosine(col("__graft_v"), col("__graft_vm")))
      .filter(col("cosine") >= threshold)
      .select(col(idCol), col("match_id"), col("cosine"))
  }

  /** THE probe definition — the nprobe centroid buckets nearest the
    * query, with the (c_sim DESC, centroid_id ASC) tie-break. Single
    * source of truth: [[ivfTopK]], [[ivfTopKQuantized]] and
    * [[probedCentroidIds]] must select the SAME buckets or a pruned
    * store and the probe join silently disagree. */
  private def probedCentroids(
      centroids: DataFrame, query: Seq[Float], nprobe: Int): DataFrame = {
    val q = array(query.map(v => lit(v)): _*)
    centroids
      .select(col("centroid_id"), cosine(col("centroid"), q).as("c_sim"))
      .orderBy(col("c_sim").desc, col("centroid_id").asc)
      .limit(nprobe)
      .select("centroid_id")
  }

  /** The nprobe centroid ids nearest `query` — k rows of metadata, so
    * the collect is a driver-side catalog lookup, not a data scan. Use
    * to `isin`-filter a centroid_id-partitioned inverted-list store so
    * partition pruning skips the unprobed buckets entirely; the probe
    * join of [[ivfTopK]]/[[ivfTopKQuantized]] then picks the SAME ids
    * in-plan (one probe definition, [[probedCentroids]]), so it cannot
    * disagree with the prune. */
  def probedCentroidIds(
      centroids: DataFrame,
      query: Seq[Float],
      nprobe: Int): Seq[Long] =
    probedCentroids(centroids, query, nprobe).collect().map(_.getLong(0)).toSeq

  /** IVF top-k: probe only the `nprobe` centroid buckets nearest the
    * query. Recall < 1.0 by construction; ground-truth against
    * [[bruteForceTopK]] in tests. */
  def ivfTopK(
      assigned: DataFrame, // output of assignToCentroids
      centroids: DataFrame,
      query: Seq[Float],
      k: Int,
      nprobe: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = array(query.map(v => lit(v)): _*)
    assigned
      .join(broadcast(probedCentroids(centroids, query, nprobe)), Seq("centroid_id"))
      .select(col(idCol), cosine(col(vecCol), q).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Attach a packed-int8 quantized copy of the embedding (`qvec`,
    * `binary`, one byte per dimension). Per-vector symmetric max-abs
    * scaling cancels in cosine, so no scale column is stored — see
    * [[graft.expressions.Int8VectorUtil]]. Write `qvec` beside the
    * vector at ingest; the probe then reads ~1/4 the bytes. */
  def quantize(
      vectors: DataFrame,
      vecCol: String = "embedding",
      qCol: String = "qvec"): DataFrame =
    vectors.withColumn(qCol, QuantizeInt8.of(col(vecCol)))

  /** Quantized IVF top-k — the full 100 TB probe path:
    *   1. probe `nprobe` buckets (broadcast of nprobe centroid ids);
    *   2. score candidates on the int8 payload only (the scan prunes to
    *      (centroid_id, id, qvec) — ~1 byte/dim off disk, integer math);
    *   3. rerank the top `rerank` candidates with the exact float cosine
    *      via a broadcast semi-join back to the full-precision table.
    * Recall is governed by nprobe (bucket misses) and rerank
    * (quantization-induced reorder inside the probed buckets);
    * ground-truthed ≥ 0.9 against [[bruteForceTopK]] in SimilaritySpec.
    *
    * Stored inverted lists: write `assignedQ` hive-partitioned by
    * `centroid_id`. The probed ids are k-row METADATA — resolve them
    * ONCE via [[probedCentroidIds]] and `isin`-filter the store; the
    * parquet reader then statically prunes to the nprobe partitions
    * and the probe never touches the other (k−nprobe)/k of the corpus
    * on disk, while the in-plan probe join selects the same ids
    * (pinned in SimilaritySpec — dynamic partition pruning is not
    * relied on: its heuristics don't fire for a limit-over-tiny-table
    * probe side). */
  def ivfTopKQuantized(
      assignedQ: DataFrame, // assignToCentroids output + qvec (see quantize)
      vectors: DataFrame,   // full-precision (idCol, vecCol) for the rerank
      centroids: DataFrame,
      query: Seq[Float],
      k: Int,
      nprobe: Int = 2,
      rerank: Int = 100,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      qCol: String = "qvec"): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val q = array(query.map(v => lit(v)): _*)
    val q8 = QuantizeInt8.of(q)
    val cands = assignedQ
      .join(broadcast(probedCentroids(centroids, query, nprobe)), Seq("centroid_id"))
      .select(col(idCol), Int8CosineSimilarity.of(col(qCol), q8).as("q_cos"))
      .orderBy(col("q_cos").desc, col(idCol).asc)
      .limit(rerank)
      .select(idCol)
    vectors
      .join(broadcast(cands), Seq(idCol))
      .select(col(idCol), cosine(col(vecCol), q).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Embedding-cosine near-duplicate pairs: within-centroid-bucket
    * self-join, threshold on exact cosine. The bucket join bounds
    * pairwise work to same-bucket collisions (the LSH/IVF scale story);
    * for recall across bucket boundaries assign upstream with
    * nAssign ≥ 2 — pairs seen in several shared buckets are deduped
    * before the cosine is computed, so multi-assignment costs join
    * fan-out, not extra vector math. */
  def nearDupPairs(
      assigned: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val a = assigned.select(col("centroid_id"), col(idCol).as("id_a"),
      col(vecCol).as("vec_a"))
    val b = assigned.select(col("centroid_id"), col(idCol).as("id_b"),
      col(vecCol).as("vec_b"))
    a.join(b, Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("cosine", cosine(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** [[nearDupPairs]] with an int8 prescreen — the 100 TB shape of the
    * pairwise stage: the bucketed self-join carries only (id, qvec)
    * (1 byte/dim), candidate pairs are scored with integer math, and
    * ONLY pairs above `threshold - prefilterMargin` fetch their full
    * float vectors (two id-joins) for the exact cosine and the real
    * threshold. Same output as [[nearDupPairs]] as long as
    * `prefilterMargin` exceeds the corpus's max |int8 cosine − exact
    * cosine|. That error is DATA-DEPENDENT — the per-component
    * quantization step is max|v|/254, but the accumulated cosine error
    * grows with dimension and mass distribution (measured ≈ 0.003 on
    * the 64-dim corpus; near-uniform vectors can reach a few times
    * that) — so the margin is guarded EMPIRICALLY, not by a doc claim:
    * SimilaritySpec asserts max observed |int8 − exact| over the actual
    * bucketed candidate pairs stays under prefilterMargin/2, and
    * emb_near_dup_pairs_q shares the un-quantized query's DuckDB
    * oracle, so a margin breach turns the differential gate red. */
  def nearDupPairsQuantized(
      assignedQ: DataFrame, // quantize() + assignToCentroids: has qCol
      vectors: DataFrame,   // full-precision (idCol, vecCol)
      threshold: Double,
      prefilterMargin: Double = 0.05,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      qCol: String = "qvec"): DataFrame = {
    val a = assignedQ.select(col("centroid_id"), col(idCol).as("id_a"),
      col(qCol).as("q_a"))
    val b = assignedQ.select(col("centroid_id"), col(idCol).as("id_b"),
      col(qCol).as("q_b"))
    val survivors = a.join(b, Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .filter(Int8CosineSimilarity.of(col("q_a"), col("q_b")) >=
        threshold - prefilterMargin)
      .select("id_a", "id_b")
    val va = vectors.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val vb = vectors.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    survivors
      .join(va, Seq("id_a"))
      .join(vb, Seq("id_b"))
      .withColumn("cosine", cosine(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Per-centroid occupancy of a vector set — the k-row fingerprint
    * the drift machinery compares (`emb_drift_centroid_kl` batch-side,
    * the streaming drift alarm per micro-batch). */
  def centroidOccupancy(
      vectors: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    assignToCentroids(vectors, centroids, idCol, vecCol)
      .groupBy("centroid_id")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))

  /** Squared Euclidean distance of two float-vector columns (double
    * accumulation, index order) — PQ's training and scoring metric.
    * Native expression; see [[graft.expressions.L2SquaredDistance]]. */
  def l2sq(a: Column, b: Column): Column =
    graft.expressions.L2SquaredDistance.of(a, b)

  // ---------------------------------------------------- product quantization
  //
  // The memory-side compression IVF doesn't give: each vector is split
  // into mSub subvectors and each subvector is replaced by the id of
  // its nearest codebook entry — dims×4 bytes collapse to mSub codes.
  // A query scores candidates via an ADC (asymmetric distance
  // computation) table: L2² from the query's subvectors to every
  // codebook entry — mSub×nCodes doubles, computed ONCE — and a
  // vector's approximate distance is a sum of mSub lookups, never a
  // touch of the original floats. At 100 TB the float corpus stays in
  // cold storage; the scan reads only (id, codes).

  /** Deterministic PQ codebooks by id-sampling (the differential-
    * replayable stand-in for per-subspace k-means, same doctrine as
    * [[trainCentroidsById]]): the first `nCodes` vectors by id donate
    * their m-th subvector to codebook m. Output: (m, code, subvec). */
  def pqCodebooks(
      vectors: DataFrame,
      nCodes: Int,
      mSub: Int,
      dims: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(dims % mSub == 0, s"dims $dims not divisible into $mSub subspaces")
    val subLen = dims / mSub
    vectors.orderBy(col(idCol).asc).limit(nCodes)
      .select(col(idCol).cast("long").as("code"), col(vecCol))
      .select(col("code"), explode(sequence(lit(0), lit(mSub - 1))).as("mi"), col(vecCol))
      // slice's start must stay IntegerType; m is long for the joins
      .select(col("mi").cast("long").as("m"), col("code"),
        slice(col(vecCol), col("mi") * subLen + 1, lit(subLen)).as("subvec"))
  }

  /** Encode every vector as its per-subspace nearest code (L2², ties to
    * the smallest code id — the argmin spelled as `min(struct(d, code))`
    * so any engine means the same thing). The codebook broadcast is
    * mSub×nCodes rows; the corpus crosses once, collapses map-side to
    * one row per (vector, subspace). Output: (idCol, m, code). */
  def pqEncode(
      vectors: DataFrame,
      codebooks: DataFrame,
      mSub: Int,
      dims: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val subLen = dims / mSub
    vectors
      .select(col(idCol), explode(sequence(lit(0), lit(mSub - 1))).as("mi"), col(vecCol))
      .select(col(idCol), col("mi").cast("long").as("m"),
        slice(col(vecCol), col("mi") * subLen + 1, lit(subLen)).as("sv"))
      .join(broadcast(codebooks), Seq("m"))
      .select(col(idCol), col("m"),
        struct(l2sq(col("sv"), col("subvec")).as("d"), col("code")).as("dc"))
      .groupBy(col(idCol), col("m"))
      .agg(min(col("dc")).as("best"))
      .select(col(idCol), col("m"), col("best.code").as("code"))
  }

  /** ADC top-k: approximate L2² of every encoded vector to `query` as a
    * fixed-order sum of per-subspace table lookups. The ADC table is
    * mSub×nCodes rows (metadata, broadcast); the per-vector sum pivots
    * the subspaces into columns and adds them LEFT TO RIGHT, so the
    * double addition order is pinned — a plain `sum()` over group rows
    * would sum in engine-arbitrary order and break cross-engine
    * equality. Output: (idCol, pq_dist), ascending, k rows. */
  def pqTopK(
      encoded: DataFrame,
      codebooks: DataFrame,
      query: Seq[Float],
      k: Int,
      mSub: Int,
      dims: Int,
      idCol: String = "vec_id"): DataFrame = {
    val subLen = dims / mSub
    val spark = encoded.sparkSession
    import spark.implicits._
    val qSubs = (0 until mSub).map { m =>
      (m.toLong, query.slice(m * subLen, (m + 1) * subLen))
    }.toDF("m", "qsub")
    val adc = codebooks.join(broadcast(qSubs), Seq("m"))
      .select(col("m"), col("code"), l2sq(col("qsub"), col("subvec")).as("qd"))
    val perSub = encoded.join(broadcast(adc), Seq("m", "code"))
      .groupBy(col(idCol))
      .agg(sum(when(col("m") === 0, col("qd"))).as("d0"),
        (1 until mSub).map(m =>
          sum(when(col("m") === m, col("qd"))).as(s"d$m")): _*)
    val total = (1 until mSub).foldLeft(col("d0")) { (acc, m) => acc + col(s"d$m") }
    perSub.select(col(idCol), total.as("pq_dist"))
      .orderBy(col("pq_dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** Add-one-smoothed KL(new ‖ ref) between two occupancy maps over
    * the SAME centroid set — the scalar a streaming drift alarm
    * thresholds. Driver-side on k-row metadata; the arithmetic
    * mirrors `emb_drift_centroid_kl`'s per-term formula. */
  def occupancyKl(
      ref: Map[Long, Long], nw: Map[Long, Long], centroidIds: Seq[Long]): Double = {
    val k = centroidIds.length
    val tRef = ref.values.sum + k
    val tNew = nw.values.sum + k
    centroidIds.map { c =>
      val r = ref.getOrElse(c, 0L) + 1
      val n = nw.getOrElse(c, 0L) + 1
      val pNew = n.toDouble / tNew
      pNew * math.log(n.toDouble * tRef / (r.toDouble * tNew))
    }.sum
  }

  /** Distributed Lloyd k-means in EXACT fixed-point arithmetic — the
    * real iterative refinement behind [[trainCentroidsById]]'s
    * id-sampled stand-in (the scaladoc there promises k-means is
    * swappable; this is it). Returns the per-round convergence
    * schedule `(round, inertia, n_clusters, largest_cluster)` — the
    * elbow/monitoring frame a clustering pipeline actually tracks.
    *
    * Exactness contract (what makes a k-means DIFFERENTIALLY
    * replayable, which floats never are): components quantize to
    * `floor(x·1000)+1000` — positive integers, so the centroid
    * update's truncating division equals floor division in every
    * engine — and centroids live at ×1024 fixed point via
    * `c = (1024·s − (1024·s mod n)) / n` (an exact integer spelled in
    * +,%,/ only; `div` operators differ across engines on negatives,
    * which the offset makes unreachable). Distances are then exact
    * int64 sums (components < 2.7e6 scaled, 64-dim sums < 5e14), so
    * every argmin, tie-break (smallest centroid id) and inertia is
    * bit-identical cross-engine. Empty clusters drop — deterministic
    * both sides.
    *
    * 100 TB design: per round ONE (pos-broadcast centroid ⋈ exploded
    * corpus) pass + two map-side-collapsing aggregates; the ONLY
    * driver-side state is the k×D centroid table and the ≤k size
    * rows (metadata, the IVF-centroid doctrine) — re-broadcast as a
    * literal each round, which also keeps every round's plan shallow
    * (no lineage growth, no checkpoint needed, unlike the
    * label-carrying LPA loop). */
  def lloydStats(emb: DataFrame, k: Int, rounds: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val eq = emb
      .select(col("vec_id"), posexplode(col("embedding")))
      .toDF("vec_id", "pos", "x")
      .select(col("vec_id").cast("long").as("vec_id"),
        col("pos").cast("long").as("pos"),
        (floor(col("x").cast("double") * 1000.0).cast("long") + 1000L).as("xq"))
      .persist()
    // Seed from the k SMALLEST ids present (not `vec_id < k`, which
    // silently trains fewer clusters when ids are sparse or
    // non-zero-based) — identical when ids are contiguous from 0,
    // which keeps the differential stable. k longs to the driver.
    val seedIds = eq.select(col("vec_id")).distinct()
      .orderBy(col("vec_id")).limit(k).as[Long].collect()
    require(seedIds.nonEmpty,
      s"lloydStats: empty corpus — no vectors to seed $k centroids from")
    // Small k inlines as a literal In; at IVF-centroid scale (k in the
    // tens of thousands) a k-literal predicate bloats the plan and every
    // task's evaluation — a broadcast semi-join on the seed ids keeps
    // the plan O(1) and the probe a hash lookup.
    val seeded =
      if (seedIds.length <= 256) eq.filter(col("vec_id").isin(seedIds: _*))
      else eq.join(
        broadcast(seedIds.toSeq.toDF("vec_id")), Seq("vec_id"), "left_semi")
    var centroids: Seq[(Long, Long, Long)] = seeded
      .select(col("vec_id"), col("pos"), (col("xq") * 1024L).as("c"))
      .as[(Long, Long, Long)].collect().toSeq
    val metrics = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    for (r <- 1 to rounds) {
      val cdf = broadcast(centroids.toDF("cid", "pos", "c"))
      val diff = col("xq") * 1024L - col("c")
      val assign = eq.join(cdf, "pos")
        .groupBy("vec_id", "cid")
        .agg(sum(diff * diff).as("d"))
        .groupBy("vec_id")
        .agg(min(struct(col("d"), col("cid"))).as("m"))
        .select(col("vec_id"), col("m.d").as("d"), col("m.cid").as("cid"))
        .persist()
      val inertia = assign.agg(sum(col("d"))).as[Long].head()
      val sizes = assign.groupBy("cid").agg(count(lit(1)).as("n"))
        .as[(Long, Long)].collect()
      metrics += ((r.toLong, inertia, sizes.length.toLong, sizes.map(_._2).max))
      val s1024 = col("s") * 1024L
      centroids = assign.select("vec_id", "cid").join(eq, "vec_id")
        .groupBy("cid", "pos")
        .agg(sum(col("xq")).as("s"), count(lit(1)).as("n"))
        .select(col("cid"), col("pos"),
          ((s1024 - pmod(s1024, col("n"))) / col("n")).cast("long").as("c"))
        .as[(Long, Long, Long)].collect().toSeq
      assign.unpersist()
    }
    eq.unpersist()
    metrics.toSeq.toDF("round", "inertia", "n_clusters", "largest_cluster")
      .orderBy("round")
  }
}
