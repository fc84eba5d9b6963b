package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** ANN correctness: cosine expression vs hand math, IVF probe vs
  * brute-force ground truth, bucketed near-dup vs exact all-pairs on a
  * small corpus (the all-pairs check is TEST-ONLY ground truth — the
  * production path is always the bucketed join). */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def vecDf(rows: (Long, Seq[Float])*) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("cosine matches hand-computed values") {
    val df = vecDf(1L -> Seq(1f, 0f), 2L -> Seq(0f, 1f), 3L -> Seq(1f, 1f))
    val out = df.crossJoin(vecDf(10L -> Seq(1f, 0f)).select(col("embedding").as("q")))
      .select(col("vec_id"), Similarity.cosine(col("embedding"), col("q")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(out(1L) - 1.0) < 1e-12)
    assert(math.abs(out(2L) - 0.0) < 1e-12)
    assert(math.abs(out(3L) - 1.0 / math.sqrt(2)) < 1e-12)
  }

  test("bruteForceTopK returns the k nearest by cosine, total-ordered") {
    val df = vecDf(
      1L -> Seq(1f, 0f), 2L -> Seq(0.9f, 0.1f), 3L -> Seq(0f, 1f),
      4L -> Seq(-1f, 0f), 5L -> Seq(0.5f, 0.5f))
    val top = Similarity.bruteForceTopK(df, Seq(1f, 0f), 3)
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(1L, 2L, 5L))
  }

  test("ivfTopK with all buckets probed equals brute force exactly") {
    val spark0 = spark
    import spark0.implicits._
    // deterministic pseudo-random corpus: 60 vectors in 4 dims
    val corpus = (0L until 60L).map { i =>
      val f = Seq.tabulate(4)(d => (((i * 31 + d * 17) % 13).toFloat - 6f) / 6f)
      (i, f)
    }
    val df = corpus.toDF("vec_id", "embedding")
    val centroids = Similarity.trainCentroidsById(df, 6)
    val assigned = Similarity.assignToCentroids(df, centroids)
    val query = Seq(0.3f, -0.2f, 0.8f, 0.1f)
    val exact = Similarity.bruteForceTopK(df, query, 10).collect().map(_.getLong(0)).toSeq
    val full = Similarity.ivfTopK(assigned, centroids, query, 10, nprobe = 6)
      .collect().map(_.getLong(0)).toSeq
    assert(full == exact) // nprobe = all buckets → identical to exact
    val probed = Similarity.ivfTopK(assigned, centroids, query, 10, nprobe = 2)
      .collect().map(_.getLong(0)).toSet
    val recall = probed.intersect(exact.toSet).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF nprobe=2 recall $recall too low")
  }

  test("k-means centroids: objective not worse than id-sampled init; ivf still exact with all probes") {
    val spark0 = spark
    import spark0.implicits._
    val corpus = (0L until 120L).map { i =>
      val f = Seq.tabulate(6)(d => (((i * 37 + d * 13) % 17).toFloat - 8f) / 8f)
      (i, f)
    }
    val df = corpus.toDF("vec_id", "embedding")
    val init = Similarity.trainCentroidsById(df, 5)
    val trained = Similarity.trainCentroidsKMeans(df, 5, iters = 3)
    assert(trained.count() == 5)
    val qInit = Similarity.assignmentQuality(df, init)
    val qTrained = Similarity.assignmentQuality(df, trained)
    assert(qTrained >= qInit - 1e-9,
      s"k-means degraded the objective: $qTrained < $qInit")
    // trained centroids drop into the probe path unchanged
    val assigned = Similarity.assignToCentroids(df, trained)
    val query = Seq(0.2f, -0.4f, 0.6f, 0.1f, -0.3f, 0.5f)
    val exact = Similarity.bruteForceTopK(df, query, 8).collect().map(_.getLong(0)).toSeq
    val full = Similarity.ivfTopK(assigned, trained, query, 8, nprobe = 5)
      .collect().map(_.getLong(0)).toSeq
    assert(full == exact)
  }

  test("l2sq matches hand math; dimension mismatch and null element are null") {
    val df = vecDf(1L -> Seq(1f, 2f), 2L -> Seq(3f, 4f))
      .crossJoin(vecDf(10L -> Seq(1f, 0f)).select(col("embedding").as("q")))
      .select(col("vec_id"), Similarity.l2sq(col("embedding"), col("q")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(df(1L) == 4.0 && df(2L) == 20.0)
    val s0 = spark; import s0.implicits._
    val mixed = Seq((1L, Seq(1f, 2f, 3f))).toDF("vec_id", "embedding")
      .crossJoin(Seq(Tuple1(Seq(1f, 2f))).toDF("q"))
      .select(Similarity.l2sq(col("embedding"), col("q")).as("d"))
    assert(mixed.collect()(0).isNullAt(0), "dimension mismatch must be null")
  }

  test("pq: one code per (vector, subspace); self-query distance 0; codebook donors exact") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val cbs = Similarity.pqCodebooks(emb, nCodes = 16, mSub = 4, dims = 64)
    assert(cbs.count() == 64) // 4 subspaces × 16 codes
    val enc = Similarity.pqEncode(emb, cbs, mSub = 4, dims = 64)
    val n = emb.count()
    assert(enc.count() == n * 4, "exactly one code per (vector, subspace)")
    assert(enc.filter(col("code") < 0 || col("code") > 15).count() == 0)
    // a codebook donor's subvectors are AT distance 0 from their own
    // code, so the donor must encode to itself in every subspace
    val donor = enc.filter(col("vec_id") === 3)
      .select("m", "code").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(donor == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L),
      s"donor vector must self-encode: $donor")
    // querying WITH a donor: its own pq_dist is exactly 0 and ranks first
    val q = emb.filter(col("vec_id") === 3)
      .select(col("embedding")).head().getSeq[Float](0)
    val top = Similarity.pqTopK(enc, cbs, q, k = 5, mSub = 4, dims = 64).collect()
    assert(top.head.getLong(0) == 3L && top.head.getDouble(1) == 0.0)
    // ADC is an approximation of true L2² — sane, not wild: the true
    // nearest (vec 3 itself) is in the pq top-5
    assert(top.map(_.getLong(0)).contains(3L))
  }

  test("int8 quantization: extremes map to ±127, zero vector scores null, bad elements null out") {
    import graft.expressions.{Int8CosineSimilarity, QuantizeInt8}
    val df = vecDf(1L -> Seq(0.5f, -1.0f, 0.25f, 0f), 2L -> Seq(0f, 0f, 0f, 0f))
    val rows = df.select(col("vec_id"), QuantizeInt8.of(col("embedding")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("q")).toMap
    // max-abs slot hits ±127; others scale linearly (0.5/1.0 * 127 ≈ 64)
    assert(rows(1L).toSeq == Seq[Byte](64, -127, 32, 0))
    assert(rows(2L).toSeq == Seq[Byte](0, 0, 0, 0))
    val scored = df.select(Int8CosineSimilarity.of(
      QuantizeInt8.of(col("embedding")),
      QuantizeInt8.of(array(lit(0f), lit(0f), lit(0f), lit(0f)))).as("c")).collect()
    assert(scored.forall(_.isNullAt(0))) // zero-norm quantized vector → null
    val bad = vecDf(3L -> Seq(1f, Float.NaN))
      .select(QuantizeInt8.of(col("embedding")).as("q")).head()
    assert(bad.isNullAt(0)) // non-finite element → refuse to quantize
  }

  test("quantized cosine tracks the exact cosine on the real embeddings corpus") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val qd = Similarity.quantize(emb)
    val probe = qd.limit(1).select(col("qvec").as("q2"), col("embedding").as("e2"))
    val err = qd.limit(200).crossJoin(broadcast(probe))
      .select(abs(graft.expressions.Int8CosineSimilarity.of(col("qvec"), col("q2")) -
        Similarity.cosine(col("embedding"), col("e2"))).as("err"))
      .agg(max("err")).head().getDouble(0)
    // measured max ≈ 0.0024 on the 64-dim corpus; 0.01 leaves headroom
    // without letting a real scheme regression (e.g. dropped sign bit,
    // off-by-one scale) slip through
    assert(err < 0.01, s"int8 cosine drifted $err from exact")
  }

  test("quantized IVF top-k: recall >= 0.9 against brute force on the embeddings table") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val query = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val exact = Similarity.bruteForceTopK(emb, query, 10).collect().map(_.getLong(0)).toSet
    val qd = Similarity.quantize(emb)
    val cents = Similarity.trainCentroidsKMeans(emb, 8, iters = 2)
    val assigned = Similarity.assignToCentroids(qd, cents)
    val got = Similarity.ivfTopKQuantized(assigned, emb, cents, query, 10,
      nprobe = 2, rerank = 20).collect().map(_.getLong(0)).toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"quantized IVF recall $recall < 0.9")
  }

  test("quantized-prescreen near-dup pairs == plain near-dup pairs on the real corpus") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Similarity.trainCentroidsById(emb, 16)
    val plain = Similarity.nearDupPairs(
      Similarity.assignToCentroids(emb, cents), threshold = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val prescreened = Similarity.nearDupPairsQuantized(
      Similarity.assignToCentroids(Similarity.quantize(emb), cents), emb,
      threshold = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain.nonEmpty, "fixture must produce pairs or this test is vacuous")
    assert(prescreened == plain,
      s"int8 prescreen changed the pair set: missing=${plain -- prescreened} " +
        s"extra=${prescreened -- plain}")
  }

  test("prescreen margin holds empirically: max |int8 - exact| over bucketed pairs << 0.05") {
    // the quantization error bound is data-dependent, so the 0.05
    // default margin is guarded by MEASUREMENT over exactly the pair
    // population the prescreen filters (all bucketed candidates), with
    // 2x headroom — if a corpus change pushes the error past margin/2
    // this fails before the prescreen can silently drop a true pair
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Similarity.trainCentroidsById(emb, 16)
    val aq = Similarity.assignToCentroids(Similarity.quantize(emb), cents)
    val a = aq.select(col("centroid_id"), col("vec_id").as("id_a"),
      col("embedding").as("ea"), col("qvec").as("qa"))
    val b = aq.select(col("centroid_id"), col("vec_id").as("id_b"),
      col("embedding").as("eb"), col("qvec").as("qb"))
    val maxErr = a.join(b, Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .select(abs(
        graft.expressions.Int8CosineSimilarity.of(col("qa"), col("qb")) -
          Similarity.cosine(col("ea"), col("eb"))).as("err"))
      .agg(max("err")).head().getDouble(0)
    assert(maxErr < 0.025, s"int8 cosine error $maxErr eats the 0.05 prescreen margin")
  }

  test("partitioned inverted-list store: the probe statically prunes to nprobe partitions") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Similarity.trainCentroidsById(emb, 8)
    val assigned = Similarity.assignToCentroids(Similarity.quantize(emb), cents)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_store")
    try {
      assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(dir.toString)
      val store = spark.read.parquet(dir.toString)
      val query = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)

      val probedIds = Similarity.probedCentroidIds(cents, query, nprobe = 2)
      assert(probedIds.length == 2)
      val pruned = store.filter(col("centroid_id").isin(probedIds: _*))
      val scanPlan = pruned.queryExecution.executedPlan.toString
      // static partition pruning: the filter must land in PartitionFilters,
      // so the unprobed 6/8 of the store is never read
      assert(scanPlan.contains("PartitionFilters: [") &&
        !scanPlan.contains("PartitionFilters: []"),
        s"probe filter did not reach the partition layer:\n$scanPlan")

      // the pruned store drops into the quantized probe (its in-plan
      // probe picks the SAME ids the prune kept) and agrees with the
      // in-memory path
      val viaStore = Similarity.ivfTopKQuantized(pruned, emb, cents, query, 10,
        nprobe = 2, rerank = 20).collect().map(_.getLong(0)).toSeq
      val inMemory = Similarity.ivfTopKQuantized(assigned, emb, cents, query, 10,
        nprobe = 2, rerank = 20).collect().map(_.getLong(0)).toSeq
      assert(viaStore == inMemory)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(dir.toFile)
    }
  }

  test("nearDupPairs finds same-bucket near duplicates with exact cosine") {
    val df = vecDf(
      1L -> Seq(1f, 0f, 0f), 2L -> Seq(0.999f, 0.01f, 0f), // near-dup pair
      3L -> Seq(0f, 1f, 0f), 4L -> Seq(0f, 0f, 1f))
    // Adversarial centroid choice: centroids ARE vectors 1 and 2, so with
    // single assignment the near-dup pair splits across buckets. nAssign=2
    // (multi-probe assignment) is the documented recall knob that makes
    // the pair collide in a shared bucket.
    val centroids = Similarity.trainCentroidsById(df, 2)
    val single = Similarity.assignToCentroids(df, centroids)
    assert(Similarity.nearDupPairs(single, 0.99).count() == 0)
    val assigned = Similarity.assignToCentroids(df, centroids, nAssign = 2)
    val pairs = Similarity.nearDupPairs(assigned, 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("lshScreen: exact copy matches through every band, self and far vectors excluded") {
    import graft.expressions.HyperplaneBits
    val idx = vecDf(
      1L -> Seq(0.9f, 0.1f, 0.2f, 0.3f),
      2L -> Seq(-0.8f, 0.5f, -0.1f, 0.4f),
      3L -> Seq(0.2f, -0.9f, 0.4f, 0.1f))
    val indexSig = Similarity.quantize(idx)
      .withColumn("sig", HyperplaneBits.of(col("qvec"), 16, 1))
    // 100 duplicates vector 1 exactly (identical signature → collides in
    // all bands, cosine 1.0); 1 would only self-match and must vanish
    val batch = vecDf(100L -> Seq(0.9f, 0.1f, 0.2f, 0.3f),
      1L -> Seq(0.9f, 0.1f, 0.2f, 0.3f))
    val out = Similarity.lshScreen(batch, indexSig, idx,
      threshold = 0.95, nPlanes = 16, bandBits = 4)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(t => (t._1, t._2)).toSet == Set((100L, 1L)),
      s"expected exactly the planted match, got ${rows.mkString(", ")}")
    assert(rows.head._3 > 0.999)
    // the batch side must be the broadcast side — the index is never shuffled
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"lshScreen lost its broadcast:\n$plan")
  }

  test("emb_lsh_pairs: planted near-dup recall stays above the banding floor") {
    // The differential oracle REPLAYS whatever banding the engine picks,
    // so it stays green even if a parameter change silently tanks recall;
    // this floor is the guard the oracle cannot be. 4×8-bit bands at
    // cos≈0.97 predict ~95% band-collision recall minus quantization
    // sign noise (measured 84% at sf0.01).
    val out = graft.SparkEntry.queries("emb_lsh_pairs")(
      spark, "/root/testdata/sf0.001")
    val planted = out.filter(col("id_b") === col("id_a") + 100000L).count()
    val total = graft.Tables.embeddings(spark, "/root/testdata/sf0.001").count()
    assert(planted.toDouble / total >= 0.7,
      s"LSH recall collapsed: $planted of $total planted pairs found")
    out.unpersist()
  }

  test("lloydStats separates two obvious clusters with non-increasing inertia") {
    // ids 0/1 seed the two centroids; the rest sit tightly around one
    // of two far-apart poles, so round 1 must already split them 3/3
    // and inertia must never increase (Lloyd's monotonicity — exact
    // integer arithmetic means no float wobble excuses)
    val a = Seq(1f, 0f, 0f, 0f)
    val b = Seq(0f, 1f, 0f, 0f)
    def near(v: Seq[Float], eps: Float) = v.map(_ + eps)
    val df = vecDf(
      0L -> a, 1L -> b,
      2L -> near(a, 0.01f), 3L -> near(a, -0.01f),
      4L -> near(b, 0.01f), 5L -> near(b, -0.01f))
    val stats = Similarity.lloydStats(df, k = 2, rounds = 3).collect()
    assert(stats.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val inertias = stats.map(_.getLong(1)).toSeq
    assert(inertias == inertias.sorted.reverse, s"inertia increased: $inertias")
    assert(stats.forall(_.getLong(2) == 2L), "a cluster emptied on a 3/3 fixture")
    assert(stats.forall(_.getLong(3) == 3L), s"expected 3/3 split: ${stats.mkString(", ")}")
  }
}
