package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.ext.Similarity

/** Streaming × ANN integration: a document stream screened for
  * embedding near-dups against a static quantized IVF index, per
  * micro-batch through deliverStream's foreachBatch — the shape a
  * 100 TB ingest pipeline runs (index on disk partitioned by centroid,
  * batch assigned inline, buckets pruned, int8 prescreen, exact
  * rerank). */
class StreamingAnnSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  // index corpus: 4 well-separated directions in 4-dim space, a few
  // vectors around each; doc 100/101/102/103 are the bucket anchors
  private def indexVectors() = {
    val s = spark
    import s.implicits._
    Seq(
      100L -> Seq(1f, 0f, 0f, 0f), 110L -> Seq(0.9f, 0.1f, 0f, 0f),
      101L -> Seq(0f, 1f, 0f, 0f), 111L -> Seq(0.1f, 0.9f, 0f, 0f),
      102L -> Seq(0f, 0f, 1f, 0f), 112L -> Seq(0f, 0.1f, 0.9f, 0f),
      103L -> Seq(0f, 0f, 0f, 1f), 113L -> Seq(0f, 0f, 0.1f, 0.9f)
    ).toDF("vec_id", "embedding")
  }

  test("inline assignment equals the window-based assignment (nAssign=1)") {
    val idx = indexVectors()
    val centroids = Similarity.trainCentroidsById(idx, 4)
    val viaWindow = Similarity.assignToCentroids(idx, centroids)
      .select("vec_id", "centroid_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val inline = Similarity.assignToCentroidsInline(idx, centroids)
      .select("vec_id", "centroid_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inline == viaWindow)
  }

  test("micro-batched stream screening flags near-dups and passes novel docs") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext

    val idx = indexVectors()
    val centroids = Similarity.trainCentroidsById(idx, 4)
    val indexQ = Similarity.assignToCentroids(
      Similarity.quantize(idx), centroids, nAssign = 2)

    val in = MemoryStream[(Long, Seq[Float])]
    val matches = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val checkpoint = Files.createTempDirectory("graft_ann_ckpt").toString
    val q = Streams.deliverStream(
      in.toDF().toDF("vec_id", "embedding"), checkpoint) { (batch, _) =>
      matches ++= Similarity
        .nearDupScreen(batch, indexQ, idx, centroids, threshold = 0.95)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
    }
    try {
      // batch 1: a near-copy of doc 100 and a novel direction
      in.addData(1L -> Seq(0.99f, 0.01f, 0f, 0f), 2L -> Seq(0.5f, -0.5f, 0.5f, -0.5f))
      q.processAllAvailable()
      // batch 2: a near-copy of doc 103
      in.addData(3L -> Seq(0f, 0f, 0.02f, 0.98f))
      q.processAllAvailable()
    } finally q.stop()

    val byDoc = matches.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byDoc.getOrElse(1L, Set.empty).contains(100L),
      s"doc 1 should match its source doc 100, got $byDoc")
    assert(!byDoc.contains(2L), s"novel doc 2 must not match, got $byDoc")
    assert(byDoc.getOrElse(3L, Set.empty).contains(103L),
      s"doc 3 should match its source doc 103, got $byDoc")
    // every reported match is a true >= threshold pair on exact cosine
    assert(matches.forall { case (a, b) => a != b })
  }

  test("micro-batched LSH screening: same stream shape, no centroids to train") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext

    val idx = indexVectors()
    val indexSig = Similarity.quantize(idx)
      .withColumn("sig",
        graft.expressions.HyperplaneBits.of(col("qvec"), 16, 1))

    val in = MemoryStream[(Long, Seq[Float])]
    val matches = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val checkpoint = Files.createTempDirectory("graft_lsh_ckpt").toString
    val q = Streams.deliverStream(
      in.toDF().toDF("vec_id", "embedding"), checkpoint) { (batch, _) =>
      matches ++= Similarity
        .lshScreen(batch, indexSig, idx, threshold = 0.95,
          nPlanes = 16, bandBits = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
    }
    try {
      in.addData(1L -> Seq(1f, 0f, 0f, 0f), // exact copy of doc 100
        2L -> Seq(0.5f, -0.5f, 0.5f, -0.5f)) // novel direction
      q.processAllAvailable()
      in.addData(3L -> Seq(0f, 0f, 0f, 1f)) // exact copy of doc 103
      q.processAllAvailable()
    } finally q.stop()

    val byDoc = matches.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byDoc.getOrElse(1L, Set.empty).contains(100L),
      s"doc 1 should match its source doc 100, got $byDoc")
    assert(!byDoc.contains(2L), s"novel doc 2 must not match, got $byDoc")
    assert(byDoc.getOrElse(3L, Set.empty).contains(103L),
      s"doc 3 should match its source doc 103, got $byDoc")
  }

  test("indexIngest: streamed batches == batch adds; a replayed batch after a crash converges without duplicates") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    import graft.ext.ServedAnnIndex

    val init = indexVectors()
    val streamed = new ServedAnnIndex(
      Files.createTempDirectory("graft_ingest_a").toString, nCentroids = 4)
    val reference = new ServedAnnIndex(
      Files.createTempDirectory("graft_ingest_b").toString, nCentroids = 4)
    streamed.build(init); reference.build(init)

    val b1 = Seq(200L -> Seq(0.8f, 0.2f, 0f, 0f), 201L -> Seq(0f, 0.85f, 0.15f, 0f))
    val b2 = Seq(202L -> Seq(0f, 0f, 0.7f, 0.3f), 203L -> Seq(0.1f, 0f, 0f, 0.95f))
    reference.add(b1.toDF("vec_id", "embedding"))
    reference.add(b2.toDF("vec_id", "embedding"))

    def postings(idx: ServedAnnIndex): Seq[(Long, Long)] =
      idx.store.read(spark).get
        .filter(col("centroid_id") =!= ServedAnnIndex.CentroidBucket)
        .select("vec_id", "centroid_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

    val checkpoint = Files.createTempDirectory("graft_ingest_ckpt").toString
    val in = MemoryStream[(Long, Seq[Float])]
    val src = in.toDF().toDF("vec_id", "embedding")

    // batch 1 flows through the stream and commits its offset
    val q1 = Streams.indexIngest(src, streamed, checkpoint)
    try { in.addData(b1: _*); q1.processAllAvailable() } finally q1.stop()

    // CRASH SHAPE: the add of batch 2 PUBLISHED but the stream died
    // before committing the offset — simulate by applying the add
    // out-of-band, then letting the restarted stream replay it
    streamed.add(b2.toDF("vec_id", "embedding"))
    in.addData(b2: _*)
    val q2 = Streams.indexIngest(src, streamed, checkpoint)
    try { q2.processAllAvailable() } finally q2.stop()

    // replay absorbed idempotently: exact same postings as the batch
    // reference — same count (no duplicates), same assignments
    assert(postings(streamed) == postings(reference),
      "streamed ingest with a replayed batch diverged from batch adds")

    // and searches agree at the live versions
    val qv = Seq(0.9f, 0.1f, 0f, 0f)
    def top(idx: ServedAnnIndex) =
      idx.search(Seq((0L, qv)).toDF("q_id", "qv"), k = 5, nprobe = 2).get
        .select("vec_id", "cosine")
        .collect().map(r => (r.getLong(0), math.rint(r.getDouble(1) * 1e9))).toSeq
    assert(top(streamed) == top(reference))
  }
}
