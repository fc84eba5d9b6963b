package graft.sinks

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** S7/ST5 batched rate-limited delivery + S9 processed-ID state store. */
class EventSinkSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  test("deliver batches payloads, counts via accumulator, nothing lost") {
    val spark0 = spark
    import spark0.implicits._
    val events = (1 to 250).map(i => s"""{"id":$i}""").toDF("payload")
      .repartition(2)
    EventSinkSpec.got.clear()
    // transport writes to a STATIC queue: closures are serialized even in
    // local mode, so a captured instance field would collect into a copy.
    val n = EventSink.deliver(events, "payload", b => EventSinkSpec.got.add(b),
      batchSize = 100)
    assert(n == 250)
    val batches = EventSinkSpec.got.toArray(Array.empty[Seq[String]])
    assert(batches.map(_.size).sum == 250)
    assert(batches.forall(_.size <= 100))
    // per-partition batching: at most one ragged (non-full) batch per partition
    assert(batches.count(_.size < 100) <= 2)
    val ids = batches.flatten.map(s => s.replaceAll("[^0-9]", "").toInt).toSet
    assert(ids == (1 to 250).toSet)
  }

  test("ProcessedIds: load empty → append → load → compact round-trips") {
    val spark0 = spark
    import spark0.implicits._
    // the same store under a bare and a `file:`-qualified path
    Seq("", "file:").foreach { scheme =>
      val dir = java.nio.file.Files.createTempDirectory("graft-state").toString
      val path = s"$scheme$dir/processed"
      assert(EventSink.ProcessedIds.load(spark, path, "event_id").count() == 0)
      EventSink.ProcessedIds.append(Seq(1L, 2L, 3L).toDF("event_id"), path)
      EventSink.ProcessedIds.append(Seq(3L, 4L).toDF("event_id"), path) // overlap
      val loaded = EventSink.ProcessedIds.load(spark, path, "event_id")
        .collect().map(_.getLong(0)).toSet
      assert(loaded == Set(1L, 2L, 3L, 4L))
      EventSink.ProcessedIds.compact(spark, path, "event_id")
      val after = EventSink.ProcessedIds.load(spark, path, "event_id")
        .collect().map(_.getLong(0)).toSet
      assert(after == Set(1L, 2L, 3L, 4L))
      // compacted to a single part file
      val parts = java.nio.file.Files.walk(java.nio.file.Paths.get(path.stripPrefix(scheme)))
        .filter(_.getFileName.toString.startsWith("part-")).count()
      assert(parts == 1)
    }
  }

  test("ProcessedIds loads through its schema sidecar: no inference job, a compact that crashed before its delete reads and converges") {
    val spark0 = spark
    import spark0.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-state5").toString + "/processed"
    // jobs with no SQL execution id whose stage is a `parquet at` read are
    // footer schema inference, the job the sidecar exists to remove
    def inferenceJobs(body: => Set[Long]): (Set[Long], Int) = {
      val bare = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (Option(js.properties).flatMap(p =>
                Option(p.getProperty("spark.sql.execution.id"))).isEmpty &&
              js.stageInfos.exists(_.name.contains("parquet at")))
            bare.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val out = body
        org.apache.spark.GraftCoreShim.flushListeners(spark.sparkContext)
        (out, bare.get)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    def load() = EventSink.ProcessedIds.load(spark, path, "event_id")
      .collect().map(_.getLong(0)).toSet
    EventSink.ProcessedIds.append(Seq(1L, 2L).toDF("event_id"), path)
    EventSink.ProcessedIds.append(Seq(2L, 3L).toDF("event_id"), path)
    assert(inferenceJobs(load()) == (Set(1L, 2L, 3L), 0))
    // a compact that crashed after publishing its snapshot but before
    // deleting the append files it folded: both are on disk at once
    def appendFiles() = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("part-")).toSeq
    val folded = appendFiles().map(f => f -> java.nio.file.Files.readAllBytes(f.toPath))
    EventSink.ProcessedIds.compact(spark, path, "event_id")
    assert(appendFiles().isEmpty)
    folded.foreach { case (f, bytes) => java.nio.file.Files.write(f.toPath, bytes) }
    assert(inferenceJobs(load()) == (Set(1L, 2L, 3L), 0))
    // the next compact converges: the folded appends are gone, the set
    // is unchanged
    EventSink.ProcessedIds.compact(spark, path, "event_id")
    assert(appendFiles().isEmpty)
    assert(inferenceJobs(load()) == (Set(1L, 2L, 3L), 0))
    // an append whose schema differs from the log's fails before writing
    val e = intercept[IllegalArgumentException](
      EventSink.ProcessedIds.append(Seq("x").toDF("event_id"), path))
    assert(e.getMessage.contains("differs from the log"))
    assert(load() == Set(1L, 2L, 3L))
  }

  test("deliverBatchIdempotent: string ids bootstrap cleanly, in-batch dups and null ids excluded") {
    val spark0 = spark
    import spark0.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-state3").toString
    val path = s"$dir/processed"
    // string U6-style messageIds on the VERY FIRST batch (no state dir):
    // the empty bootstrap frame must be string-typed or the anti-join
    // casts the key and ANSI mode throws on non-numeric ids
    val batch = Seq(
      ("vehicle_purchase|D1|VIN9", "p1"),
      ("vehicle_purchase|D1|VIN9", "p1dup"), // same id twice in one batch
      ("vehicle_purchase|D2|VIN7", "p2"),
      (null, "orphan")) // untrackable → excluded
      .toDF("message_id", "payload")
    EventSinkSpec.got.clear()
    val n = EventSink.deliverBatchIdempotent(batch, "message_id", "payload",
      path, b => EventSinkSpec.got.add(b))
    assert(n == 2, s"expected one delivery per distinct non-null id, got $n")
    val sent = EventSinkSpec.got.toArray(Array.empty[Seq[String]]).flatten.toSet
    assert(sent.size == 2 && sent.contains("p2") && !sent.contains("orphan"))
    // replaying the same batch delivers nothing more
    assert(EventSink.deliverBatchIdempotent(batch, "message_id", "payload",
      path, b => EventSinkSpec.got.add(b)) == 0)
  }

  test("deliverBatchIdempotent releases its checkpoint blocks per batch") {
    val spark0 = spark
    import spark0.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-state4").toString
    val path = s"$dir/processed"
    val sc = spark.sparkContext
    val baseline = sc.getPersistentRDDs.size
    // a long-lived streaming session runs this once per micro-batch —
    // unreleased checkpoint blocks would grow without bound
    (1 to 5).foreach { b =>
      val batch = Seq((s"id-$b-1", "p1"), (s"id-$b-2", "p2"))
        .toDF("message_id", "payload")
      EventSink.deliverBatchIdempotent(batch, "message_id", "payload",
        path, _ => ())
    }
    assert(sc.getPersistentRDDs.size <= baseline,
      s"leaked persistent RDDs: baseline $baseline, " +
        s"now ${sc.getPersistentRDDs.size}")
  }

  test("deliver + ProcessedIds = idempotent incremental delivery") {
    val spark0 = spark
    import spark0.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-state2").toString
    val path = s"$dir/processed"
    val all = (1L to 20L).map(i => (i, s"""{"id":$i}""")).toDF("event_id", "payload")

    def runOnce(): Long = {
      val processed = EventSink.ProcessedIds.load(spark, path, "event_id")
      val todo = all.join(processed, Seq("event_id"), "left_anti")
      val sent = EventSink.deliver(todo, "payload", _ => ())
      EventSink.ProcessedIds.append(todo.select("event_id"), path)
      sent
    }
    assert(runOnce() == 20L)
    assert(runOnce() == 0L) // second run delivers nothing
  }
}

object EventSinkSpec {
  val got = new ConcurrentLinkedQueue[Seq[String]]()
}
