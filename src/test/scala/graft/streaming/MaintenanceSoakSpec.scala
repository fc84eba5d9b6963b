package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.etl.{GenerationStore, MaterializedView, SnapshotCatalog}

/** LONG-HORIZON soak of the maintenance stack: the MV/GenerationStore/
  * SnapshotCatalog loop is proven correct over a handful of cycles by
  * the other specs — serve-forever means HUNDREDS, and the failure
  * modes of long horizons are resource ones, invisible to short tests:
  * unreclaimed generations, manifest files accreting per cycle,
  * one-file-per-bucket decaying into small-file sprawl, or per-cycle
  * planning cost creeping with accumulated state. 200 streamed
  * maintainCycle batches (catalog commit per cycle, GC pin in play
  * every publish), then the dial readings:
  *
  *   - GENERATIONS: on-disk generation dirs and archived manifest
  *     versions stay within the keepVersions window (+1 live), i.e.
  *     GC reclaimed ~197 of 200, in the view store and in the state
  *     store (one retained version) alike — and superseded catalog PINS
  *     release (the pin-retention hook must extend retention while
  *     pinned, never leak it after the pin advances);
  *   - FILES: the view tree holds a bounded file count (one parquet
  *     file per touched bucket per retained generation, plus marker/
  *     sidecar files), state tree likewise — no sprawl;
  *   - MANIFESTS: `_MANIFEST` and `_CATALOG` stay one-line-per-bucket/
  *     member sized — they encode LIVENESS, not history;
  *   - WALL: per-cycle latency is flat — the last quartile's mean within
  *     3× the post-warmup quartile's (generous: the bound catches
  *     CREEP, monotone growth with cycle count, not machine noise).
  */
class MaintenanceSoakSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private val Cycles = 200

  test(s"$Cycles maintainCycle batches: bounded files, bounded manifests, flat wall") {
    val s0 = spark
    import s0.implicits._
    implicit val sq = spark.sqlContext
    val root = Files.createTempDirectory("graft_soak").toString
    val mv = new MaterializedView(s"$root/mv", Seq("custno"), Seq(col("version").desc),
      derive = st => st.select(col("custno"), col("amount")),
      nBuckets = 2, keepVersions = 2)
    val catalog = new SnapshotCatalog(s"$root/catalog").register("amounts", mv.store)
    mv.build(Seq((1L, 0L, 1.0), (2L, 0L, 2.0), (3L, 0L, 3.0), (4L, 0L, 4.0),
      (5L, 0L, 5.0)).toDF("custno", "version", "amount"))
    catalog.commitCycle(spark)

    val in = MemoryStream[(Long, Long, Double)]
    val q = Streams.maintainCycle(
      in.toDF().toDF("custno", "version", "amount"), catalog, s"$root/ckpt")(
      batch => mv.refresh(batch))
    val wall = new Array[Double](Cycles)
    try {
      (1 to Cycles).foreach { c =>
        val t0 = System.nanoTime()
        in.addData(((c % 5) + 1L, c.toLong, c * 1.0))
        q.processAllAvailable()
        wall(c - 1) = (System.nanoTime() - t0) / 1e9
      }
    } finally q.stop()

    // the loop really ran: the view serves the last writer per key and
    // the catalog pin resolves it
    val served = catalog.readAll(spark).get("amounts").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(served.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(served((Cycles % 5) + 1L) == Cycles * 1.0)

    // GENERATIONS: GC reclaimed all but the retention window
    val versions = mv.store.versionsOnDisk(spark)
    assert(versions.size <= 3,
      s"${versions.size} archived versions after $Cycles cycles — GC not reclaiming")
    def walk(dir: java.io.File): Seq[java.io.File] = {
      val cs = Option(dir.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      cs.filter(_.isFile) ++ cs.filter(_.isDirectory).flatMap(walk)
    }
    val genDirs = Option(new java.io.File(s"$root/mv/view").listFiles())
      .map(_.toSeq).getOrElse(Seq.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("gen="))
    // each retained manifest maps every bucket to the generation that
    // last touched it, so keepVersions+1 retained manifests can pin up
    // to (keepVersions+1) + (nBuckets-1) distinct generations = 4 here
    assert(genDirs.size <= 4,
      s"${genDirs.size} generation dirs after $Cycles cycles — GC not reclaiming")
    // the state store retains one version: the same bound gives
    // (1+1) archived versions and (1+1) + (nBuckets-1) = 3 generations
    val stateVersions = new GenerationStore(s"$root/mv/state", "__mv_bucket").versionsOnDisk(spark)
    assert(stateVersions.size <= 2,
      s"${stateVersions.size} archived state versions after $Cycles cycles — GC not reclaiming")
    val stateGenDirs = Option(new java.io.File(s"$root/mv/state").listFiles())
      .map(_.toSeq).getOrElse(Seq.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("gen="))
    assert(stateGenDirs.nonEmpty && stateGenDirs.size <= 3,
      s"${stateGenDirs.size} state generation dirs after $Cycles cycles — GC not reclaiming")

    // FILES: bounded by retention x buckets, not by cycle count.
    // Per generation: <= nBuckets bucket dirs x (1 parquet + _SUCCESS
    // marker); root: live manifest + <= keepVersions+1 version archives
    // + schema sidecar. 40 is several times that ceiling and 1/10th of
    // what one-file-per-cycle sprawl would leave.
    val viewFiles = walk(new java.io.File(s"$root/mv/view"))
    assert(viewFiles.size <= 40,
      s"${viewFiles.size} files in the view tree after $Cycles cycles")
    val stateFiles = walk(new java.io.File(s"$root/mv/state"))
    assert(stateFiles.size <= 40,
      s"${stateFiles.size} files in the state tree after $Cycles cycles")
    genDirs.foreach { g =>
      Option(g.listFiles()).getOrElse(Array.empty).filter(_.isDirectory).foreach { b =>
        val parquets = Option(b.listFiles()).getOrElse(Array.empty)
          .count(_.getName.endsWith(".parquet"))
        assert(parquets <= 1,
          s"bucket ${b.getName} of ${g.getName} holds $parquets files — " +
            "one-file-per-bucket layout decayed")
      }
    }

    // MANIFESTS: liveness-sized, not history-sized
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/mv/view/_MANIFEST"))
    val (schemaLines, bucketLines) = manifest.linesIterator.toSeq.partition(_.startsWith("{"))
    assert(schemaLines.size == 1 && bucketLines.size <= 2, s"manifest grew: $manifest")
    val catalogBytes = java.nio.file.Files.size(
      java.nio.file.Paths.get(s"$root/catalog/_CATALOG"))
    assert(catalogBytes < 512, s"_CATALOG grew to $catalogBytes bytes")

    // WALL: no creep. Compare post-warmup quartile to the final one.
    val base = wall.slice(50, 100).sum / 50
    val tail = wall.slice(Cycles - 50, Cycles).sum / 50
    info(f"per-cycle wall: cycles 51-100 mean $base%.3f s, last 50 mean $tail%.3f s")
    assert(tail <= base * 3,
      f"per-cycle wall crept: $base%.3f s -> $tail%.3f s over $Cycles cycles")
  }
}
