package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Incremental aggregate-view maintenance: REFRESH(batches) must equal
  * FULL REBUILD(all rows) for CDC on EITHER side — late fact versions,
  * brand-new fact keys, dimension attribute changes — and a refresh
  * must leave every untouched bucket partition byte-identical (the
  * scale contract: only dirty buckets are read or written). */
class AggregateViewSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  // dims: (id, dversion, name); facts: (fid, id, fversion, amount)
  private def dims(rs: (Long, Long, String)*): DataFrame = {
    val s = spark; import s.implicits._
    rs.toDF("id", "dversion", "name")
  }
  private def facts(rs: (Long, Long, Long, Long)*): DataFrame = {
    val s = spark; import s.implicits._
    rs.toDF("fid", "id", "fversion", "amount")
  }

  // aggregate derivation keyed on the bucket key: per dim row, the sum
  // and count of its latest-version facts
  private def derive(d: DataFrame, f: DataFrame): DataFrame =
    d.join(
      f.groupBy("id").agg(sum("amount").as("total"), count(lit(1)).as("n")),
      Seq("id"), "left")
      .select(col("id"), col("name"),
        coalesce(col("total"), lit(0L)).as("total"),
        coalesce(col("n"), lit(0L)).as("n"))

  private def mk(nBuckets: Int = 8) = {
    val root = Files.createTempDirectory("graft_av").toString
    (root, new AggregateView(root, Seq("id"),
      dimKeys = Seq("id"), dimOrder = Seq(col("dversion").desc),
      factKeys = Seq("fid"), factOrder = Seq(col("fversion").desc),
      derive, nBuckets))
  }

  private def viewMap(av: AggregateView): Map[Long, (String, Long, Long)] =
    av.view(spark).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap

  test("randomized two-sided CDC equals the full rebuild, both derive scopes") {
    // Adversarial coverage for the shared refresh fast paths: random
    // dim versions over a small id pool and random fact versions whose
    // fid→id assignment is FIXED (the class precondition), split into
    // build + one batch per side, replayed under both derive scopes.
    val s = spark; import s.implicits._
    def sortedRows(d: DataFrame): Seq[String] =
      d.collect().map(_.toString).sorted.toSeq
    for (seed <- Seq(11); scope <- Seq(BucketedView.DefaultKeyScopeMinStateBytes, 0L)) {
      val rnd = new scala.util.Random(seed)
      val fidOwner = (0 until 30).map(fid => fid.toLong -> rnd.nextInt(10).toLong).toMap
      val allDims = (1 to 40).map(i =>
        (rnd.nextInt(10).toLong, i.toLong, s"n${rnd.nextInt(5)}"))
      val allFacts = (1 to 60).map { i =>
        val fid = rnd.nextInt(30).toLong
        (fid, fidOwner(fid), i.toLong, rnd.nextInt(500).toLong)
      }
      val (d0, db) = allDims.partition(_ => rnd.nextInt(3) > 0)
      val (f0, fb) = allFacts.partition(_ => rnd.nextInt(3) > 0)
      def mkScoped() = new AggregateView(
        Files.createTempDirectory("graft_av_rand").toString, Seq("id"),
        dimKeys = Seq("id"), dimOrder = Seq(col("dversion").desc),
        factKeys = Seq("fid"), factOrder = Seq(col("fversion").desc),
        derive, nBuckets = 4, keyScopeMinStateBytes = scope)
      val inc = mkScoped()
      inc.build(dims(d0: _*), facts(f0: _*))
      inc.refreshFacts(facts(fb: _*))
      inc.refreshDims(dims(db: _*))
      inc.refreshFacts(facts(fb: _*)) // replayed batch: published no-op
      val full = mkScoped()
      full.build(dims(allDims: _*), facts(allFacts: _*))
      assert(sortedRows(inc.view(s)) == sortedRows(full.view(s)),
        s"view diverged (seed=$seed scope=$scope)")
      assert(sortedRows(inc.dims(s)) == sortedRows(full.dims(s)),
        s"dim state diverged (seed=$seed scope=$scope)")
      assert(sortedRows(inc.facts(s)) == sortedRows(full.facts(s)),
        s"fact state diverged (seed=$seed scope=$scope)")
    }
  }

  test("fact refresh equals full rebuild: new key, new version, late version") {
    val d0 = dims((1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "c"))
    val f0 = facts((10L, 1L, 1L, 100L), (11L, 1L, 5L, 40L), (20L, 2L, 1L, 7L))
    val fb = facts(
      (12L, 1L, 1L, 9L),   // brand-new fact for an aggregated key
      (11L, 1L, 9L, 60L),  // newer version REPLACES the stored 40
      (20L, 2L, 0L, 999L)) // LATE older version must lose to stored 7
    val (_, av) = mk()
    av.build(d0, f0)
    av.refreshFacts(fb)
    assert(viewMap(av) == Map(
      1L -> (("a", 169L, 3L)), 2L -> (("b", 7L, 1L)), 3L -> (("c", 0L, 0L))))
    val (_, full) = mk()
    full.build(d0, f0.unionByName(fb))
    assert(viewMap(av) == viewMap(full))
  }

  test("dimension refresh propagates into the aggregates, bucket-pruned") {
    val d0 = dims((1L, 1L, "a"), (2L, 1L, "b"))
    val f0 = facts((10L, 1L, 1L, 100L), (20L, 2L, 1L, 7L))
    val (_, av) = mk()
    av.build(d0, f0)
    av.refreshDims(dims((1L, 2L, "a-renamed"), (9L, 1L, "new-dim")))
    assert(viewMap(av) == Map(
      1L -> (("a-renamed", 100L, 1L)), 2L -> (("b", 7L, 1L)),
      9L -> (("new-dim", 0L, 0L))))
  }

  test("fact refresh leaves untouched bucket partitions byte-identical") {
    val (root, av) = mk(nBuckets = 64)
    av.build(
      dims((1L to 40L).map(i => (i, 1L, s"d$i")): _*),
      facts((1L to 40L).map(i => (i + 100L, i, 1L, i * 10L)): _*))
    def snapshot(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(root))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = snapshot()
    av.refreshFacts(facts((101L, 1L, 2L, 55L)))
    val after = snapshot()
    val touched = after.keySet.diff(before.keySet) ++ before.keySet.diff(after.keySet)
    val touchedBuckets = touched.map(_.replaceAll(".*__mv_bucket=([0-9]+).*", "$1"))
    // one fact-state bucket + one view bucket (the dim store is
    // read-only in a fact refresh)
    assert(touchedBuckets.size <= 2,
      s"fact refresh touched more than the batch's bucket: $touchedBuckets")
    assert(before.keySet.intersect(after.keySet)
      .forall(p => before(p) == after(p)),
      "an untouched partition's file was rewritten")
    assert(viewMap(av)(1L) == (("d1", 55L, 1L)))
  }

  test("replayed fact/dim batches publish NO new generation on either side") {
    val d0 = dims((1L, 1L, "a"), (2L, 1L, "b"))
    val f0 = facts((10L, 1L, 1L, 100L), (20L, 2L, 1L, 7L))
    val (root, av) = mk()
    av.build(d0, f0)
    val fb = facts((10L, 1L, 2L, 500L))
    val db = dims((2L, 2L, "b2"))
    av.refreshFacts(fb)
    av.refreshDims(db)
    val vs = av.viewVersions(spark)
    val want = viewMap(av)
    def files(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$root/view"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = files()
    // at-least-once delivery replays batches by design: the fold leaves
    // state byte-identical on both sides, so neither replay may commit
    // a generation, swap the manifest, or rewrite a single view byte
    av.refreshFacts(fb)
    av.refreshDims(db)
    assert(av.viewVersions(spark) == vs,
      "a replayed batch committed a new generation")
    assert(files() == before, "a replayed batch rewrote view files")
    assert(viewMap(av) == want)
    assert(want == Map(1L -> (("a", 500L, 1L)), 2L -> (("b2", 7L, 1L))))
  }

  test("a batch touching changed and unchanged buckets republishes only the changed") {
    // per-bucket pruning inside one batch: rows that lose to stored
    // winners must not drag their (unchanged) buckets into the publish
    val (_, av) = mk(nBuckets = 64)
    val d0 = dims((1L to 20L).map(i => (i, 1L, s"d$i")): _*)
    val f0 = facts((1L to 20L).map(i => (i + 100L, i, 5L, i * 10L)): _*)
    av.build(d0, f0)
    // key 1: genuinely newer version (changed); key 2: stale replay
    // (loses to stored fversion=5 → its bucket must be skipped)
    av.refreshFacts(facts((101L, 1L, 9L, 999L), (102L, 2L, 1L, 111L)))
    val m = av.store.manifest(spark).get
    val gens = m.values.toSet
    assert(gens.size == 2, s"expected exactly one bucket republished, got $m")
    val republished = m.filter(_._2 == gens.max).keySet
    assert(republished.size == 1,
      s"stale-row bucket was republished too: $republished")
    assert(viewMap(av)(1L) == (("d1", 999L, 1L)))
    assert(viewMap(av)(2L) == (("d2", 20L, 1L)))
  }

  test("key-scoped refresh (both sides) equals full rebuild, scoped to changed agg keys") {
    // keyScopeMinStateBytes = 0 forces the scoped path; the default
    // threshold keeps stores this small on the whole-bucket path
    val root = Files.createTempDirectory("graft_av_ks").toString
    var deriveDimIds: Set[Long] = Set.empty
    val av = new AggregateView(root, Seq("id"),
      dimKeys = Seq("id"), dimOrder = Seq(col("dversion").desc),
      factKeys = Seq("fid"), factOrder = Seq(col("fversion").desc),
      (d, f) => {
        deriveDimIds = d.select("id").collect().map(_.getLong(0)).toSet
        derive(d, f)
      },
      nBuckets = 2, keyScopeMinStateBytes = 0L)
    val d0 = dims((1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "c"), (4L, 1L, "d"))
    val f0 = facts((10L, 1L, 1L, 100L), (11L, 1L, 5L, 40L), (20L, 2L, 1L, 7L))
    av.build(d0, f0)
    // fact CDC: key 1 changed (new fact + newer version), key 2 stale
    av.refreshFacts(facts(
      (12L, 1L, 1L, 9L), (11L, 1L, 9L, 60L), (20L, 2L, 0L, 999L)))
    assert(deriveDimIds == Set(1L),
      s"scoped fact refresh re-aggregated unchanged customers: $deriveDimIds")
    assert(viewMap(av) == Map(
      1L -> (("a", 169L, 3L)), 2L -> (("b", 7L, 1L)),
      3L -> (("c", 0L, 0L)), 4L -> (("d", 0L, 0L))))
    // dim CDC: rename customer 2, add customer 9 — facts carry through
    av.refreshDims(dims((2L, 2L, "b2"), (9L, 1L, "new")))
    assert(deriveDimIds == Set(2L, 9L),
      s"scoped dim refresh re-aggregated unchanged customers: $deriveDimIds")
    assert(viewMap(av) == Map(
      1L -> (("a", 169L, 3L)), 2L -> (("b2", 7L, 1L)),
      3L -> (("c", 0L, 0L)), 4L -> (("d", 0L, 0L)), 9L -> (("new", 0L, 0L))))
    val (_, full) = mk()
    full.build(
      d0.unionByName(dims((2L, 2L, "b2"), (9L, 1L, "new"))),
      f0.unionByName(facts(
        (12L, 1L, 1L, 9L), (11L, 1L, 9L, 60L), (20L, 2L, 0L, 999L))))
    assert(viewMap(av) == viewMap(full))
  }

  test("dim refreshes interleaved with streaming fact batches serialize through the writer lock") {
    // The operational contract used to be "dimensions stay batch cycles;
    // single-writer by convention" — nothing stopped an operator from
    // firing refreshDims mid-stream, and correctness then hung on
    // scheduling luck. The per-store writer lock serializes the three
    // writers; this drives a REAL interleave (a background thread
    // hammering refreshDims while maintain drains micro-batches)
    // and demands convergence to the full rebuild plus zero errors.
    val s0 = spark
    import s0.implicits._
    implicit val sq = spark.sqlContext
    val root = Files.createTempDirectory("graft_av_lock").toString
    val av = new AggregateView(root, Seq("id"),
      dimKeys = Seq("id"), dimOrder = Seq(col("dversion").desc),
      factKeys = Seq("fid"), factOrder = Seq(col("fversion").desc),
      derive, nBuckets = 4)
    val d0 = Seq((1L, 1L, "ann"), (2L, 1L, "bob"), (3L, 1L, "cat"))
    val f0 = Seq((10L, 1L, 1L, 5L), (11L, 2L, 1L, 7L))
    av.build(dims(d0: _*), facts(f0: _*))

    val dimBatches = Seq(
      Seq((1L, 2L, "ann2")), Seq((2L, 2L, "bob2"), (4L, 1L, "dan")),
      Seq((3L, 2L, "cat2")), Seq((1L, 3L, "ann3")))
    val factBatches = Seq(
      Seq((12L, 1L, 1L, 3L)), Seq((10L, 1L, 2L, 9L), (13L, 3L, 1L, 2L)),
      Seq((14L, 4L, 1L, 11L)), Seq((11L, 2L, 2L, 8L)))

    val in = MemoryStream[(Long, Long, Long, Long)]
    val q = graft.streaming.Streams.maintain(
      in.toDF().toDF("fid", "id", "fversion", "amount"), s"$root/ckpt")(av.refreshFacts)
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val dimThread = new Thread(() =>
      try dimBatches.foreach { b => av.refreshDims(dims(b: _*)); Thread.sleep(3) }
      catch { case e: Throwable => err.set(e) })
    try {
      dimThread.start()
      factBatches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      dimThread.join()
    } finally q.stop()
    assert(err.get() == null, s"concurrent dim refresh failed: ${err.get()}")

    val (_, full) = mk(nBuckets = 4)
    full.build(
      dims(d0 ++ dimBatches.flatten: _*),
      facts(f0 ++ factBatches.flatten: _*))
    assert(viewMap(av) == viewMap(full),
      "interleaved maintenance diverged from the full rebuild")
  }

  test("a fact batch emptying nothing still handles empty-view buckets safely") {
    // a dim with no facts aggregates to zero counts rather than
    // disappearing, and refreshing it twice is idempotent
    val (_, av) = mk(nBuckets = 1)
    av.build(dims((5L, 1L, "e")), facts())
    assert(viewMap(av) == Map(5L -> (("e", 0L, 0L))))
    av.refreshFacts(facts((50L, 5L, 1L, 3L)))
    av.refreshFacts(facts((50L, 5L, 1L, 3L)))
    assert(viewMap(av) == Map(5L -> (("e", 3L, 1L))))
  }
}
