package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The atomic-publish contract of the generation-manifest view store:
  * a reader — concurrent with a refresh, or after a crash at the widest
  * window (new generation fully written, manifest not yet swapped) —
  * always sees a COMPLETE old-or-new state, never a missing bucket; a
  * crashed refresh replays to convergence; orphaned generations are
  * garbage-collected by the next publish. This is the serving guarantee
  * the reference gets for free from its warehouse views
  * (`sql/customer_360_views.sql` — Redshift never serves a half-
  * refreshed view), re-established on an immutable-files lake.
  */
class GenerationStoreSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def rows(rs: (Long, Long, Boolean, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rs.toDF("id", "version", "deleted", "payload")
  }

  private def derive(state: DataFrame): DataFrame =
    state.filter(!col("deleted"))
      .select(col("id"), col("payload"), (col("version") * 10).as("derived"))

  private def mk(nBuckets: Int = 8) = {
    val root = Files.createTempDirectory("graft_gen").toString
    (root, new MaterializedView(root, Seq("id"),
      Seq(col("version").desc), derive, nBuckets))
  }

  private def viewMap(mv: MaterializedView): Map[Long, (String, Long)] =
    mv.view(spark).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

  private final class Boom extends RuntimeException("simulated crash before swap")

  test("crash after generation write, before swap: complete old view; replay converges") {
    val base = rows((1L, 1L, false, "a1"), (2L, 1L, false, "b1"), (3L, 1L, false, "c1"))
    val batch = rows((1L, 2L, false, "a2"), (7L, 1L, false, "g1"))
    val (_, mv) = mk()
    mv.build(base)
    val old = viewMap(mv)
    assert(old.keySet == Set(1L, 2L, 3L))

    // crash at the WIDEST window: the new generation is fully on disk,
    // the manifest still names the old one
    mv.store.onBeforeSwap = () => throw new Boom
    intercept[Boom] { mv.refresh(batch) }
    mv.store.onBeforeSwap = () => ()
    assert(viewMap(mv) == old,
      "a crash before the manifest swap must leave the complete old view serving")

    // replay of the same batch (the crash-recovery path) converges to
    // the full rebuild — latest-wins makes the refresh idempotent
    mv.refresh(batch)
    val (_, full) = mk()
    full.build(base.unionByName(batch))
    assert(viewMap(mv) == viewMap(full))
  }

  test("a fully-replayed batch publishes NO new generation (byte-identical view)") {
    val (root, mv) = mk()
    mv.build(rows((1L, 1L, false, "a1"), (2L, 1L, false, "b1")))
    val batch = rows((1L, 2L, false, "a2"), (7L, 1L, false, "g1"))
    mv.refresh(batch)
    val versionsAfterFirst = mv.viewVersions(spark)
    val want = viewMap(mv)
    def files(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$root/view"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = files()
    // the activation path replays CDC batches BY DESIGN — the replay
    // must be a complete no-op: no new generation, no manifest swap,
    // not a single view byte rewritten
    mv.refresh(batch)
    mv.refresh(batch)
    assert(mv.viewVersions(spark) == versionsAfterFirst,
      "a replayed batch must not commit a new generation")
    assert(files() == before, "a replayed batch rewrote view files")
    assert(viewMap(mv) == want)
  }

  test("state schemas with MAP columns refresh and no-op-skip correctly") {
    // change detection must not use set ops / equality on the raw rows:
    // Spark rejects MapType there, and the reference's schema family
    // carries JSONB-style maps (VERDICT r9 / ADVICE)
    val s = spark
    import s.implicits._
    def mrows(rs: (Long, Long, Boolean, Map[String, String])*): DataFrame =
      rs.toDF("id", "version", "deleted", "attrs")
    val root = Files.createTempDirectory("graft_gen_map").toString
    val mv = new MaterializedView(root, Seq("id"),
      Seq(col("version").desc),
      st => st.filter(!col("deleted"))
        .select(col("id"), col("attrs"), map_keys(col("attrs")).as("ks")),
      nBuckets = 4)
    mv.build(mrows((1L, 1L, false, Map("t" -> "x")), (2L, 1L, false, Map.empty)))
    val batch = mrows((1L, 2L, false, Map("t" -> "y", "u" -> "z")))
    mv.refresh(batch)
    def attrs(): Map[Long, Map[String, String]] = mv.view(spark).collect()
      .map(r => r.getLong(0) -> r.getAs[Map[String, String]]("attrs")).toMap
    assert(attrs() == Map(1L -> Map("t" -> "y", "u" -> "z"), 2L -> Map.empty))
    val vs = mv.viewVersions(spark)
    mv.refresh(batch) // replay: the skip must fire despite the map column
    assert(mv.viewVersions(spark) == vs,
      "map-typed state broke the no-op skip (or forced a spurious publish)")
  }

  test("crash AFTER publish, before state write: replay (any order) converges") {
    // the mirror window of the publish-first ordering: the view carries
    // the batch, the state does not — any later replay restores state
    // and the re-publish is content-idempotent
    val base = rows((1L, 1L, false, "a1"), (2L, 1L, false, "b1"))
    val batchA = rows((1L, 2L, false, "a2"))
    val batchB = rows((2L, 2L, false, "b2"))
    val (_, mv) = mk()
    mv.build(base)
    mv.onAfterPublish = () => throw new Boom
    intercept[Boom] { mv.refresh(batchA) }
    mv.onAfterPublish = () => ()
    // an unrelated batch lands first (at-least-once delivery has no
    // ordering promise), THEN the crashed batch replays
    mv.refresh(batchB)
    mv.refresh(batchA)
    val (_, full) = mk()
    full.build(base.unionByName(batchA).unionByName(batchB))
    assert(viewMap(mv) == viewMap(full))
    assert(mv.state(spark).collect().length == 2)
  }

  test("key-scoped refresh: both crash windows replay to convergence") {
    // the cost-based key-scoped path (threshold 0 forces it) adds a
    // carry-forward read of the SERVED generation — after a
    // crash-after-publish, that read sees the crashed batch's own rows,
    // and the replay must still converge (the re-derive overwrites
    // them; the anti join only carries keys the batch did NOT change)
    def mkScoped() = {
      val root = Files.createTempDirectory("graft_gen_ks").toString
      new MaterializedView(root, Seq("id"), Seq(col("version").desc),
        derive, nBuckets = 2, keyScopeMinStateBytes = 0L)
    }
    val base = rows((1L, 1L, false, "a1"), (2L, 1L, false, "b1"),
      (3L, 1L, false, "c1"))
    val batch = rows((1L, 2L, false, "a2"), (7L, 1L, false, "g1"))

    // window 1: generation written, manifest unswapped
    val mv1 = mkScoped()
    mv1.build(base)
    val old = viewMap(mv1)
    mv1.store.onBeforeSwap = () => throw new Boom
    intercept[Boom] { mv1.refresh(batch) }
    mv1.store.onBeforeSwap = () => ()
    assert(viewMap(mv1) == old,
      "crash before swap must leave the complete old view serving")
    mv1.refresh(batch)

    // window 2: view published, state not yet written
    val mv2 = mkScoped()
    mv2.build(base)
    mv2.onAfterPublish = () => throw new Boom
    intercept[Boom] { mv2.refresh(batch) }
    mv2.onAfterPublish = () => ()
    mv2.refresh(batch)

    val full = mkScoped()
    full.build(base.unionByName(batch))
    val want = viewMap(full)
    assert(viewMap(mv1) == want, "crash-before-swap replay diverged")
    assert(viewMap(mv2) == want, "crash-after-publish replay diverged")
  }

  test("a reader INSIDE the publish window sees the complete old state") {
    val (_, mv) = mk()
    mv.build(rows((1L, 1L, false, "a1"), (2L, 1L, false, "b1")))
    val old = viewMap(mv)
    var observed: Map[Long, (String, Long)] = null
    // the hook runs after the new generation is written and before the
    // swap — the exact instant the delete-then-append publish served a
    // bucketless view
    mv.store.onBeforeSwap = () => observed = viewMap(mv)
    mv.refresh(rows((1L, 2L, false, "a2")))
    mv.store.onBeforeSwap = () => ()
    assert(observed == old, s"mid-publish reader saw a partial state: $observed")
    assert(viewMap(mv)(1L) == ("a2", 20L), "post-swap reader must see the new state")
  }

  test("emptying a bucket publishes atomically: old row until swap, gone after") {
    val (_, mv) = mk(nBuckets = 1)
    mv.build(rows((5L, 1L, false, "e1")))
    var observed: Map[Long, (String, Long)] = null
    mv.store.onBeforeSwap = () => observed = viewMap(mv)
    mv.refresh(rows((5L, 2L, true, "e2"))) // winner soft-deletes: bucket empties
    mv.store.onBeforeSwap = () => ()
    assert(observed == Map(5L -> (("e1", 10L))),
      "mid-publish reader must still see the doomed row")
    assert(viewMap(mv) == Map.empty)
  }

  test("orphaned generations and manifest temps are GC'd by the next publish") {
    val (root, mv) = mk(nBuckets = 2)
    mv.build(rows((1L, 1L, false, "a1"), (2L, 1L, false, "b1")))
    mv.store.onBeforeSwap = () => throw new Boom
    intercept[Boom] { mv.refresh(rows((1L, 2L, false, "a2"))) }
    mv.store.onBeforeSwap = () => ()
    def gens(): Set[String] = {
      val d = new java.io.File(s"$root/view")
      d.listFiles().map(_.getName).filter(_.startsWith("gen=")).toSet
    }
    assert(gens().size == 2, "crashed publish should have left an orphan generation")
    mv.refresh(rows((1L, 2L, false, "a2")))
    // post-GC: every surviving generation is referenced by the manifest
    val live = mv.store.manifest(spark).get.values.toSet.map((g: Long) => s"gen=$g")
    assert(gens() == live, s"unreferenced generations survived GC: ${gens() -- live}")
    assert(!new java.io.File(s"$root/view").listFiles()
      .exists(_.getName.startsWith("_MANIFEST.tmp-")), "stale manifest temp survived")
    assert(viewMap(mv)(1L) == ("a2", 20L))
  }

  test("a view publish failing while the state generation is staged leaves the state untouched") {
    // a refresh stages its state generation beside the view publish;
    // when the view's swap never comes, the staged generation is a
    // crashed partial write: never served, collected by the next publish
    val base = rows((1L, 1L, false, "a1"), (2L, 1L, false, "b1"), (3L, 1L, false, "c1"))
    val batch = rows((1L, 2L, false, "a2"), (7L, 1L, false, "g1"))
    val (root, mv) = mk()
    mv.build(base)
    val stateStore = mv.stateStores.head
    def stateRows(): Seq[String] = mv.state(spark).collect().map(_.toString).sorted.toSeq
    def stateGens(): Set[String] =
      new java.io.File(s"$root/state").listFiles().map(_.getName).filter(_.startsWith("gen=")).toSet
    def liveStateGens(): Set[String] =
      stateStore.manifest(spark).get.values.toSet.map((g: Long) => s"gen=$g")
    def filesUnder(dir: String): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).map(_.getPath).filter(_.endsWith(".parquet")).toSet
    }
    val before = stateRows()
    val manifestBefore = stateStore.manifest(spark)

    mv.store.onBeforeSwap = () => throw new Boom
    intercept[Boom] { mv.refresh(batch) }
    mv.store.onBeforeSwap = () => ()
    // the refresh waited for the stage: its generation is on disk, unswapped
    val orphans = stateGens() -- liveStateGens()
    assert(orphans.size == 1, s"expected one staged, unswapped state generation: ${stateGens()}")
    val orphanFiles = orphans.flatMap(g => filesUnder(s"$root/state/$g"))
    assert(orphanFiles.nonEmpty, "the staged generation should hold the batch's state")
    assert(stateStore.manifest(spark) == manifestBefore, "the state manifest must not move")
    assert(stateRows() == before, "the state must read exactly as before the refresh")

    // the replay converges to a full rebuild, and its state publish
    // collected the orphan
    mv.refresh(batch)
    val (_, full) = mk()
    full.build(base.unionByName(batch))
    assert(viewMap(mv) == viewMap(full))
    assert(stateRows() == full.state(spark).collect().map(_.toString).sorted.toSeq)
    assert(stateGens() == liveStateGens(), s"unreferenced state generations: ${stateGens()}")
    assert(orphanFiles.forall(f => !new java.io.File(f).exists),
      s"the orphan's files survived the next publish: $orphanFiles")
  }

  test("the state swap runs after the view's swap and onAfterPublish") {
    val (_, mv) = mk()
    mv.build(rows((1L, 1L, false, "a1"), (2L, 1L, false, "b1")))
    val viewBefore = mv.store.manifest(spark)
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var viewAtStateSwap: Option[Map[Long, Long]] = None
    mv.store.onBeforeSwap = () => { events.add("view swap"); () }
    mv.onAfterPublish = () => { events.add("after publish"); () }
    mv.stateStores.head.onBeforeSwap = () => {
      events.add("state swap")
      viewAtStateSwap = mv.store.manifest(spark)
    }
    try mv.refresh(rows((1L, 2L, false, "a2")))
    finally {
      mv.store.onBeforeSwap = () => ()
      mv.onAfterPublish = () => ()
      mv.stateStores.head.onBeforeSwap = () => ()
    }
    import scala.jdk.CollectionConverters._
    assert(events.asScala.toSeq == Seq("view swap", "after publish", "state swap"))
    assert(viewAtStateSwap != viewBefore && viewAtStateSwap == mv.store.manifest(spark),
      "the state swap hook must see the view's new version already live")
    assert(viewMap(mv)(1L) == ("a2", 20L))
  }

  test("a publish lists the store root once: GC's version window and sweep share it") {
    val s = spark
    import s.implicits._
    graft.Counting.install(spark.sparkContext.hadoopConfiguration)
    val dir = Files.createTempDirectory("graft_gen_list").toString + "/view"
    val store = new GenerationStore(graft.Counting.path(dir), "__b", keepVersions = 2)
    def df(rows: (Long, String, Long)*) = rows.toDF("id", "payload", "__b")
    store.publish(df((1L, "a", 0L), (2L, "b", 1L)), Seq(0L, 1L))
    store.publish(df((1L, "a2", 0L)), Seq(0L))
    store.publish(df((1L, "a3", 0L)), Seq(0L))
    // this publish has a version to age out and a generation to collect
    val (v, listings) = graft.Counting.listingsOf(dir)(store.publish(df((2L, "b4", 1L)), Seq(1L)))
    assert(listings == 1, s"a publish listed the store root $listings times")
    assert(store.versions(spark) == Seq(v - 2, v - 1, v))
    assert(store.read(spark).get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a3", 2L -> "b4"))
  }

  test("ScanCommit: torn control-file writes still serve complete old-or-new") {
    // the object-store profile: NO atomic rename anywhere — every
    // commit is a fresh sequenced key with a validated frame, and a
    // write torn mid-copy (the injected fault) must leave readers on
    // the previous complete content, with the next publish recovering
    val s = spark
    import s.implicits._
    val conf = s.sparkContext.hadoopConfiguration
    // fake: tear the Nth-from-now raw key write halfway through, and
    // record the logical file each torn key encodes
    class Tearing extends ScanCommit(keepKeys = 2) {
      var tearIn: Int = 0 // 0 = disarmed; N = fail the Nth next write
      val torn = scala.collection.mutable.ArrayBuffer.empty[String]
      override protected def writeBytes(
          p: org.apache.hadoop.fs.Path, bytes: Array[Byte],
          c: org.apache.hadoop.conf.Configuration): Unit =
        if (tearIn > 0 && { tearIn -= 1; tearIn == 0 }) {
          torn ++= logicalName(p.getName)
          super.writeBytes(p, bytes.take(bytes.length / 2), c)
          throw new Boom
        } else super.writeBytes(p, bytes, c)
    }
    val tearing = new Tearing
    val root = Files.createTempDirectory("graft_gen_scan").toString
    val store = new GenerationStore(s"$root/view", "__b",
      keepVersions = 2, commit = tearing)
    def df(rows: (Long, String, Long)*) = rows.toDF("id", "payload", "__b")
    def m(o: Option[org.apache.spark.sql.DataFrame]) =
      o.get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    val v1 = store.publish(df((1L, "a", 0L), (2L, "b", 1L)), Seq(0L, 1L))
    assert(m(store.read(spark)) == Map(1L -> "a", 2L -> "b"))

    // tear the VERSION-ARCHIVE write (first control write of a publish)
    tearing.tearIn = 1
    intercept[Boom] { store.publish(df((1L, "a2", 0L)), Seq(0L)) }
    assert(tearing.torn.toSeq == Seq("_MANIFEST.v2"))
    assert(m(store.read(spark)) == Map(1L -> "a", 2L -> "b"),
      "torn version archive must leave the old manifest serving")

    // tear the MANIFEST write itself (second control write)
    tearing.tearIn = 2
    intercept[Boom] { store.publish(df((1L, "a2", 0L)), Seq(0L)) }
    assert(tearing.torn.toSeq == Seq("_MANIFEST.v2", "_MANIFEST"))
    assert(m(store.read(spark)) == Map(1L -> "a", 2L -> "b"),
      "torn manifest must leave the previous complete manifest serving")
    assert(store.versions(spark) == Seq(v1),
      "a torn swap must not surface as a committed version")

    // recovery: the replayed publish commits and serves the new state
    val v2 = store.publish(df((1L, "a2", 0L)), Seq(0L))
    assert(m(store.read(spark)) == Map(1L -> "a2", 2L -> "b"))
    assert(m(store.readVersion(spark, v1)) == Map(1L -> "a", 2L -> "b"))
    assert(m(store.readVersion(spark, v2)) == Map(1L -> "a2", 2L -> "b"))

    // a couple more publishes: retention + GC hold under the profile
    // (superseded keys and aged versions disappear, reads never break)
    val v3 = store.publish(df((2L, "b3", 1L)), Seq(1L))
    val v4 = store.publish(df((1L, "a4", 0L)), Seq(0L))
    assert(m(store.read(spark)) == Map(1L -> "a4", 2L -> "b3"))
    assert(store.readVersion(spark, v1).isEmpty, "aged version must be gone")
    assert(store.versions(spark).takeRight(1) == Seq(v4))
    assert(store.readVersion(spark, v3).isDefined)
  }

  test("one publish is 2 control writes and one live read is 1 control read") {
    // the manifest carries the schema, so a version is ONE control file:
    // a publish archives it and swaps it, a live read opens only it
    val s = spark
    import s.implicits._
    class Counting extends ScanCommit {
      val writes, reads = scala.collection.mutable.ArrayBuffer.empty[String]
      override def write(p: org.apache.hadoop.fs.Path, text: String,
          c: org.apache.hadoop.conf.Configuration): Unit = {
        writes += p.getName
        super.write(p, text, c)
      }
      override def read(p: org.apache.hadoop.fs.Path,
          c: org.apache.hadoop.conf.Configuration): Option[String] = {
        reads += p.getName
        super.read(p, c)
      }
    }
    val counting = new Counting
    val root = Files.createTempDirectory("graft_gen_count").toString
    val store = new GenerationStore(root, "__b", commit = counting)
    store.publish(Seq((1L, "a", 0L), (2L, "b", 1L)).toDF("id", "payload", "__b"), Seq(0L, 1L))
    counting.writes.clear()
    val v2 = store.publish(Seq((1L, "a2", 0L)).toDF("id", "payload", "__b"), Seq(0L))
    val publishWrites = counting.writes.toSeq
    counting.reads.clear()
    val live = store.read(spark).get
    assert((publishWrites, counting.reads.toSeq) ==
      ((Seq(s"_MANIFEST.v$v2", "_MANIFEST"), Seq("_MANIFEST"))))
    assert(live.collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a2", 2L -> "b"))
  }

  test("schema commits with its manifest: a reader inside an add-column publish sees the old columns") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft_gen_window").toString
    val store = new GenerationStore(root, "__b")
    store.publish(Seq((1L, "a", 0L), (2L, "b", 1L)).toDF("id", "payload", "__b"), Seq(0L, 1L))
    var observed: Seq[String] = null
    store.onBeforeSwap = () => observed = store.read(spark).get.columns.toSeq
    store.publish(Seq((1L, "a2", 9.5, 0L)).toDF("id", "payload", "score", "__b"), Seq(0L))
    store.onBeforeSwap = () => ()
    assert(observed == Seq("id", "payload"),
      "a reader before the swap must see the old version's columns, not the new ones")
    assert(store.read(spark).get.columns.toSeq == Seq("id", "payload", "score"))
  }

  test("schema commits with its manifest: a crashed retype serves the old schema, its replay the new") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft_gen_retype").toString
    val store = new GenerationStore(root, "__b")
    store.publish(Seq((1L, "a", 0L), (2L, "b", 1L)).toDF("id", "payload", "__b"), Seq(0L, 1L))
    val retyped = Seq((1L, 5, 0L), (2L, 6, 1L)).toDF("id", "payload", "__b")
    store.onBeforeSwap = () => throw new Boom
    intercept[Boom] { store.publish(retyped, Seq(0L, 1L)) }
    store.onBeforeSwap = () => ()
    val old = store.read(spark).get
    assert(old.collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a", 2L -> "b"), "a crash before the swap must serve the old rows")
    assert(old.schema("payload").dataType == org.apache.spark.sql.types.StringType)
    store.publish(retyped, Seq(0L, 1L))
    val replayed = store.read(spark).get
    assert(replayed.schema("payload").dataType == org.apache.spark.sql.types.IntegerType)
    assert(replayed.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap ==
      Map(1L -> 5, 2L -> 6))
  }

  test("ScanCommit: an unreadable newest key falls through to the older valid frame") {
    // reader/writer race the sequenced-key profile exists for: a key
    // listed a moment ago can be gone (or error) by open time — write()
    // prunes superseded keys immediately. A failed open must behave
    // like an invalid frame (skip, serve the next older key), not throw.
    val conf = spark.sparkContext.hadoopConfiguration
    val root = Files.createTempDirectory("graft_scan_race").toString
    val commit = new ScanCommit(keepKeys = 2)
    val p = new org.apache.hadoop.fs.Path(s"$root/_MANIFEST")
    commit.write(p, "old", conf)
    // a newer key that lists but cannot be opened (stands in for
    // deleted-after-list and for any per-key IO error)
    assert(new java.io.File(s"$root/_MANIFEST.s2").mkdir())
    assert(commit.read(p, conf) == Some("old"))
  }

  test("snapshot reads: every retained version serves its exact historical state") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft_gen_tt").toString
    val store = new GenerationStore(s"$root/view", "__b", keepVersions = 3)
    def df(rows: (Long, String, Long)*) = rows.toDF("id", "payload", "__b")
    def m(o: Option[org.apache.spark.sql.DataFrame]) =
      o.get.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    val v1 = store.publish(df((1L, "a", 0L), (2L, "b", 1L)), Seq(0L, 1L))
    val v2 = store.publish(df((1L, "a2", 0L)), Seq(0L))
    val v3 = store.publish(df((2L, "b3", 1L)), Seq(1L))
    assert(store.versions(spark) == Seq(v1, v2, v3))
    assert(m(store.read(spark)) == Map(1L -> "a2", 2L -> "b3"))
    // each snapshot is the COMPLETE state as of its commit — including
    // buckets untouched by that publish (v2 rewrote bucket 0 only; its
    // snapshot still serves bucket 1's v1 rows)
    assert(m(store.readVersion(spark, v1)) == Map(1L -> "a", 2L -> "b"))
    assert(m(store.readVersion(spark, v2)) == Map(1L -> "a2", 2L -> "b"))
    assert(m(store.readVersion(spark, v3)) == Map(1L -> "a2", 2L -> "b3"))
    assert(store.readVersion(spark, 99L).isEmpty, "unknown version must be None")
  }

  test("retention bounds time travel: aged versions vanish, live reads never break") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft_gen_ttgc").toString
    val store = new GenerationStore(s"$root/view", "__b", keepVersions = 1)
    def df(rows: (Long, String, Long)*) = rows.toDF("id", "payload", "__b")
    val v1 = store.publish(df((1L, "a", 0L), (2L, "b", 1L)), Seq(0L, 1L))
    val v2 = store.publish(df((1L, "a2", 0L)), Seq(0L))
    val v3 = store.publish(df((1L, "a3", 0L)), Seq(0L))
    val v4 = store.publish(df((1L, "a4", 0L)), Seq(0L))
    // v1/v2 aged out (GC runs at publish START, so at most
    // keepVersions+1 committed manifests ever exist on disk)
    assert(store.readVersion(spark, v1).isEmpty && store.readVersion(spark, v2).isEmpty)
    assert(store.versions(spark).size <= 2)
    val latest = store.read(spark).get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(latest == Map(1L -> "a4", 2L -> "b"))
    // bucket 1 still serves v1's GENERATION (no later publish touched
    // it) even though v1's SNAPSHOT aged out — generation liveness is
    // by reference, not by version age
    assert(store.manifest(spark).get(1L) == v1)
    assert(store.readVersion(spark, v4).isDefined)
  }

  test("MaterializedView.viewAt serves each refresh's historical view") {
    val root = Files.createTempDirectory("graft_mv_tt").toString
    val mv = new MaterializedView(root, Seq("id"),
      Seq(col("version").desc), derive, nBuckets = 4, keepVersions = 3)
    mv.build(rows((1L, 1L, false, "a1"), (2L, 1L, false, "b1")))
    val s0 = viewMap(mv)
    mv.refresh(rows((1L, 2L, false, "a2")))
    val s1 = viewMap(mv)
    mv.refresh(rows((2L, 2L, true, "b2"))) // b soft-deletes
    val s2 = viewMap(mv)
    val vs = mv.viewVersions(spark)
    assert(vs.size == 3)
    def at(v: Long) = mv.viewAt(spark, v).get.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(at(vs(0)) == s0 && at(vs(1)) == s1 && at(vs(2)) == s2)
    assert(s2 == Map(1L -> ("a2", 20L)), "delete must be live in the head view")
    assert(at(vs(1))(2L) == ("b1", 10L), "the pre-delete snapshot must still serve b")
  }

  test("changesBetween emits the exact insert/update/delete changelog of a refresh") {
    val root = Files.createTempDirectory("graft_mv_cdc").toString
    val mv = new MaterializedView(root, Seq("id"),
      Seq(col("version").desc), derive, nBuckets = 4, keepVersions = 3)
    mv.build(rows((1L, 1L, false, "a1"), (2L, 1L, false, "b1"), (3L, 1L, false, "c1")))
    mv.refresh(rows(
      (1L, 2L, false, "a2"),  // update
      (2L, 2L, true, "b2"),   // winner soft-deletes → delete from view
      (7L, 1L, false, "g1"))) // insert
    val Seq(v1, v2) = mv.viewVersions(spark)
    val changes = mv.changesBetween(spark, v1, v2).get.collect()
      .map(r => r.getLong(0) -> r.getAs[String]("change")).toMap
    // row 3 unchanged → omitted entirely
    assert(changes == Map(1L -> "update", 2L -> "delete", 7L -> "insert"))
    val rowsByKey = mv.changesBetween(spark, v1, v2).get.collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rowsByKey(7L).getAs[org.apache.spark.sql.Row]("old_row") == null)
    assert(rowsByKey(2L).getAs[org.apache.spark.sql.Row]("new_row") == null)
    assert(rowsByKey(1L).getAs[org.apache.spark.sql.Row]("new_row")
      .getAs[String]("payload") == "a2")
    // identical versions diff to an empty changelog
    assert(mv.changesBetween(spark, v2, v2).get.isEmpty)
    // an aged/unknown version yields None, not a wrong diff
    assert(mv.changesBetween(spark, 999L, v2).isEmpty)
  }

  test("CdcApply: a replica converges to the source snapshot, and re-application is a no-op") {
    // The consume side of changesBetween: a downstream replica holding
    // the exact v1 snapshot must land on the exact v2 snapshot after
    // applying the changelog — and applying the SAME changelog again
    // must change nothing (at-least-once delivery needs no dedup).
    val root = Files.createTempDirectory("graft_mv_cdc_apply").toString
    val mv = new MaterializedView(root, Seq("id"),
      Seq(col("version").desc), derive, nBuckets = 4, keepVersions = 3)
    mv.build(rows((1L, 1L, false, "a1"), (2L, 1L, false, "b1"), (3L, 1L, false, "c1")))
    mv.refresh(rows(
      (1L, 2L, false, "a2"),  // update
      (2L, 2L, true, "b2"),   // delete
      (7L, 1L, false, "g1"))) // insert
    val Seq(v1, v2) = mv.viewVersions(spark)
    val changes = mv.changesBetween(spark, v1, v2).get
    val replica = mv.viewAt(spark, v1).get
    def m(df: DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val applied = graft.operators.CdcApply.applyChanges(replica, changes, Seq("id"))
    val want = m(mv.viewAt(spark, v2).get)
    assert(m(applied) == want, "replica did not converge to the v2 snapshot")
    assert(want.keySet == Set(1L, 3L, 7L) && want(1L)._1 == "a2")
    val again = graft.operators.CdcApply.applyChanges(applied, changes, Seq("id"))
    assert(m(again) == want, "re-applying the same changelog must be a no-op")
    // an empty changelog is the identity
    val none = mv.changesBetween(spark, v2, v2).get
    assert(m(graft.operators.CdcApply.applyChanges(applied, none, Seq("id"))) == want)
  }

  test("AggregateView publish has the same crash window guarantee") {
    val root = Files.createTempDirectory("graft_gen_av").toString
    val s = spark
    import s.implicits._
    def dims(rs: (Long, Long, String)*): DataFrame = rs.toDF("id", "dversion", "name")
    def facts(rs: (Long, Long, Long, Long)*): DataFrame =
      rs.toDF("fid", "id", "fversion", "amount")
    val av = new AggregateView(root, Seq("id"),
      dimKeys = Seq("id"), dimOrder = Seq(col("dversion").desc),
      factKeys = Seq("fid"), factOrder = Seq(col("fversion").desc),
      (d, f) => d.join(
        f.groupBy("id").agg(sum("amount").as("total")), Seq("id"), "left")
        .select(col("id"), col("name"), coalesce(col("total"), lit(0L)).as("total")),
      nBuckets = 4)
    av.build(dims((1L, 1L, "a"), (2L, 1L, "b")),
      facts((10L, 1L, 1L, 100L), (20L, 2L, 1L, 7L)))
    def vm(): Map[Long, (String, Long)] = av.view(spark).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val old = vm()
    av.store.onBeforeSwap = () => throw new Boom
    intercept[Boom] { av.refreshFacts(facts((10L, 1L, 2L, 500L))) }
    av.store.onBeforeSwap = () => ()
    assert(vm() == old, "crashed fact refresh must leave the complete old view")
    // replay converges (note: the fact STATE already committed before
    // the crash — the view publish replays idempotently on top)
    av.refreshFacts(facts((10L, 1L, 2L, 500L)))
    assert(vm() == Map(1L -> (("a", 500L)), 2L -> (("b", 7L))))
  }

  test("schema evolution: partial publish may only ADD columns; old pins read under their own archived schema") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft_gen_schema").toString
    val store = new GenerationStore(root, "__b", keepVersions = 4)

    val v1 = store.publish(
      Seq((1L, "a", 0L), (2L, "b", 1L)).toDF("id", "payload", "__b"),
      Seq(0L, 1L))

    // ADD a column on a partial publish (only bucket 0 republished)
    val v2 = store.publish(
      Seq((1L, "a2", 9.5, 0L)).toDF("id", "payload", "score", "__b"),
      Seq(0L))

    // live read serves the NEW schema; the carried-forward bucket's
    // rows null-fill the added column (the documented policy)
    val live = store.read(spark).get
    assert(live.columns.toSeq == Seq("id", "payload", "score"))
    assert(live.filter(col("id") === 2L).select("score").head.isNullAt(0),
      "a carried-forward generation must null-fill an added column")

    // the OLD pin reads bit-identically: its archived schema has no
    // trace of the later column
    val old = store.readVersion(spark, v1).get
    assert(old.columns.toSeq == Seq("id", "payload"),
      "a pinned snapshot must be immune to later schema changes")
    assert(old.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b")))

    // DROPPING a column on a partial publish is refused...
    assertThrows[IllegalArgumentException] {
      store.publish(Seq((1L, 1.0, 0L)).toDF("id", "score", "__b"), Seq(0L))
    }
    // ...and so is RETYPING one
    assertThrows[IllegalArgumentException] {
      store.publish(
        Seq((1L, 5, 9.5, 0L)).toDF("id", "payload", "score", "__b"), Seq(0L))
    }

    // a FULL publish (every live bucket) may change the schema freely
    val v3 = store.publish(
      Seq((1L, 7L, 0L), (2L, 8L, 1L)).toDF("id", "score_int", "__b"),
      Seq(0L, 1L))
    assert(store.read(spark).get.columns.toSeq == Seq("id", "score_int"))

    // every retained pin still resolves under the schema IT committed
    assert(store.readVersion(spark, v1).get.columns.toSeq ==
      Seq("id", "payload"))
    assert(store.readVersion(spark, v2).get.columns.toSeq ==
      Seq("id", "payload", "score"))
    assert(store.readVersion(spark, v3).get.columns.toSeq ==
      Seq("id", "score_int"))
    // v2's carried bucket-1 row reads under v2's schema, score null
    assert(store.readVersion(spark, v2).get
      .filter(col("id") === 2L).select("score").head.isNullAt(0))

    // versions archived WITHOUT a schema line (a store written before
    // manifests carried one — simulated by rewriting the archive in
    // that format) must resolve by footer INFERENCE, never the live
    // schema: a later full publish legally retyped columns, and v1 read
    // under v3's schema would corrupt instead of serving bit-identically
    def dropSchemaLine(v: Long): Unit = {
      val f = java.nio.file.Paths.get(root, s"_MANIFEST.v$v")
      Files.writeString(f,
        Files.readString(f).linesIterator.filterNot(_.startsWith("{")).mkString("\n"))
      ()
    }
    dropSchemaLine(v1)
    val preArchive = store.readVersion(spark, v1).get
    assert(preArchive.columns.toSeq == Seq("id", "payload"),
      "a pre-archive pin must read its own schema out of the files")
    assert(preArchive.filter(col("id") === 1L).select("payload")
      .head.getString(0) == "a")
    // ...and a pre-archive version whose manifest MIXES generations
    // with and without an added column resolves by MERGED footers —
    // single-footer inference would silently drop the column for
    // every row whenever the older file's footer won
    dropSchemaLine(v2)
    val preArchiveMixed = store.readVersion(spark, v2).get
    assert(preArchiveMixed.columns.toSet == Set("id", "payload", "score"),
      s"mixed-generation pre-archive read lost a column: ${preArchiveMixed.columns.toSeq}")
    assert(preArchiveMixed.filter(col("id") === 2L).select("score").head.isNullAt(0))
    assert(preArchiveMixed.filter(col("id") === 1L).select("score").head.getDouble(0) == 9.5)

    // GC: versions age out with their manifests, which carry their
    // schemas — no schema file exists beside them (keepVersions = 4
    // here, so publish 3 more)
    store.publish(Seq((1L, 9L, 0L)).toDF("id", "score_int", "__b"), Seq(0L))
    store.publish(Seq((1L, 10L, 0L)).toDF("id", "score_int", "__b"), Seq(0L))
    store.publish(Seq((1L, 11L, 0L)).toDF("id", "score_int", "__b"), Seq(0L))
    val names = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(!names.exists(_.startsWith("_graft_schema.json")),
      s"a schema file beside the manifests: $names")
    assert(store.schema(spark).get.fieldNames.toSeq == Seq("id", "score_int"))
  }
}
