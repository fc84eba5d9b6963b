package graft.etl

import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Small atomically-replaced text files (manifests, high-water marks):
  * readers see the whole old or the whole new content, never a torn
  * write. THREE commit profiles, one per filesystem class — do NOT
  * collapse them back into one Hadoop path (the r14 races that forced
  * the split are spelled out at the branch below):
  *
  *   - LOCAL (`file` scheme): pure NIO — temp file + fsync + POSIX
  *     ATOMIC_MOVE. Hadoop's local FileContext is NOT usable here: its
  *     rename(OVERWRITE) is delete-then-rename (a missing-destination
  *     window), and it is LocalFs = ChecksumFs (hidden `.crc` sidecars
  *     that orphan across an atomic data move);
  *   - HDFS (any hflush-capable remote FS): FileContext temp write +
  *     hsync + rename(OVERWRITE), which IS atomic server-side there;
  *   - OBJECT STORES (no atomic rename at all): not this class —
  *     [[ScanCommit]] replaces the rename protocol entirely
  *     (immutable sequenced keys, highest-valid-wins). */
private[graft] object AtomicText {

  def read(path: Path, conf: Configuration): Option[String] = {
    val fc = FileContext.getFileContext(
      path.getFileSystem(conf).getUri, conf)
    if (!fc.util.exists(path)) None
    else {
      val in = fc.open(path)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  def write(path: Path, text: String, conf: Configuration): Unit = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val fs = path.getFileSystem(conf)
    // LOCAL profile, pure NIO end-to-end. Two Hadoop-local defects force
    // this (both caught by specs hammering the protocol):
    //   - FileContext.rename(OVERWRITE) delegates to the default
    //     delete-then-rename, leaving a window where the destination
    //     DOES NOT EXIST — a concurrent reader observes "never
    //     published" instead of old-or-new (SnapshotRaceSpec);
    //   - the "file" FileContext is LocalFs = ChecksumFs: every temp
    //     write plants a hidden .crc sidecar that an atomic data-file
    //     move must orphan — one leaked root file per commit, caught by
    //     the 200-cycle MaintenanceSoakSpec.
    // POSIX rename(2) via ATOMIC_MOVE replaces the destination in one
    // atomic step; force(true) persists data BEFORE the rename commits
    // the name (a machine crash can otherwise reorder the flush after
    // the rename and commit a torn marker). Temp naming keeps the
    // `.tmp-` infix so the store GC recognizes crash leftovers.
    if (fs.getScheme == "file") {
      val dst = java.nio.file.Paths.get(fs.makeQualified(path).toUri.getPath)
      java.nio.file.Files.createDirectories(dst.getParent)
      val tmp = dst.getParent.resolve(
        s"${path.getName}.tmp-${java.util.UUID.randomUUID()}")
      val ch = java.nio.channels.FileChannel.open(tmp,
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        ch.write(java.nio.ByteBuffer.wrap(bytes))
        ch.force(true)
      } finally ch.close()
      java.nio.file.Files.move(tmp, dst,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // a store written by a pre-NIO build may carry a checksum sidecar
      // for this name; stale, it would fail every checksummed read of
      // the fresh content — remove it
      java.nio.file.Files.deleteIfExists(
        dst.getParent.resolve(s".${path.getName}.crc"))
      ()
    } else {
      // remote profile: HDFS rename is atomic server-side (object
      // stores use ScanCommit instead of this rename protocol)
      val fc = FileContext.getFileContext(fs.getUri, conf)
      val tmp = new Path(path.getParent,
        s"${path.getName}.tmp-${java.util.UUID.randomUUID()}")
      val out = fc.create(tmp,
        EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
        Options.CreateOpts.createParent())
      try {
        out.write(bytes)
        // persist to disk before the rename commits the name
        try out.hsync()
        catch { case _: UnsupportedOperationException => out.hflush() }
      } finally out.close()
      fc.rename(tmp, path, Options.Rename.OVERWRITE)
    }
  }
}

/** Atomic publish protocol for a bucket-partitioned SERVED view — the
  * piece that closes the serving gap the plain delete-then-append
  * publish had (reference: the warehouse serves its views
  * transactionally — `sql/customer_360_views.sql` are Redshift views, a
  * reader never observes a half-refreshed state; our lake publish must
  * give the same guarantee).
  *
  * Layout and protocol:
  *
  *   - view data lives in immutable GENERATION directories
  *     `{root}/gen=N/{bucket}=K/…`; a publish writes the refreshed
  *     buckets' rows to a brand-new generation — never touching any
  *     directory a reader could currently hold;
  *   - a single small MANIFEST file (`{root}/_MANIFEST`) names the
  *     data schema and the live generation of every bucket: its first
  *     line is the schema's `StructType.json` (one line; a JSON line
  *     starts with `{`, which no bucket line can), then one
  *     `bucket:generation` line per bucket. A manifest is the complete
  *     description of its version, so the columns and the rows they
  *     describe commit in ONE write. It is replaced ATOMICALLY through
  *     a pluggable
  *     [[CommitProtocol]] — [[RenameCommit]] (temp name +
  *     rename-with-overwrite, the atomic spelling on HDFS/POSIX) by
  *     default, [[ScanCommit]] (immutable sequenced keys + validated
  *     frames, highest-valid-wins — no atomic rename assumed) for
  *     object stores; the store protocol is identical under either;
  *   - readers resolve bucket paths THROUGH the manifest. A crash at
  *     any point before the swap leaves the old manifest intact — the
  *     reader serves the complete old state; after the swap it serves
  *     the complete new state. There is no instant at which a bucket
  *     is missing;
  *   - every swap first archives the same manifest text as
  *     `_MANIFEST.v{N}` (N = the swap's generation id), giving
  *     Iceberg-style SNAPSHOT READS: [[readVersion]] serves the exact
  *     state any retained version published. `keepVersions` bounds the
  *     history — generations referenced by the current manifest or the
  *     last `keepVersions` committed version manifests survive GC;
  *     everything older (plus crashed partial writes and manifest
  *     temps) is deleted at the START of the next publish, so
  *     in-flight readers always get at least one full refresh interval
  *     of grace.
  *
  * A bucket whose refreshed view rows are EMPTY still advances to the
  * new generation in the manifest (its generation dir simply has no
  * files for it), so "this bucket is now empty" publishes atomically
  * too — the failure mode dynamic partition overwrite can't express.
  *
  * All filesystem access goes through the Hadoop `FileSystem`/
  * `FileContext` the writers use — no `java.io.File` mutation of
  * served data.
  */
final class GenerationStore(
    val root: String,
    val bucketCol: String,
    val keepVersions: Int = 1,
    commit: CommitProtocol = RenameCommit) {

  require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")

  private val manifestName = "_MANIFEST"
  private val manifestPath = new Path(root, manifestName)
  private val versionRe = raw"_MANIFEST\.v(\d+)$$".r

  /** Test hook: runs after the new generation is fully written, before
    * the manifest swap — the widest crash window the protocol must
    * survive. */
  private[graft] var onBeforeSwap: () => Unit = () => ()

  /** Pin hooks: versions EXTERNALLY PINNED beyond the `keepVersions`
    * window — consulted at each publish's GC, which retains them (and
    * their generations) in addition to the rolling window. Installed by
    * [[SnapshotCatalog.register]] so the versions the catalog's
    * retained snapshots name can never be collected, no matter how many
    * uncommitted refreshes — crash replays included, each of which
    * publishes a fresh generation — land between two catalog commits.
    * Hooks COMPOSE across keys (a store can serve several catalogs) and
    * installation is IDEMPOTENT per key: re-registering the same
    * (catalog, name) — e.g. re-wiring after a restart in a long-lived
    * JVM — replaces that key's hook instead of stacking a duplicate
    * read per publish, and the concurrent-map write cannot drop a
    * sibling catalog's hook the way a read-modify-write on a shared
    * field could. Hooks must be cheap (a few small manifest reads) and
    * must not call back into this store's publish path. */
  private val pinHooks =
    new java.util.concurrent.ConcurrentHashMap[AnyRef, SparkSession => Set[Long]]()

  private[graft] def installPinHook(
      key: AnyRef, hook: SparkSession => Set[Long]): Unit = {
    pinHooks.put(key, hook)
    ()
  }

  private[graft] def pinnedVersions(spark: SparkSession): Set[Long] = {
    import scala.jdk.CollectionConverters._
    pinHooks.values.asScala.toSeq.flatMap(_(spark)).toSet
  }

  /** Test probe: how many distinct pin hooks are installed — the
    * idempotence contract (re-wiring replaces, never stacks) is about
    * this count, which set-valued `pinnedVersions` cannot reveal. */
  private[graft] def pinHookCount: Int = pinHooks.size()

  private def conf(spark: SparkSession): Configuration =
    spark.sparkContext.hadoopConfiguration

  private def fs(spark: SparkSession): FileSystem =
    new Path(root).getFileSystem(conf(spark))

  private def genDir(gen: Long): String = s"$root/gen=$gen"
  private def versionPath(v: Long): Path = new Path(root, s"$manifestName.v$v")

  /** A manifest file: (schema JSON line, bucket → generation). The
    * schema is None in a manifest written before manifests carried it. */
  private def load(spark: SparkSession, path: Path): Option[(Option[String], Map[Long, Long])] =
    commit.read(path, conf(spark)).map { text =>
      val (schema, buckets) = text.linesIterator.filter(_.nonEmpty).toSeq.span(_.startsWith("{"))
      schema.headOption -> buckets.map { line =>
        val Array(b, g) = line.split(':')
        b.toLong -> g.toLong
      }.toMap
    }

  /** The live (bucket → generation) map; None = never published. */
  private[graft] def manifest(spark: SparkSession): Option[Map[Long, Long]] =
    load(spark, manifestPath).map(_._2)

  /** The archived manifest of version `v`, if retained. */
  private[graft] def manifestAt(spark: SparkSession, v: Long): Option[Map[Long, Long]] =
    load(spark, versionPath(v)).map(_._2)

  /** All version ids with an archived manifest on disk, ascending
    * (crashed partials included until the next publish GCs them).
    * Physical children resolve to logical files through the commit
    * protocol (a multi-key encoding counts once). */
  def versionsOnDisk(spark: SparkSession): Seq[Long] = versionsIn(listRoot(spark))

  /** The store root's children; empty when the root does not exist yet. */
  private def listRoot(spark: SparkSession): Seq[FileStatus] =
    try fs(spark).listStatus(new Path(root)).toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  private def versionsIn(listing: Seq[FileStatus]): Seq[Long] =
    listing.map(_.getPath.getName)
      .flatMap(commit.logicalName)
      .distinct
      .collect { case versionRe(v) => v.toLong }
      .sorted

  /** COMMITTED snapshot versions readable right now, ascending: archived
    * versions no newer than the current manifest (a version file newer
    * than the manifest is a crashed partial swap, never committed). */
  def versions(spark: SparkSession): Seq[Long] = {
    val maxCommitted = manifest(spark).map(maxGen).getOrElse(Long.MinValue)
    versionsOnDisk(spark).filter(_ <= maxCommitted)
  }

  private def maxGen(m: Map[Long, Long]): Long = (m.values.toSet + 0L).max

  /** Publish `rows` (bucket column included, hive-partitioned by it) as
    * the new truth for exactly `buckets`; every other bucket keeps its
    * current generation. Crash-safe per the class protocol. Returns the
    * committed snapshot version id. It is [[stage]] followed at once by
    * the swap it returns; a caller with other work to overlap (a
    * [[BucketedView]] refresh staging its state beside the view publish)
    * calls the two steps itself.
    *
    * SCHEMA-EVOLUTION CONTRACT (serve-forever stores WILL evolve):
    *
    *   - a PARTIAL publish (some live bucket is carried forward, not
    *     republished) may only ADD columns: every column the live
    *     schema serves must appear in `rows` with the same type, or the
    *     publish is REFUSED — a carried-forward bucket's files cannot
    *     grow the dropped/retyped column, so the mixed read would
    *     corrupt, not evolve. Added columns are fine: live reads
    *     null-fill them for older generations (the documented
    *     mergeSchema-lite policy — the scan runs under the NEWEST
    *     schema and parquet back-fills absent columns with null);
    *   - a FULL publish (every live bucket republished) may change the
    *     schema freely — nothing old is carried forward;
    *   - the schema is committed WITH its manifest (its first line), so
    *     every read resolves under the schema of the manifest it
    *     resolves buckets from: a live reader never sees columns before
    *     the rows they describe, and snapshot reads ([[readVersion]]/
    *     [[readBucketsAt]]) resolve an old pin bit-identically no
    *     matter what later publishes added (they can't see columns that
    *     postdate them, and a column added before them keeps its
    *     position). A manifest without a schema line (a store written
    *     before manifests carried one) resolves by merged footer
    *     inference, and so does its add-only check here — never another
    *     version's schema, which a later full publish may legally have
    *     retyped. */
  def publish(rows: DataFrame, buckets: Seq[Long]): Long = stage(rows, buckets)()

  /** [[publish]]'s first step: the schema check, GC and the new
    * generation's write. Returns the second, the manifest swap — it runs
    * [[onBeforeSwap]], commits, and returns the version. Nothing is
    * durable until the swap: a generation staged and never swapped is a
    * crashed partial write, which the next publish's GC collects. No
    * other publish to this store may land between the two steps (the
    * swap names the manifest the stage read); a [[BucketedView]] holds
    * its writer lock across both. */
  private[graft] def stage(rows: DataFrame, buckets: Seq[Long]): () => Long = {
    require(buckets.nonEmpty, "publish needs at least one bucket")
    val spark = rows.sparkSession
    val (liveJson, current) = load(spark, manifestPath).getOrElse(None -> Map.empty[Long, Long])
    val newSchema = org.apache.spark.sql.types.StructType(
      rows.schema.filter(_.name != bucketCol))
    val carried = current.keySet -- buckets.toSet
    if (carried.nonEmpty) readSchema(liveJson)
        .orElse(resolve(spark, current, None).map(_.schema)).foreach { live =>
      val newTypes = newSchema.map(f => f.name -> f.dataType).toMap
      val broken = live.filterNot(f =>
        newTypes.get(f.name).exists(GenerationStore.sameTypeIgnoreNullability(_, f.dataType)))
      require(broken.isEmpty,
        s"schema evolution on a partial publish may only ADD columns: " +
          s"buckets ${carried.toSeq.sorted.take(8).mkString(",")}… are " +
          s"carried forward but still serve ${broken.map(f =>
            s"${f.name}:${f.dataType.simpleString}").mkString(", ")}; " +
          "republish ALL buckets to drop or retype columns")
    }
    gc(spark, current)
    val nextGen = maxGen(current) + 1
    rows.write.mode("overwrite").partitionBy(bucketCol).parquet(genDir(nextGen))
    () => {
      onBeforeSwap()
      // readers resolve leaf bucket dirs directly, so the manifest's
      // schema is the data columns WITHOUT the bucket partition column;
      // it lets [[resolve]] skip the per-read footer-inference job
      swap(spark, newSchema.json, current ++ buckets.map(_ -> nextGen), nextGen)
      nextGen
    }
  }

  /** Single-bucket use: `rows` (no bucket column) become the whole
    * store's next generation — the commit path of the small cross-batch
    * state stores. Returns the committed generation. */
  private[graft] def replace(rows: DataFrame): Long =
    publish(rows.withColumn(bucketCol, org.apache.spark.sql.functions.lit(0L)), Seq(0L))

  /** The live data columns (no bucket column) from the live manifest;
    * None = never published. Keeps an all-empty store readable. */
  private[graft] def schema(spark: SparkSession): Option[org.apache.spark.sql.types.StructType] =
    readSchema(load(spark, manifestPath).flatMap(_._1))

  private def readSchema(json: Option[String]): Option[org.apache.spark.sql.types.StructType] =
    json.map(org.apache.spark.sql.types.DataType.fromJson(_)
      .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** Read the served view through the manifest: the union of each live
    * bucket's generation directory. None = never published (caller owns
    * the empty-schema fallback) — also the answer when every live
    * bucket is empty, since an empty bucket writes no files. */
  def read(spark: SparkSession): Option[DataFrame] = resolveAt(spark, manifestPath)

  /** Bucket-scoped manifest read: just `buckets`' live rows (the
    * carry-forward input of a key-scoped refresh — untouched buckets
    * are never opened). None = never published, or those buckets are
    * all currently empty. */
  private[graft] def readBuckets(spark: SparkSession, buckets: Seq[Long]): Option[DataFrame] =
    resolveAt(spark, manifestPath, Some(buckets))

  /** SNAPSHOT READ: the complete state exactly as committed version `v`
    * served it. None once the version has aged past `keepVersions` (or
    * never existed) — time travel is bounded by the retention the store
    * was built with. */
  def readVersion(spark: SparkSession, v: Long): Option[DataFrame] =
    if (!versions(spark).contains(v)) None
    else resolveAt(spark, versionPath(v))

  /** Bucket-scoped SNAPSHOT read: just `buckets`' rows exactly as
    * version `v` served them — the probe path of a served index's one
    * search ([[graft.ext.ServedAnnIndex.search]]): resolving every
    * bucket of one search from ONE archived manifest makes the
    * multi-read sequence (centroid bucket, then the probed posting
    * buckets) immune to a publish landing in between, and the resolved
    * path list contains ONLY the requested buckets' directories, so
    * the scan statically prunes to them. None = version aged/never existed, or those
    * buckets are all empty at `v`. */
  private[graft] def readBucketsAt(
      spark: SparkSession, v: Long, buckets: Seq[Long]): Option[DataFrame] =
    if (!versions(spark).contains(v)) None
    else resolveAt(spark, versionPath(v), Some(buckets))

  /** Resolve the manifest file at `path` (only `buckets` of it, when
    * given) under its own schema line. */
  private def resolveAt(
      spark: SparkSession, path: Path, buckets: Option[Seq[Long]] = None): Option[DataFrame] =
    load(spark, path).flatMap { case (js, m) =>
      val want = buckets.fold(m.keySet)(_.toSet)
      resolve(spark, m.filter { case (b, _) => want(b) }, js)
    }

  /** Union the manifested bucket dirs under `schemaJson` — the schema
    * line of the manifest `m` came from, so a read never sees columns
    * that postdate its version. Absent = merged footer inference. */
  private def resolve(
      spark: SparkSession,
      m: Map[Long, Long],
      schemaJson: Option[String]): Option[DataFrame] = {
    val paths = bucketDirs(spark, m).map(_.toString)
    if (paths.isEmpty) None
    else readSchema(schemaJson) match {
      case Some(schema) => Some(spark.read.schema(schema).parquet(paths: _*))
      // no schema line (a manifest written before they carried one):
      // merge ALL footers — such a manifest can legally mix generations
      // with and without an added column, and single-footer inference would
      // silently drop the column for every row depending on which file
      // won; the footer union null-fills, matching the live policy
      case None =>
        Some(spark.read.option("mergeSchema", "true").parquet(paths: _*))
    }
  }

  /** The existing directories of `m`'s buckets, in bucket order (an
    * empty bucket writes none). */
  private def bucketDirs(spark: SparkSession, m: Map[Long, Long]): Seq[Path] = {
    val f = fs(spark)
    m.toSeq.sortBy(_._1).map { case (b, g) => new Path(s"${genDir(g)}/$bucketCol=$b") }
      .filter(f.exists)
  }

  /** On-disk bytes of `buckets`' live directories, as the manifest names
    * them: FS metadata only (no Spark job), the cost signal of a
    * [[BucketedView]] refresh's scope decision. */
  private[graft] def bucketBytes(spark: SparkSession, buckets: Seq[Long]): Long = {
    val want = buckets.toSet
    val f = fs(spark)
    manifest(spark).fold(0L)(m =>
      bucketDirs(spark, m.filter { case (b, _) => want(b) })
        .map(f.getContentSummary(_).getLength).sum)
  }

  /** Delete what nothing retained references: generation dirs outside
    * the current manifest and the last `keepVersions` committed version
    * manifests, version files outside that window (including crashed
    * partial swaps newer than the manifest), and protocol-internal
    * temps. Control-file deletes go through the commit protocol so a
    * multi-key encoding is removed whole. */
  private def gc(spark: SparkSession, live: Map[Long, Long]): Unit = {
    val f = fs(spark)
    // ONE root listing serves both the version window and the sweep
    val listing = listRoot(spark)
    if (listing.isEmpty) return
    val committed = versionsIn(listing).filter(_ <= maxGen(live))
    // the rolling window PLUS any externally pinned versions (catalog
    // snapshots): a pin outside the window extends retention instead of
    // losing to it; a pin naming a version that never committed (or is
    // already gone) is ignored rather than resurrecting anything
    val retained = committed.takeRight(keepVersions).toSet ++
      pinnedVersions(spark).filter(committed.contains)
    val liveGens = retained.toSeq
      .flatMap(v => manifestAt(spark, v).map(_.values.toSet).getOrElse(Set.empty))
      .toSet ++ live.values.toSet
    listing.foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("gen=")) {
        if (!liveGens.contains(n.drop(4).toLong)) f.delete(st.getPath, true)
      } else commit.logicalName(n) match {
        case None => f.delete(st.getPath, false) // protocol temp
        case Some(versionRe(v)) if !retained.contains(v.toLong) =>
          commit.delete(versionPath(v.toLong), conf(spark))
        case _ => () // live manifest / retained version / foreign
      }
    }
  }

  private def swap(
      spark: SparkSession, schemaJson: String, m: Map[Long, Long], version: Long): Unit = {
    val text = (schemaJson +: m.toSeq.sorted.map { case (b, g) => s"$b:$g" }).mkString("\n")
    // archive FIRST: a crash between the two writes leaves a version
    // file newer than the manifest — never read (versions() filters it),
    // GC'd at the next publish
    commit.write(versionPath(version), text, conf(spark))
    commit.write(manifestPath, text, conf(spark))
  }
}

object GenerationStore {

  /** A store with one bucket ([[GenerationStore.replace]] publishes it
    * whole): [[graft.streaming.BudgetGate]] state, [[AppendLog]]
    * snapshots, [[graft.streaming.IdentityComponents]]. */
  private[graft] def single(root: String): GenerationStore =
    new GenerationStore(root, "__store_bucket")

  /** Structural type equality with nullability masked at every level —
    * the evolution check's comparator. A refresh batch routinely
    * differs from the served files only in `containsNull`/`nullable`
    * flags (an in-memory Seq encodes `array<float>` as nullable-element
    * where parquet round-trips it non-null); that is not evolution,
    * and refusing it would break every streaming ingest whose encoder
    * disagrees with parquet about a flag that carries no data. */
  private[etl] def sameTypeIgnoreNullability(
      a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (a, b) match {
      case (ArrayType(ae, _), ArrayType(be, _)) =>
        sameTypeIgnoreNullability(ae, be)
      case (MapType(ak, av, _), MapType(bk, bv, _)) =>
        sameTypeIgnoreNullability(ak, bk) && sameTypeIgnoreNullability(av, bv)
      case (StructType(af), StructType(bf)) =>
        af.length == bf.length && af.zip(bf).forall { case (x, y) =>
          x.name == y.name && sameTypeIgnoreNullability(x.dataType, y.dataType)
        }
      case _ => a == b
    }
  }
}
