package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Streaming budget admission must equal the ONE-SHOT greedy prefix
  * over the concatenated batches: state carries each stratum's high
  * water across micro-batches, a stratum that fills mid-batch admits
  * exactly its remaining prefix, and later batches for a full stratum
  * admit nothing. Storage hygiene: no persisted blocks survive beyond
  * the returned (caller-released) frames. */
class BudgetGateSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def docs(rs: (Long, String, String)*): DataFrame = {
    val s = spark; import s.implicits._
    rs.toDF("doc_id", "source", "text")
  }

  private def words(n: Int, tag: String) = (1 to n).map(i => s"$tag$i").mkString(" ")

  test("admissions across batches equal the one-shot greedy prefix") {
    // the same store under a bare and a `file:`-qualified path
    Seq("", "file:").foreach { scheme =>
      val statePath = scheme + Files.createTempDirectory("graft_budget").toString + "/state"
      val budget = 25L
      val b1 = docs(
        (1L, "web", words(10, "a")),   // web: 10
        (2L, "web", words(10, "b")),   // web: 20
        (3L, "forum", words(24, "c"))) // forum: 24
      val b2 = docs(
        (4L, "web", words(5, "d")),    // web: 25 — exactly fills
        (5L, "web", words(1, "e")),    // web: would be 26 → rejected
        (6L, "forum", words(1, "f")),  // forum: 25 — fills
        (7L, "news", words(30, "g")))  // news: 30 > 25 → rejected outright
      val b3 = docs(
        (8L, "web", words(1, "h")),    // web full → rejected
        (9L, "news", words(20, "i")))  // news still empty: 20 admitted

      val (a1, s1) = BudgetGate.admitBatch(b1, "doc_id", "source", "text", statePath, budget)
      val (a2, s2) = BudgetGate.admitBatch(b2, "doc_id", "source", "text", statePath, budget)
      val (a3, s3) = BudgetGate.admitBatch(b3, "doc_id", "source", "text", statePath, budget)
      val got = (a1.collect() ++ a2.collect() ++ a3.collect()).map(_.getLong(0)).toSet
      a1.unpersist(); a2.unpersist(); a3.unpersist()

      assert(got == Set(1L, 2L, 3L, 4L, 6L, 9L), s"admitted $got")
      assert(s1 == BudgetGate.GateStats(3, 3, 0))
      assert(s2 == BudgetGate.GateStats(4, 2, 2))
      assert(s3 == BudgetGate.GateStats(2, 1, 1))

      // and the state is the per-source high water
      val state = BudgetGate.readState(spark, statePath, "source")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(state == Map("web" -> 25L, "forum" -> 25L, "news" -> 20L))
    }
  }

  test("batch admission matches the mix_token_budget greedy semantics") {
    // one batch, one stratum crossing the budget: the kept set is the
    // exact doc_id-ordered prefix, independent of input partitioning
    val statePath = Files.createTempDirectory("graft_budget2").toString + "/state"
    val batch = docs((1L to 20L).map(i => (i, "web", words(7, s"w$i"))): _*)
      .repartition(7)
    val (a, stats) = BudgetGate.admitBatch(
      batch, "doc_id", "source", "text", statePath, 50L)
    val ids = a.collect().map(_.getLong(0)).toSet
    a.unpersist()
    assert(ids == (1L to 7L).toSet, s"got $ids") // 7*7=49 <= 50 < 56
    assert(stats == BudgetGate.GateStats(20, 7, 13))
  }

  test("a failed state write leaves the previous batch's state readable") {
    // the store on a scheme whose part-file creation fails while armed:
    // the second batch's state write job starts and then fails
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.refusing.impl", classOf[BudgetGateSpec.RefusingFileSystem].getName)
    conf.set("fs.AbstractFileSystem.refusing.impl", classOf[BudgetGateSpec.RefusingFs].getName)
    val statePath = "refusing://" +
      Files.createTempDirectory("graft_budget4").toString + "/state"
    def state() = BudgetGate.readState(spark, statePath, "source")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (a1, _) = BudgetGate.admitBatch(
      docs((1L, "web", words(10, "a")), (2L, "forum", words(4, "b"))),
      "doc_id", "source", "text", statePath, 25L)
    a1.unpersist()
    assert(state() == Map("web" -> 10L, "forum" -> 4L))
    BudgetGateSpec.armed = true
    try intercept[Exception](BudgetGate.admitBatch(
      docs((3L, "web", words(5, "c"))), "doc_id", "source", "text", statePath, 25L))
    finally BudgetGateSpec.armed = false
    assert(state() == Map("web" -> 10L, "forum" -> 4L),
      "a failed state write must leave the first batch's state serving")
  }

  test("gate leaves no persisted storage behind once results release") {
    val sc = spark.sparkContext
    val statePath = Files.createTempDirectory("graft_budget3").toString + "/state"
    val before = sc.getPersistentRDDs.size
    val (a, _) = BudgetGate.admitBatch(
      docs((1L, "web", words(3, "x"))), "doc_id", "source", "text", statePath, 10L)
    a.count()
    a.unpersist(blocking = true)
    assert(sc.getPersistentRDDs.size == before, "budget gate stranded storage")
  }
}

object BudgetGateSpec {
  import java.net.URI
  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.fs.{CreateFlag, DelegateToFileSystem, FSDataOutputStream,
    FileStatus, Path, RawLocalFileSystem}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable

  /** While set, [[RefusingFileSystem]] fails every part-file create. */
  @volatile var armed = false

  /** The local filesystem under the `refusing` scheme. Statuses are
    * built plainly: the local ones read their permissions through a
    * `file:` URI of their own path. */
  class RefusingFileSystem extends RawLocalFileSystem {
    override def getUri: URI = URI.create("refusing:///")
    override def getScheme: String = "refusing"
    override def getFileStatus(f: Path): FileStatus = {
      val file = pathToFile(f)
      if (!file.exists) throw new java.io.FileNotFoundException(f.toString)
      new FileStatus(file.length, file.isDirectory, 1, getDefaultBlockSize(f),
        file.lastModified, makeQualified(f))
    }
    override def listStatus(f: Path): Array[FileStatus] = {
      val st = getFileStatus(f)
      if (!st.isDirectory) Array(st)
      else pathToFile(f).list().map(n => getFileStatus(new Path(f, n)))
    }
    private def refuse(f: Path): Unit =
      if (armed && f.getName.startsWith("part-"))
        throw new java.io.IOException(s"refusing to create $f")
    override def create(f: Path, overwrite: Boolean, bufferSize: Int,
        replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
      refuse(f); super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    }
    override def create(f: Path, permission: FsPermission, overwrite: Boolean,
        bufferSize: Int, replication: Short, blockSize: Long,
        progress: Progressable): FSDataOutputStream = {
      refuse(f)
      super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
    }
    override def createNonRecursive(f: Path, permission: FsPermission,
        flags: java.util.EnumSet[CreateFlag], bufferSize: Int, replication: Short,
        blockSize: Long, progress: Progressable): FSDataOutputStream = {
      refuse(f)
      super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
    }
  }

  /** The `FileContext` binding of the same filesystem. */
  class RefusingFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new RefusingFileSystem, conf, "refusing", false)
}
