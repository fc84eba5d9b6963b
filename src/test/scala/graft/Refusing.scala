package graft

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, DelegateToFileSystem, FSDataOutputStream,
  FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Fault injection for store commits: the local filesystem under the
  * `refusing` scheme ([[install]] it, then root a store at [[path]]),
  * with two armed modes that fail a write partway through its commit. */
object Refusing {

  /** While set, [[RefusingFileSystem]] fails every part-file create. */
  @volatile var armed = false

  /** While set to a directory, [[RefusingFileSystem]] refuses the SECOND
    * rename of a `__mv_bucket=` directory into its final place anywhere
    * under it — the middle of a commit that moves buckets in one at a
    * time. Renames into `_temporary` or `.spark-staging-*` (a writer's
    * own staging) pass. */
  @volatile private var bucketRenameRoot: Option[String] = None
  private val bucketRenames = new java.util.concurrent.atomic.AtomicInteger

  /** Run `body` with the bucket-rename mode armed for `root` (a plain
    * local path, no scheme). */
  def refusingSecondBucketRename[T](root: String)(body: => T): T = {
    bucketRenames.set(0)
    bucketRenameRoot = Some(root.stripSuffix("/"))
    try body finally bucketRenameRoot = None
  }

  /** Bind the `refusing` scheme in `conf` (FileSystem and FileContext). */
  def install(conf: Configuration): Unit = {
    conf.set("fs.refusing.impl", classOf[RefusingFileSystem].getName)
    conf.set("fs.AbstractFileSystem.refusing.impl", classOf[RefusingFs].getName)
  }

  /** `dir` (a local path) under the `refusing` scheme. */
  def path(dir: String): String = "refusing://" + dir

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
    override def rename(src: Path, dst: Path): Boolean = {
      val to = dst.toUri.getPath
      bucketRenameRoot.foreach { root =>
        if (dst.getName.startsWith("__mv_bucket=") && to.startsWith(root + "/") &&
            !to.contains("/_temporary") && !to.contains("/.spark-staging-") &&
            bucketRenames.incrementAndGet() == 2)
          throw new java.io.IOException(s"refusing to rename $src to $dst")
      }
      super.rename(src, dst)
    }
  }

  /** The `FileContext` binding of the same filesystem. */
  class RefusingFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new RefusingFileSystem, conf, "refusing", false)
}
