package graft

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileStatus, Path, RawLocalFileSystem}

/** Metadata-call counting for store specs: the local filesystem under
  * the `counting` scheme ([[install]] it, then root a store at
  * [[path]]), recording how often each directory is listed. */
object Counting {

  private val listings = new java.util.concurrent.ConcurrentHashMap[String, Int]()

  /** Bind the `counting` scheme in `conf` (FileSystem and FileContext). */
  def install(conf: Configuration): Unit = {
    conf.set("fs.counting.impl", classOf[CountingFileSystem].getName)
    conf.set("fs.AbstractFileSystem.counting.impl", classOf[CountingFs].getName)
  }

  /** `dir` (a local path) under the `counting` scheme. */
  def path(dir: String): String = "counting://" + dir

  /** `listStatus` calls on `dir` (a plain local path, no scheme) while
    * `body` runs. */
  def listingsOf[T](dir: String)(body: => T): (T, Int) = {
    val key = new Path(dir).toUri.getPath
    listings.remove(key)
    val out = body
    (out, listings.getOrDefault(key, 0))
  }

  /** The local filesystem under the `counting` scheme. Statuses are
    * built plainly, as in [[Refusing.RefusingFileSystem]]. */
  class CountingFileSystem extends RawLocalFileSystem {
    override def getUri: URI = URI.create("counting:///")
    override def getScheme: String = "counting"
    override def getFileStatus(f: Path): FileStatus = {
      val file = pathToFile(f)
      if (!file.exists) throw new java.io.FileNotFoundException(f.toString)
      new FileStatus(file.length, file.isDirectory, 1, getDefaultBlockSize(f),
        file.lastModified, makeQualified(f))
    }
    override def listStatus(f: Path): Array[FileStatus] = {
      listings.merge(f.toUri.getPath, 1, _ + _)
      val st = getFileStatus(f)
      if (!st.isDirectory) Array(st)
      else pathToFile(f).list().map(n => getFileStatus(new Path(f, n)))
    }
  }

  /** The `FileContext` binding of the same filesystem. */
  class CountingFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new CountingFileSystem, conf, "counting", false)
}
