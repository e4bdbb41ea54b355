package graft.spark

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path}

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** `CountingFileSystem` under the scheme `graftlist` (its URI and its
  * working directory in that scheme), also counting each `listStatus`
  * and `open` by the path's last name (`manifest`, `schema.json`, ...).
  * Register it with
  * `fs.graftlist.impl = graft.spark.ListingFileSystem` and address a
  * table as `graftlist:///abs/path`.
  */
class ListingFileSystem extends CountingFileSystem {
  override def getScheme: String = ListingFileSystem.Scheme
  override def getWorkingDirectory: Path =
    new Path(ListingFileSystem.Scheme, null, System.getProperty("user.dir"))

  override def listStatus(f: Path): Array[FileStatus] = {
    ListingFileSystem.count("list", f)
    super.listStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    ListingFileSystem.count("open", f)
    super.open(f, bufferSize)
  }
}

object ListingFileSystem {
  val Scheme = "graftlist"

  private val counts = new ConcurrentHashMap[String, AtomicLong]()

  private def count(op: String, f: Path): Unit =
    counts.computeIfAbsent(s"$op ${f.getName}", _ => new AtomicLong()).incrementAndGet()

  /** Calls of `op` ("list" or "open") on paths named `name` since `reset`. */
  def calls(op: String, name: String): Long =
    Option(counts.get(s"$op $name")).fold(0L)(_.get)

  def reset(): Unit = counts.clear()

  /** Every counted call, for a failure message. */
  def dump: String = {
    import scala.jdk.CollectionConverters._
    counts.asScala.toSeq.sortBy(_._1).map { case (k, v) => s"$k=${v.get}" }.mkString(", ")
  }
}
