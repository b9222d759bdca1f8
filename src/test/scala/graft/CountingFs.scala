package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** The local filesystem with metadata-call counters in front: each
  * override counts, then delegates unchanged. [[CountingFs.during]]
  * installs it as the session's `fs.file.impl` (uncached), so every
  * filesystem resolved from the session's Hadoop settings counts — on the
  * driver and, through a shipped configuration, on the executors — while
  * code that builds a bare `new Configuration()` bypasses it.
  */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  override def exists(f: Path): Boolean = { existsCalls.incrementAndGet(); super.exists(f) }
  override def getFileStatus(f: Path): FileStatus = { status.incrementAndGet(); super.getFileStatus(f) }
  override def listStatus(f: Path): Array[FileStatus] = { lists.incrementAndGet(); super.listStatus(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    other.incrementAndGet(); super.mkdirs(f, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = { other.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    other.incrementAndGet(); super.delete(f, recursive)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    other.incrementAndGet()
    created.add(f.getName)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opened.add(f.getName); super.open(f, bufferSize)
  }
}

object CountingFs {
  /** `exists` probes; each also makes a `getFileStatus` call. */
  val existsCalls = new AtomicLong
  /** `getFileStatus` calls, from `exists`, `open` and direct callers. */
  val status = new AtomicLong
  val lists = new AtomicLong
  /** mkdirs, rename, delete and create. */
  val other = new AtomicLong
  /** Names of the files created, in order. */
  val created = new ConcurrentLinkedQueue[String]
  /** Names of the files opened for reading through `open`, in order. */
  val opened = new ConcurrentLinkedQueue[String]

  /** All metadata calls so far. */
  def meta: Long = status.get + lists.get + other.get

  def reset(): Unit = {
    Seq(existsCalls, status, lists, other).foreach(_.set(0)); created.clear(); opened.clear()
  }

  /** Run `body` with the counting filesystem serving `file:` paths for
    * the session's Hadoop settings, counters reset at the start.
    */
  def during[T](spark: SparkSession)(body: => T): T = {
    spark.conf.set("fs.file.impl", classOf[CountingFs].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    reset()
    try body
    finally {
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
  }
}
