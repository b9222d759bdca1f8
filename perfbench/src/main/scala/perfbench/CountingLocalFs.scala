package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, LocalFileSystem, Path, PathFilter}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The default local filesystem with call counters in front: each
  * override counts, then delegates unchanged. The traced run installs it
  * as `fs.file.impl`, so every Hadoop filesystem call the engine and
  * Spark make on local paths is counted.
  */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._

  override def getFileStatus(f: Path): FileStatus = { meta.incrementAndGet(); super.getFileStatus(f) }
  override def listStatus(f: Path): Array[FileStatus] = { meta.incrementAndGet(); super.listStatus(f) }
  override def listStatus(f: Path, filter: PathFilter): Array[FileStatus] = {
    meta.incrementAndGet(); super.listStatus(f, filter)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    meta.incrementAndGet(); super.mkdirs(f, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = { meta.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    meta.incrementAndGet(); super.delete(f, recursive)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    meta.incrementAndGet()
    creates.incrementAndGet()
    if (f.getName.endsWith(".parquet")) dataFilesCreated.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CountingLocalFs {
  /** Metadata calls: status, listing, mkdirs, rename, delete, create. */
  val meta = new AtomicLong
  val creates = new AtomicLong
  val dataFilesCreated = new AtomicLong
}
