package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/**
 * The local file system with operation counters, installed as `fs.file.impl`
 * for the benchmark's session (Hadoop's own statistics count no operations
 * on the local file system). Counts metadata and data calls made through
 * the FileSystem API — the catalog's reads, writes, renames and listings —
 * so per-produce and per-trigger FS operation counts can be reported.
 */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._

  override def open(f: Path, bufferSize: Int) = { count(); super.open(f, bufferSize) }
  override def listStatus(f: Path): Array[FileStatus] = { count(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { count(); super.getFileStatus(f) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable) = {
    count()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { count(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { count(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { count(); super.mkdirs(f, permission) }
  override def setTimes(p: Path, mtime: Long, atime: Long): Unit = { count(); super.setTimes(p, mtime, atime) }
}

object CountingLocalFileSystem {
  /** Operations per thread name. */
  val ops = new ConcurrentHashMap[String, AtomicLong]

  def count(): Unit =
    ops.computeIfAbsent(Thread.currentThread.getName, _ => new AtomicLong).incrementAndGet(): Unit
}
