package graft.engine

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/**
 * The engine's one way to create a file or a directory.
 *
 * Why it exists: on a `file:` warehouse (a local disk, or a POSIX or
 * parallel file system on an HPC node) the configured file system is
 * Hadoop's checksummed `LocalFileSystem`. Each create there sets the
 * permission bits of the file and of its `.crc` sidecar (or of each new
 * directory) through `RawLocalFileSystem.setPermission`, and without
 * libhadoop (Spark's distribution ships none) each of those forks a
 * `chmod` process. A fork costs ~5 ms, while the data write costs a
 * fraction of one; a produce creates its intent, chunk files and
 * manifest delta one after another on its critical path.
 *
 * So when the configured file system is a `LocalFileSystem` over Hadoop's
 * own `RawLocalFileSystem`, a create runs on a `LocalFileSystem` over a
 * raw file system whose `setPermission` is a syscall instead
 * (`Files.setPosixFilePermissions`, or the native `chmod` when libhadoop is
 * loaded). The data bytes, the `.crc` sidecar and the permission bits are
 * the same (the umask and `file.bytes-per-checksum` come from the
 * configured instance's conf). Every other file system, and every
 * operation that is not a create, goes to the configured instance as is:
 * listings, reads, renames and deletes included. A `setWriteChecksum(false)`
 * on the configured instance is not seen: the seam writes the sidecar, as
 * a default instance does.
 */
private[graft] object FileCreate {

  /** Creates `p` on `fs` (`overwrite` as in `FileSystem.create`). */
  def apply(fs: FileSystem, p: Path, overwrite: Boolean): FSDataOutputStream = {
    val (on, at) = resolve(fs, p)
    on.create(at, overwrite)
  }

  /** Creates directory `p` and its missing parents on `fs`, as
    * `FileSystem.mkdirs` does (true when it exists afterwards). */
  def mkdirs(fs: FileSystem, p: Path): Boolean = {
    val (on, at) = resolve(fs, p)
    on.mkdirs(at)
  }

  /** Creates (or overwrites) `p` as an empty file: a marker. */
  def touch(fs: FileSystem, p: Path): Unit = apply(fs, p, overwrite = true).close()

  /** Creates (or overwrites) `p` holding `bytes`. */
  def write(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    val out = apply(fs, p, overwrite = true)
    try out.write(bytes) finally out.close()
  }

  /** `p` as a path for writers that take a path and resolve its file system
    * themselves, as Parquet's `HadoopOutputFile.fromPath` does through
    * `Path.getFileSystem`: on a fork-free local create, the returned path
    * resolves to the seam's file system; otherwise it is `p`. */
  def path(p: Path, conf: Configuration): Path = {
    val fs = p.getFileSystem(conf)
    resolve(fs, p) match {
      case (on, at) if on ne fs => new OnFileSystem(at, on)
      case _ => p
    }
  }

  /** The file system a create of `p` on `fs` runs on, and the path to give
    * it there. */
  private[engine] def resolve(fs: FileSystem, p: Path): (FileSystem, Path) = fs match {
    case local: LocalFileSystem if local.getRawFileSystem.getClass == classOf[RawLocalFileSystem] =>
      (forkFree(local), Path.getPathWithoutSchemeAndAuthority(local.makeQualified(p)))
    case _ => (fs, p)
  }

  /** One seam instance per configured instance (weakly: a configured
    * instance outside Hadoop's cache takes its seam with it). */
  private val seams = new java.util.WeakHashMap[FileSystem, LocalFileSystem]()

  private def forkFree(local: LocalFileSystem): LocalFileSystem = seams.synchronized {
    var seam = seams.get(local)
    if (seam == null) {
      seam = new LocalFileSystem(new ForkFreeRawLocalFileSystem)
      // the order Hadoop's own instantiation follows: conf, then initialize
      seam.setConf(local.getConf)
      seam.initialize(java.net.URI.create("file:///"), local.getConf)
      seams.put(local, seam)
    }
    seam
  }

  /** A path pinned to one file system. */
  private final class OnFileSystem(at: Path, @transient fs: FileSystem) extends Path(at.toUri) {
    override def getFileSystem(conf: Configuration): FileSystem = fs
  }

  /** `RawLocalFileSystem` with a `setPermission` that spawns no process. */
  private final class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      // native chmod is already a syscall; bits beyond rwx (sticky,
      // setuid) are Hadoop's to set
      if (NativeIO.isAvailable || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  private val PosixOrder = PosixFilePermission.values() // owner rwx, group rwx, others rwx

  /** The low nine bits of `mode` as POSIX permissions. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixOrder.indices.foreach(i => if ((mode & (1 << (8 - i))) != 0) set.add(PosixOrder(i)))
    set
  }
}
