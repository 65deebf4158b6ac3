package graft.perfbench

import java.io.{FilterOutputStream, OutputStream}
import java.util.EnumSet
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The `file` scheme with counters for one subtree: the listings, opens,
  * creates, renames and deletes under `CountingLocalFileSystem.root`, and
  * the bytes written into files created there. Counting sits above the
  * checksum layer, so it sees the calls the store's code makes and not the
  * `.crc` sidecars the local filesystem adds. The traced run installs it
  * (`fs.file.impl`) and points `root` at the store, so the follower's state
  * and the benchmark's other files stay out of the store's counts. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._

  private def under(p: Path): Boolean = {
    val r = root
    !paused && r != null && {
      val s = makeQualified(p).toUri.getPath
      s == r || s.startsWith(r + "/")
    }
  }
  private def read(p: Path): Unit = if (under(p)) readOps.incrementAndGet()
  private def write(p: Path): Unit = if (under(p)) writeOps.incrementAndGet()
  private def counted(p: Path, out: FSDataOutputStream): FSDataOutputStream =
    if (!under(p)) out
    else {
      writeOps.incrementAndGet()
      new FSDataOutputStream(new CountingStream(out), null)
    }

  override def listStatus(p: Path): Array[FileStatus] = { read(p); super.listStatus(p) }
  override def getFileStatus(p: Path): FileStatus = { read(p); super.getFileStatus(p) }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = { read(p); super.open(p, bufferSize) }
  override def create(p: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted(p, super.create(p, permission, overwrite, bufferSize, replication, blockSize, progress))
  override def createNonRecursive(p: Path, permission: FsPermission, flags: EnumSet[CreateFlag],
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream =
    counted(p, super.createNonRecursive(p, permission, flags, bufferSize, replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean = { write(src); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = { write(p); super.delete(p, recursive) }
  override def mkdirs(p: Path, permission: FsPermission): Boolean = { write(p); super.mkdirs(p, permission) }
}

object CountingLocalFileSystem {
  /** Absolute path of the counted subtree; null counts nothing. */
  @volatile var root: String = null
  /** Set while the benchmark does its own bookkeeping reads. */
  @volatile var paused = false
  val readOps, writeOps, bytesWritten = new AtomicLong

  private final class CountingStream(out: OutputStream) extends FilterOutputStream(out) {
    override def write(b: Int): Unit = { out.write(b); bytesWritten.incrementAndGet() }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len); bytesWritten.addAndGet(len)
    }
  }
}
