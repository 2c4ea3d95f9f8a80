package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local Hadoop FileSystem, counting the calls made through it:
  * status (and so `exists`), list, open, create, rename, delete, mkdirs.
  * The local file system's own Hadoop statistics count bytes but not
  * operations, so traced runs install this class as `fs.file.impl`. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem.tick
  override def getFileStatus(f: Path): FileStatus = { tick(); super.getFileStatus(f) }
  override def listStatus(f: Path): Array[FileStatus] = { tick(); super.listStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { tick(); super.open(f, bufferSize) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    tick()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { tick(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { tick(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { tick(); super.mkdirs(f, permission) }
}

object CountingLocalFileSystem {
  val ops = new AtomicLong
  private def tick(): Unit = ops.incrementAndGet()
}
