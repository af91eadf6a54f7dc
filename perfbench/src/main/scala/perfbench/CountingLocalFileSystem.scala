package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem, counting metadata and data-stream operations
  * (open, create, list, status, rename, delete, mkdirs) while
  * [[FsOps.on]]. Installed as `fs.file.impl` by the benchmark's
  * core-site.xml. */
class CountingLocalFileSystem extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    FsOps.tick(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FsOps.tick()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def listStatus(f: Path): Array[FileStatus] = { FsOps.tick(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { FsOps.tick(); super.getFileStatus(f) }
  override def rename(src: Path, dst: Path): Boolean = { FsOps.tick(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    FsOps.tick(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    FsOps.tick(); super.mkdirs(f, permission)
  }
}

object FsOps {
  private val n = new AtomicLong
  @volatile var on = false
  def tick(): Unit = if (on) n.incrementAndGet()
  def count: Long = n.get
}
