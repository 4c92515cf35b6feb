package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem with call counters. Hadoop's local filesystem
  * counts bytes but no operations, so traced runs install this class as
  * `fs.file.impl` to count listings, opens, status probes and namespace
  * writes. Untraced runs use the stock class. */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._
  override def listStatus(p: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(p)
  }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(p, bufferSize)
  }
  override def getFileStatus(p: Path): FileStatus = {
    reads.incrementAndGet(); super.getFileStatus(p)
  }
  override def create(p: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(p, permission, overwrite, bufferSize, replication, blockSize,
      progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(p, recursive)
  }
  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(p, permission)
  }
}

object CountingLocalFs {
  val lists = new AtomicLong
  val reads = new AtomicLong
  val writes = new AtomicLong
}
