package org.apache.hadoop.fs.local

import java.net.URI
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileStatus, FSDataInputStream, FSDataOutputStream, Path, RemoteIterator}
import org.apache.hadoop.fs.Options.ChecksumOpt
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import perfbench.CountingLocalFileSystem.{lists, opens, writes}

/** The `file` scheme's FileContext implementation, counting calls into
  * the same counters as `perfbench.CountingLocalFileSystem`. Spark's
  * streaming checkpoints (offset, commit and state-store files) go
  * through FileContext, not FileSystem. LocalFs's constructor is
  * package-private, hence this package.
  */
class CountingLocalFs(uri: URI, conf: Configuration) extends LocalFs(uri, conf) {
  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    lists.incrementAndGet(); super.listStatusIterator(f)
  }
  override def open(f: Path): FSDataInputStream = {
    opens.incrementAndGet(); super.open(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet(); super.open(f, bufferSize)
  }
  override def createInternal(f: Path, flag: EnumSet[CreateFlag], permission: FsPermission,
      bufferSize: Int, replication: Short, blockSize: Long, progress: Progressable,
      checksumOpt: ChecksumOpt, createParent: Boolean): FSDataOutputStream = {
    writes.incrementAndGet()
    super.createInternal(f, flag, permission, bufferSize, replication, blockSize, progress,
      checksumOpt, createParent)
  }
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit = {
    writes.incrementAndGet(); super.renameInternal(src, dst, overwrite)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdir(dir: Path, permission: FsPermission, createParent: Boolean): Unit = {
    writes.incrementAndGet(); super.mkdir(dir, permission, createParent)
  }
}
