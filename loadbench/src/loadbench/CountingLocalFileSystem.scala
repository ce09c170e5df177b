package loadbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem with a counter on every metadata call and on the
  * bytes written through it. The traced run installs it as `fs.file.impl`
  * in its own session config, so every Hadoop call the program makes on
  * local paths — driver side and in tasks — passes through here. Counters
  * are JVM-wide; the tracer reads them before and after each operation. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet()
    super.open(f, bufferSize)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted(f, super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))

  override def createNonRecursive(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted(f, super.createNonRecursive(f, permission, overwrite,
      bufferSize, replication, blockSize, progress))

  override def rename(src: Path, dst: Path): Boolean = {
    renames.incrementAndGet()
    if (dst.getName.startsWith("ckpt_v")) checkpoints.incrementAndGet()
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    deletes.incrementAndGet()
    super.delete(f, recursive)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet()
    super.listStatus(f)
  }

  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    lists.incrementAndGet()
    super.listStatusIterator(f)
  }

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    lists.incrementAndGet()
    super.listLocatedStatus(f)
  }

  override def getFileStatus(f: Path): FileStatus = {
    stats.incrementAndGet()
    super.getFileStatus(f)
  }

  private def counted(f: Path, out: FSDataOutputStream): FSDataOutputStream = {
    creates.incrementAndGet()
    val data = f.getName.endsWith(".parquet")
    new FSDataOutputStream(out, null) {
      override def close(): Unit = {
        val n = getPos
        super.close()
        bytes.addAndGet(n)
        if (data) dataBytes.addAndGet(n)
      }
    }
  }
}

object CountingLocalFileSystem {
  val opens, creates, renames, deletes, lists, stats = new AtomicLong
  val checkpoints, bytes, dataBytes = new AtomicLong

  def snapshot(): Array[Long] =
    Array(opens, creates, renames, deletes, lists, stats, checkpoints, bytes,
      dataBytes).map(_.get)
}
