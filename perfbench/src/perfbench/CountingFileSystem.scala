package perfbench

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** File-system calls and bytes that crossed the Hadoop FileSystem boundary
  * under the `cntfs://` scheme. The benchmark keeps its index directories
  * on that scheme, so these are the `sources` layer's round trips.
  */
object FsCounters {
  val reads = new AtomicLong   // open
  val writes = new AtomicLong  // create
  val lists = new AtomicLong   // listStatus
  val renames = new AtomicLong
  val deletes = new AtomicLong
  val exists = new AtomicLong  // getFileStatus, which exists() also calls
  val bytesWritten = new AtomicLong

  val names: Seq[String] = Seq("fs_reads", "fs_writes", "fs_lists", "fs_renames",
    "fs_deletes", "fs_exists", "bytes_written")

  def snapshot(): Array[Long] = Array(reads.get, writes.get, lists.get, renames.get,
    deletes.get, exists.get, bytesWritten.get)
}

/** The local file system under its own scheme, counting each public call
  * once: calls the file system makes to itself (listStatus stats every
  * child) are not counted again.
  */
class CountingFileSystem extends RawLocalFileSystem {
  import CountingFileSystem.depth

  override def getUri: URI = URI.create("cntfs:///")
  override def getScheme: String = "cntfs"

  private def counted[T](c: AtomicLong)(body: => T): T = {
    if (depth.get == 0) c.incrementAndGet()
    depth.set(depth.get + 1)
    try body finally depth.set(depth.get - 1)
  }

  private def countingOut(out: FSDataOutputStream): FSDataOutputStream =
    new FSDataOutputStream(out, null) {
      override def write(b: Int): Unit = { FsCounters.bytesWritten.incrementAndGet(); super.write(b) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        FsCounters.bytesWritten.addAndGet(len); super.write(b, off, len)
      }
    }

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted(FsCounters.reads)(super.open(f, bufferSize))

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted(FsCounters.writes)(countingOut(
      super.create(f, overwrite, bufferSize, replication, blockSize, progress)))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted(FsCounters.writes)(countingOut(
      super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)))

  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted(FsCounters.writes)(countingOut(super.createNonRecursive(
      f, permission, overwrite, bufferSize, replication, blockSize, progress)))

  override def listStatus(f: Path): Array[FileStatus] =
    counted(FsCounters.lists)(super.listStatus(f))

  override def rename(src: Path, dst: Path): Boolean =
    counted(FsCounters.renames)(super.rename(src, dst))

  override def delete(p: Path, recursive: Boolean): Boolean =
    counted(FsCounters.deletes)(super.delete(p, recursive))

  override def getFileStatus(f: Path): FileStatus =
    counted(FsCounters.exists)(super.getFileStatus(f))
}

object CountingFileSystem {
  private val depth = ThreadLocal.withInitial[Int](() => 0)
}

/** [[CountingFileSystem]] for FileContext callers (atomic renames). */
class CountingAbstractFileSystem(uri: URI, conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(
      URI.create("cntfs:///"), new CountingFileSystem, conf, "cntfs", false)
