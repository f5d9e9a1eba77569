package graftbench

import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, LocatedFileStatus, Path, RemoteIterator, Syncable}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with every metadata and data call counted, split
  * into driver threads and executor task threads. The traced session
  * registers it as `fs.file.impl`; the untraced runs never load it.
  *
  * Hadoop's own LocalFileSystem statistics report zero read and write ops,
  * so the counts are taken here, at the FileSystem API the engine calls.
  */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    count(Open, f); super.open(f, bufferSize)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    count(Create, f)
    counted(super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    count(Create, f)
    counted(super.createNonRecursive(f, permission, flags, bufferSize,
      replication, blockSize, progress))
  }

  override def rename(src: Path, dst: Path): Boolean = {
    count(Rename, src); super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    count(Delete, f); super.delete(f, recursive)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    count(Mkdirs, f); super.mkdirs(f, permission)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    count(List, f); super.listStatus(f)
  }

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    count(List, f); super.listLocatedStatus(f)
  }

  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    count(List, f); super.listStatusIterator(f)
  }

  override def getFileStatus(f: Path): FileStatus = {
    count(Status, f); super.getFileStatus(f)
  }
}

object CountingFs {
  val Open = "open"
  val Create = "create"
  val Rename = "rename"
  val Delete = "delete"
  val Mkdirs = "mkdirs"
  val List = "list"
  val Status = "status"
  val Ops: Seq[String] = Seq(List, Status, Open, Create, Rename, Delete, Mkdirs)

  /** Counter keys: `<side>.<op>` for side driver or executor, plus
    * `driver.open_meta` (driver opens of table metadata files, whose names
    * start with `_`) and `bytes_written` over every thread.
    */
  val Keys: Seq[String] =
    (for (side <- Seq("driver", "executor"); op <- Ops) yield s"$side.$op") ++
      Seq("driver.open_meta", "bytes_written")

  private val counters: Map[String, LongAdder] =
    Keys.map(_ -> new LongAdder).toMap

  /** Local-mode executors run tasks on threads with this name prefix. */
  def onExecutor: Boolean =
    Thread.currentThread.getName.startsWith("Executor task launch worker")

  private[graftbench] def count(op: String, f: Path): Unit = {
    val side = if (onExecutor) "executor" else "driver"
    counters(s"$side.$op").increment()
    if (op == Open && side == "driver" && f.getName.startsWith("_"))
      counters("driver.open_meta").increment()
  }

  private[graftbench] def addBytes(n: Long): Unit = counters("bytes_written").add(n)

  def snapshot(): Map[String, Long] = counters.map { case (k, v) => k -> v.sum }

  /** Counts accrued between two snapshots. */
  def delta(before: Map[String, Long], after: Map[String, Long]): Map[String, Long] =
    Keys.map(k => k -> (after.getOrElse(k, 0L) - before.getOrElse(k, 0L))).toMap

  private def counted(out: FSDataOutputStream): FSDataOutputStream =
    new FSDataOutputStream(new CountingOut(out), null)

  /** Counts bytes on their way to the real stream; flush and sync pass
    * through so the stream keeps its durability contract.
    */
  private final class CountingOut(out: FSDataOutputStream)
      extends java.io.OutputStream with Syncable {
    override def write(b: Int): Unit = { out.write(b); addBytes(1) }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len); addBytes(len)
    }
    override def flush(): Unit = out.flush()
    override def close(): Unit = out.close()
    override def hflush(): Unit = out.hflush()
    override def hsync(): Unit = out.hsync()
  }
}
