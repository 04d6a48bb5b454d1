package perfbench

import java.util.concurrent.atomic.AtomicLongArray

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local `file:` FileSystem with call counters, installed only in
  * traced runs through `spark.hadoop.fs.file.impl`. Every method calls
  * the parent unchanged; the counters see the calls the program (and
  * Spark on its behalf) makes, not the ones the checksum layer makes
  * internally. */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._

  override def getFileStatus(p: Path): FileStatus = { hit(Status); super.getFileStatus(p) }
  override def listStatus(p: Path): Array[FileStatus] = { hit(List); super.listStatus(p) }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = { hit(Open); super.open(p, bufferSize) }
  override def create(p: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    hit(Create)
    super.create(p, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(p: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    hit(Create)
    super.createNonRecursive(p, permission, flags, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { hit(Rename); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = { hit(Delete); super.delete(p, recursive) }
  override def mkdirs(p: Path, permission: FsPermission): Boolean = { hit(Mkdirs); super.mkdirs(p, permission) }
}

object CountingLocalFs {
  val names: Seq[String] = Seq("status", "list", "open", "create", "rename", "delete", "mkdirs")
  private val Status = 0; private val List = 1; private val Open = 2
  private val Create = 3; private val Rename = 4; private val Delete = 5
  private val Mkdirs = 6
  private val counts = new AtomicLongArray(names.size)
  private def hit(i: Int): Unit = counts.incrementAndGet(i)
  def snapshot(): Array[Long] = Array.tabulate(names.size)(counts.get)
}
