package graft

import java.io.IOException
import java.net.URI
import java.util.EnumSet
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Crash injection for commit specs: the local file system under the
  * `faulty:` scheme. It counts the mutating ops (create, rename, delete,
  * mkdirs) whose target lies outside Spark's `_temporary` dirs; once the
  * armed k-th one is reached, that op and EVERY later op — reads and
  * writes alike — throw, so abort handlers cannot tidy up either: the
  * state left behind is exactly what a process killed at that instant
  * leaves. Like HDFS, a rename onto an existing file is refused.
  * [[FaultyFs.beforeRename]] lets a spec interleave a second writer.
  */
final class FaultyFs extends FilterFileSystem(new FaultyFs.Local) {
  import FaultyFs.{mutate, check}

  override def getScheme: String = FaultyFs.Scheme

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    mutate("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, flags: EnumSet[CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long, progress: Progressable,
      checksumOpt: Options.ChecksumOpt): FSDataOutputStream = {
    mutate("create", f)
    super.create(f, permission, flags, bufferSize, replication, blockSize, progress, checksumOpt)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    mutate("create", f)
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }

  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream = {
    mutate("append", f)
    super.append(f, bufferSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    FaultyFs.beforeRename(dst)
    mutate("rename", dst)
    if (super.exists(dst) && super.getFileStatus(dst).isFile) false
    else super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    mutate("delete", f)
    super.delete(f, recursive)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    mutate("mkdirs", f)
    super.mkdirs(f, permission)
  }

  override def mkdirs(f: Path): Boolean = {
    mutate("mkdirs", f)
    super.mkdirs(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    check(); super.open(f, bufferSize)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    check(); super.listStatus(f)
  }

  override def getFileStatus(f: Path): FileStatus = {
    check(); super.getFileStatus(f)
  }
}

object FaultyFs {
  val Scheme = "faulty"

  /** The raw local file system, reporting `faulty:` paths. */
  final class Local extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
  }

  /** Runs before every rename, outside the op lock: a test hook that
    * lets another writer commit in between a writer's checks and its
    * rename.
    */
  @volatile var beforeRename: Path => Unit = _ => ()

  private var armedAt = Long.MaxValue
  private var crashed = false
  private val ops = ArrayBuffer.empty[String]

  def install(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set(s"fs.$Scheme.impl", classOf[FaultyFs].getName)

  def uri(dir: java.io.File): String = s"$Scheme://${dir.getAbsolutePath}"

  /** Reset the op log; the `k`-th counted op (1-based) crashes. */
  def arm(k: Long): Unit = synchronized { ops.clear(); armedAt = k; crashed = false }

  def disarm(): Unit = synchronized { armedAt = Long.MaxValue; crashed = false }

  /** The counted ops since the last `arm`, as "op path". */
  def log: Seq[String] = synchronized(ops.toList)

  private def check(): Unit = synchronized {
    if (crashed) throw new IOException("process is down (injected crash)")
  }

  private def mutate(op: String, p: Path): Unit = synchronized {
    check()
    if (!p.toUri.getPath.split('/').contains("_temporary")) {
      ops += s"$op ${p.toUri.getPath}"
      if (ops.size >= armedAt) {
        crashed = true
        throw new IOException(s"injected crash at op ${ops.size}: ${ops.last}")
      }
    }
  }
}
