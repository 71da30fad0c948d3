package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system under the `crashfs:` scheme, with a crash
  * switch: once armed at k, its k-th mutating call (create, mkdirs,
  * rename, delete) and every one after it throw, the way a process
  * that died at that step would make no further change; a fault at k
  * fails the k-th call alone, a transient error in a process that goes
  * on. Register it with `fs.crashfs.impl`; the counter is JVM-wide, so
  * it counts the calls of Spark tasks in local mode too. */
class CrashFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("crashfs:///")
  override def getScheme: String = "crashfs"

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    CrashFs.step("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    CrashFs.step("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission, flags: java.util.EnumSet[CreateFlag],
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    CrashFs.step("create", f)
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }

  override def mkdirs(f: Path): Boolean = { CrashFs.step("mkdirs", f); super.mkdirs(f) }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    CrashFs.step("mkdirs", f)
    super.mkdirs(f, permission)
  }

  override def rename(src: Path, dst: Path): Boolean = { CrashFs.step("rename", src); super.rename(src, dst) }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashFs.step("delete", p)
    super.delete(p, recursive)
  }
}

/** [[CrashFs]] serving the `file` scheme itself. Set as `fs.file.impl`,
  * with `fs.file.impl.disable.cache` on so that new instances replace
  * the cached local file system, it crashes writes to local paths that
  * cannot take another scheme, such as the warehouse's catalog tables.
  * The catalog's own directory calls keep the file system it was
  * created with, so they are not counted. */
class CrashLocalFs extends CrashFs {
  override def getUri: URI = URI.create("file:///")
  override def getScheme: String = "file"
}

object CrashFs {
  @volatile private var crashAt = Long.MaxValue
  @volatile private var crashTo = Long.MaxValue
  private val calls = new AtomicLong()

  /** One mutating call: the operation, the path it changed and whether
    * the code of this project made it (rather than Spark's or Hadoop's
    * writers). */
  final case class Step(op: String, path: Path, byProject: Boolean)
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[Step]()

  /** Crash at the k-th mutating call from now on. */
  def arm(k: Long): Unit = { calls.set(0L); made.clear(); crashTo = Long.MaxValue; crashAt = k }

  /** Fail the k-th mutating call from now on, and no other. */
  def fault(k: Long): Unit = { arm(k); crashTo = k }

  /** Stop crashing; returns the mutating calls made since [[arm]]. */
  def disarm(): Long = { crashAt = Long.MaxValue; calls.get() }

  /** The mutating calls made since [[arm]], in order. */
  def steps: Seq[Step] = made.toArray(Array.empty[Step]).toSeq

  /** For each call since [[arm]], in order: whether the code of this
    * project made it. */
  def byProject: Seq[Boolean] = steps.map(_.byProject)

  /** For each call since [[arm]], in order: the path it changed. */
  def paths: Seq[Path] = steps.map(_.path)

  private def step(what: String, p: Path): Unit = {
    val n = calls.incrementAndGet()
    made.add(Step(what, p, Thread.currentThread().getStackTrace.iterator
      .map(_.getClassName).dropWhile(c => c.startsWith("java.") || c.startsWith("graft.CrashFs") ||
        c.startsWith("org.apache.hadoop.fs.")).nextOption().exists(_.startsWith("graft."))))
    if (n >= crashAt && n <= crashTo) throw new java.io.IOException(s"injected crash at step $n: $what $p")
  }
}
