package graft.laketable

import org.apache.hadoop.fs.{FSDataOutputStream, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

/** The local filesystem under the `crashfs` scheme, except that once
  * [[CrashAtFs.arm]]ed, the k-th mutating call (`create`, `rename`,
  * `delete`, `mkdirs`) on a path under a `meta/` dir throws
  * [[CrashAtFs.Crash]] — a process that dies at that call, before it or
  * right after it. Select it with `fs.crashfs.impl` and
  * `fs.crashfs.impl.disable.cache = true`; `file:` paths are untouched.
  * Like the raw local filesystem it wraps, its rename replaces an existing
  * file.
  */
class CrashAtFs extends FilterFileSystem(new CrashAtFs.Local) {
  import CrashAtFs._

  private def step[T](p: Path)(call: => T): T = {
    val path = p.toUri.getPath
    if (!(path.contains("/meta/") || path.endsWith("/meta"))) call
    else {
      val n = calls.incrementAndGet()
      if (n != crashAt) call
      else {
        if (after) call match {
          case c: java.io.Closeable => c.close()
          case _ =>
        }
        throw new Crash(s"injected crash ${if (after) "after" else "before"} call $n on $p")
      }
    }
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    step(f)(fs.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean = step(src)(fs.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean = step(f)(fs.delete(f, recursive))
  override def mkdirs(f: Path): Boolean = step(f)(fs.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    step(f)(fs.mkdirs(f, permission))
}

object CrashAtFs {
  val Scheme = "crashfs"

  final class Crash(msg: String) extends java.io.IOException(msg)

  /** The raw local filesystem, addressed as `crashfs:///<local path>`. */
  final class Local extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
  }

  /** Mutating calls under `meta/` since the last [[arm]]. */
  val calls = new AtomicInteger(0)
  @volatile private var crashAt = 0
  @volatile private var after = false

  /** Crash at the `k`-th call from now (0: never), `afterCall` once the
    * call has taken effect.
    */
  def arm(k: Int, afterCall: Boolean = false): Unit = {
    calls.set(0); crashAt = k; after = afterCall
  }

  /** Stop crashing; [[calls]] keeps counting. */
  def disarm(): Unit = crashAt = 0
}
