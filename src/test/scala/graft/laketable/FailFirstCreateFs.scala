package graft.laketable

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

/** The local filesystem, except that once [[FailFirstCreateFs.armed]], the
  * first `create` of a path containing [[FailFirstCreateFs.pattern]] throws
  * — a task that dies while it writes. Select it for `file:` with
  * `spark.hadoop.fs.file.impl` and `spark.hadoop.fs.file.impl.disable.cache
  * = true`; executors in local mode share the driver's flags.
  */
class FailFirstCreateFs extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    if (f.toString.contains(FailFirstCreateFs.pattern) &&
        FailFirstCreateFs.armed.compareAndSet(true, false)) {
      FailFirstCreateFs.failures.incrementAndGet()
      throw new java.io.IOException(s"injected create failure: $f")
    }
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FailFirstCreateFs {
  val armed = new AtomicBoolean(false)
  val failures = new AtomicInteger(0)
  val pattern = "/_kind=u/"
}
