package graphbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem with per-call counters.
  *
  * Installed only by the traced run, through its own
  * `spark.hadoop.fs.file.impl` setting. A call made while another
  * counted call runs on the same thread (e.g. `exists` delegating to
  * `getFileStatus`) is not counted again, so each counter is the number
  * of calls made by the engine and by Spark. Counting is switched on
  * for traced operations only.
  *
  * It also times the calls made from inside `Sinks.recoverSwap`, which
  * does nothing but `exists` and `rename` calls: each recovery takes
  * well under the tracer's stack-sampling interval, and the engine makes
  * it on streaming threads too. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem.counted

  override def exists(f: Path): Boolean = counted("fs.exists")(super.exists(f))
  override def getFileStatus(f: Path): FileStatus =
    counted("fs.get_status")(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] =
    counted("fs.list")(super.listStatus(f))
  override def rename(src: Path, dst: Path): Boolean =
    counted("fs.rename")(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    counted("fs.delete")(super.delete(f, recursive))
  override def mkdirs(f: Path): Boolean = counted("fs.mkdirs")(super.mkdirs(f))
  override def mkdirs(f: Path, p: FsPermission): Boolean =
    counted("fs.mkdirs")(super.mkdirs(f, p))
  override def create(f: Path, p: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted("fs.create")(super.create(f, p, overwrite, bufferSize,
      replication, blockSize, progress))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted("fs.open")(super.open(f, bufferSize))
}

object CountingFileSystem {
  val names: Seq[String] = Seq("fs.exists", "fs.get_status", "fs.list",
    "fs.rename", "fs.delete", "fs.mkdirs", "fs.create", "fs.open")

  @volatile var enabled = false
  private val counts = new ConcurrentHashMap[String, LongAdder]()
  private val depth = ThreadLocal.withInitial[Integer](() => 0)
  private val recoverNs = new LongAdder

  private def insideRecoverSwap: Boolean =
    StackWalker.getInstance().walk[java.lang.Boolean](
      (frames: java.util.stream.Stream[StackWalker.StackFrame]) =>
        frames.anyMatch((f: StackWalker.StackFrame) =>
          f.getMethodName == "recoverSwap" && f.getClassName == "graft.operators.Sinks$"))

  def counted[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val d = depth.get
      if (d == 0) counts.computeIfAbsent(name, _ => new LongAdder).increment()
      val t0 = if (d == 0 && insideRecoverSwap) System.nanoTime() else -1L
      depth.set(d + 1)
      try body
      finally {
        depth.set(d)
        if (t0 >= 0) recoverNs.add(System.nanoTime() - t0)
      }
    }

  /** Time spent in counted calls made inside `Sinks.recoverSwap`, in ns. */
  def recoverNanos(): Long = recoverNs.sum

  def snapshot(): Map[String, Long] =
    names.map(n => n -> Option(counts.get(n)).map(_.sum).getOrElse(0L)).toMap
}
