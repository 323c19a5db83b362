package graft

import graft.core.GraftLocalFileSystem
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** The engine's local filesystem ([[GraftLocalFileSystem]], what every
  * session runs) with scoped call counting and crash injection, for the
  * crash-consistency and filesystem-cost specs.
  *
  * A call is IN SCOPE when it runs on the thread that armed the
  * filesystem while one of the scope's methods is on that thread's
  * stack — so a spec counts and breaks exactly the engine code under
  * test, not Spark's task threads or other suites. In-scope calls are
  * counted by kind; the MUTATING ones (`create`, `rename`, `delete`,
  * `mkdirs`) are numbered from 1, and the one picked by the armed
  * predicate fails with [[FaultFs.Crash]]. From then on every mutating
  * call on that thread fails too, in scope or not, as if the process
  * had died at that call, until [[FaultFs.disarm]]. */
class FaultFs extends GraftLocalFileSystem {
  import FaultFs.call

  override def exists(f: Path): Boolean = call("exists", f)(super.exists(f))
  override def listStatus(f: Path): Array[FileStatus] =
    call("listStatus", f)(super.listStatus(f))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    call("open", f)(super.open(f, bufferSize))
  override def rename(src: Path, dst: Path): Boolean =
    call("rename", src)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    call("delete", f)(super.delete(f, recursive))
  override def mkdirs(f: Path): Boolean = call("mkdirs", f)(super.mkdirs(f))
  override def mkdirs(f: Path, p: FsPermission): Boolean =
    call("mkdirs", f)(super.mkdirs(f, p))
  override def create(f: Path, p: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    call("create", f)(super.create(f, p, overwrite, bufferSize,
      replication, blockSize, progress))
}

object FaultFs {
  final class Crash(msg: String) extends java.io.IOException(msg)

  /** One in-scope mutating call: its kind, its (source) path and its
    * 1-based number among the mutating calls since arming. */
  final case class Call(op: String, path: String, n: Int)

  private val Mutating = Set("create", "rename", "delete", "mkdirs")

  /** Scopes: the staged commit (every caller's record and promote), the
    * partition commit (its stage listing too), and the one repair. */
  val Commit = Seq(("graft.operators.Sinks$", "commitStaged"))
  val PartitionCommit = Seq(("graft.operators.Sinks$", "commitPartitions"))
  val Repair = Seq(("graft.operators.Sinks$", "recoverSwap"))

  @volatile private var owner: Thread = null
  private var scope: Seq[(String, String)] = Nil
  private var failAt: Call => Boolean = _ => false
  private var mutations = 0
  private var crashed = false
  private val counts = scala.collection.mutable.Map[String, Int]()
  private val depth = ThreadLocal.withInitial[Integer](() => 0)

  /** Count (and, per `failAt`, fail) the calls made on this thread
    * from inside any of `methods` — `(class, method)` pairs, Scala
    * objects named with their trailing `$`. */
  def arm(methods: Seq[(String, String)])(failAt: Call => Boolean): Unit =
    synchronized {
      scope = methods; this.failAt = failAt
      mutations = 0; crashed = false; counts.clear()
      owner = Thread.currentThread
    }

  def disarm(): Unit = synchronized { owner = null }

  /** Did the armed crash fire? */
  def fired: Boolean = synchronized(crashed)

  /** In-scope calls per kind since arming. */
  def snapshot(): Map[String, Int] = synchronized(counts.toMap)

  /** In-scope mutating calls since arming: the crash points of one
    * uncrashed run. */
  def mutatingCalls: Int = synchronized(mutations)

  private def inScope: Boolean =
    StackWalker.getInstance().walk[java.lang.Boolean](frames =>
      frames.anyMatch(f => scope.exists { case (c, m) =>
        f.getClassName == c && f.getMethodName == m }))

  private def call[T](op: String, p: Path)(body: => T): T = {
    val d = depth.get
    if (d == 0 && (Thread.currentThread eq owner)) synchronized {
      if (crashed && Mutating(op))
        throw new Crash(s"$op $p after the injected crash")
      if (inScope) {
        counts(op) = counts.getOrElse(op, 0) + 1
        if (Mutating(op)) {
          mutations += 1
          if (failAt(Call(op, p.toString, mutations))) {
            crashed = true
            throw new Crash(s"injected crash at mutating call $mutations: $op $p")
          }
        }
      }
    }
    depth.set(d + 1)
    try body finally depth.set(d)
  }

  /** Run `body` with a crash at the first mutating call in `methods`
    * that matches `at`; an exception that follows the crash is the
    * crash's and is swallowed. Returns whether the crash fired. */
  def crashing(methods: Seq[(String, String)])(at: Call => Boolean)(
      body: => Unit): Boolean = {
    arm(methods)(at)
    try body
    catch { case _: Throwable if fired => () }
    finally disarm()
    fired
  }

  /** A fresh copy of the directory tree at `src`, so every crash
    * point starts from the same state. */
  def copyTree(src: java.nio.file.Path): java.nio.file.Path = {
    val dst = java.nio.file.Files.createTempDirectory("graft_crash")
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    } finally walk.close()
    dst
  }

  /** Run `body` with every `file:` filesystem the session hands out
    * being a [[FaultFs]] (uncached, so engine code picks it up without
    * a new session); the previous settings are restored after. */
  def installed[T](spark: SparkSession)(body: => T): T =
    withConf(spark, "fs.file.impl" -> classOf[FaultFs].getName,
      "fs.file.impl.disable.cache" -> "true") {
      try body finally disarm()
    }

  /** Run `body` with `settings` in the session's Hadoop configuration,
    * which the engine's own calls and every Spark job started meanwhile
    * read; the previous values are restored after. */
  def withConf[T](spark: SparkSession, settings: (String, String)*)(body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val saved = settings.map { case (k, _) => k -> Option(conf.get(k)) }
    settings.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }
}
