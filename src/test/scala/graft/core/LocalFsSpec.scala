package graft.core

import graft.{FaultFs, SparkSpec}
import graft.operators.Sinks
import graft.streaming.AnnStream
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem,
  Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

/** The engine's local filesystem ([[GraftLocalFileSystem]],
  * [[GraftLocalFs]]) is what a session runs, leaves the stock
  * filesystem's modes, bytes and link statuses, and starts no process. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private val Local = URI.create("file:///")
  private val StockFs = classOf[LocalFileSystem].getName
  private val StockFc = "org.apache.hadoop.fs.local.LocalFs"

  private def tmp(name: String): JPath = Files.createTempDirectory(s"graft_$name")

  /** A session-derived Hadoop configuration with `settings` on top. */
  private def conf(settings: (String, String)*): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    settings.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** An uncached `file:` FileSystem of class `impl` under `umask`. */
  private def fsOf(impl: String, umask: String = "022"): FileSystem =
    FileSystem.get(Local, conf("fs.file.impl" -> impl,
      "fs.file.impl.disable.cache" -> "true", "fs.permissions.umask-mode" -> umask))

  private def fcOf(impl: String, umask: String = "022"): FileContext =
    FileContext.getFileContext(Local, conf(
      "fs.AbstractFileSystem.file.impl" -> impl, "fs.permissions.umask-mode" -> umask))

  private val Uuid = "[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}".r

  /** Every entry under `root`, sorted: its relative path with UUIDs
    * masked (Spark names part files after its job), its full POSIX mode
    * and, for a file, its bytes. */
  private def tree(root: JPath): Seq[(String, Int, Seq[Byte])] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_ != root).map { p =>
      (Uuid.replaceAllIn(root.relativize(p).toString, "*"),
        Files.getAttribute(p, "unix:mode").asInstanceOf[Int],
        if (Files.isDirectory(p)) Seq.empty[Byte] else Files.readAllBytes(p).toSeq)
    }.toList.sortBy(e => (e._1, e._2))
    finally walk.close()
  }

  private def rows(n: Int) = (1 to n).map(i => (i.toLong, s"v$i", i % 3)).toDF("id", "v", "p")

  /** A file create, a nested mkdirs, a first and a replacing partitioned
    * snapshot swap, and a FileContext rename with overwrite, under
    * `root` through the `file:` FileSystem `fsImpl` and FileContext
    * `fcImpl` (the swap through the session, for its Spark write). */
  private def writeAll(root: JPath, fsImpl: String, fcImpl: String, umask: String): Unit = {
    val fs = fsOf(fsImpl, umask)
    val out = fs.create(new Path(s"$root/file"))
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    assert(fs.mkdirs(new Path(s"$root/a/b/c")))
    FaultFs.withConf(spark, "fs.file.impl" -> fsImpl,
      "fs.file.impl.disable.cache" -> "true", "fs.permissions.umask-mode" -> umask) {
      Sinks.overwriteViaSwap(spark, rows(6), s"$root/snap", Seq("p"))
      Sinks.overwriteViaSwap(spark, rows(9), s"$root/snap", Seq("p"))
    }
    val fc = fcOf(fcImpl, umask)
    fc.mkdir(new Path(s"$root/ckpt"), FsPermission.getDirDefault, true)
    val flags = java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)
    for ((name, bytes) <- Seq("src" -> "new", "dst" -> "old")) {
      val o = fc.create(new Path(s"$root/ckpt/$name"), flags)
      try o.write(bytes.getBytes) finally o.close()
    }
    fc.rename(new Path(s"$root/ckpt/src"), new Path(s"$root/ckpt/dst"),
      Options.Rename.OVERWRITE)
  }

  test("the session's file: FileSystem and FileContext are the engine's") {
    val hc = spark.sparkContext.hadoopConfiguration
    val fs = new Path(tmp("lfs_class").toString).getFileSystem(hc)
    assert(fs.getClass == classOf[GraftLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass ==
      classOf[GraftRawLocalFileSystem])
    assert(FileContext.getFileContext(Local, hc).getDefaultFileSystem.getClass ==
      classOf[GraftLocalFs])
  }

  test("modes and bytes equal the stock local filesystem's under the same umask") {
    for (umask <- Seq("022", "027")) {
      val (engine, stock) = (tmp("lfs_engine"), tmp("lfs_stock"))
      writeAll(engine, classOf[GraftLocalFileSystem].getName, classOf[GraftLocalFs].getName, umask)
      writeAll(stock, StockFs, StockFc, umask)
      val (e, s) = (tree(engine), tree(stock))
      assert(e.map(t => (t._1, t._2)) == s.map(t => (t._1, t._2)), s"umask $umask")
      assert(e == s, s"umask $umask: bytes differ")
      // what each arm wrote, with the umask applied
      val names = e.map(_._1).toSet
      assert(Seq("file", ".file.crc", "a/b/c", "snap/p=0", "snap/_SUCCESS",
        "ckpt/dst", "ckpt/.dst.crc").forall(names), names)
      assert(!names("ckpt/src") && !names("snap_old") && !names("snap_next"))
      val masked = Integer.parseInt(umask, 8)
      assert(e.forall(t => (t._2 & masked) == 0), s"umask $umask: $e")
    }
  }

  test("a symbolic link keeps its link status and target") {
    val d = tmp("lfs_link")
    val target = Files.write(d.resolve("target"), Array[Byte](1, 2, 3))
    val link = Files.createSymbolicLink(d.resolve("link"), target)
    val (linkP, targetP) = (new Path(link.toString), new Path(target.toString))
    val raws = Seq(classOf[GraftLocalFileSystem].getName, StockFs)
      .map(fsOf(_).asInstanceOf[LocalFileSystem].getRaw)
    val fcs = Seq(classOf[GraftLocalFs].getName, StockFc).map(fcOf(_))
    def statuses = raws.map(_.getFileLinkStatus(linkP)) ++
      fcs.map(_.getFileLinkStatus(linkP))
    for (st <- statuses) {
      assert(st.isSymlink, st)
      assert(st.getSymlink.toUri.getPath == target.toString, st)
    }
    for (st <- raws.map(_.getFileLinkStatus(targetP)) ++ fcs.map(_.getFileLinkStatus(targetP))) {
      assert(!st.isSymlink && st.isFile && st.getLen == 3, st)
    }
    // a dangling link is still a link
    Files.delete(target)
    for (st <- statuses) assert(st.isSymlink && st.getLen == 0, st)
  }

  test("a swap and a streamed ingest micro-batch start no process") {
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 120).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    val vecsDir = tmp("lfs_vecs").toString
    vecs.coalesce(1).write.mode("append").parquet(vecsDir)
    val d = tmp("lfs_jfr")
    val engine = LocalFsSpec.processStarts {
      Sinks.overwriteViaSwap(spark, rows(6), s"$d/snap", Seq("p"))
      val q = AnnStream.ivfIngest(spark, vecsDir, vecs.schema, s"$d/index",
        s"$d/centroids", s"$d/ckpt", dim = 8, cells = 4, iters = 2)
      try q.processAllAvailable() finally q.stop()
    }
    assert(spark.read.parquet(s"$d/index").count() == 120)
    assert(engine.isEmpty, engine)
    // the probe sees the stock filesystem's process starts
    val stock = FaultFs.withConf(spark, "fs.file.impl" -> StockFs,
      "fs.file.impl.disable.cache" -> "true") {
      LocalFsSpec.processStarts(Sinks.overwriteViaSwap(spark, rows(6), s"$d/snap2", Seq("p")))
    }
    assert(stock.exists(_.contains("chmod")), stock)
  }
}

object LocalFsSpec {
  /** Marks the end of a probe window in the JFR stream. */
  @jdk.jfr.Name("graft.LocalFsSpec.End")
  final class End extends jdk.jfr.Event

  /** The commands of the processes this JVM starts while `body` runs,
    * as JFR's `jdk.ProcessStart` events report them, except Spark's
    * executor-metrics probe: its `ProcfsMetricsGetter` runs `getconf
    * PAGESIZE` once per JVM at the first executor heartbeat, 10–20 s
    * after the session starts, which can fall inside the window. The
    * stream hands over events in time order, so once the end marker
    * committed after `body` arrives, every start made during `body`
    * has too. */
  def processStarts(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]
    val ended = new CountDownLatch(1)
    val rs = new RecordingStream
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.enable(classOf[End])
      rs.onEvent("jdk.ProcessStart", { e =>
        val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
        if (!frames.exists(_.getMethod.getType.getName.startsWith(
            "org.apache.spark.executor.ProcfsMetricsGetter")))
          seen.add(e.getString("command"))
      })
      rs.onEvent("graft.LocalFsSpec.End", _ => ended.countDown())
      rs.startAsync()
      body
      new End().commit()
      assert(ended.await(60, TimeUnit.SECONDS), "JFR did not deliver the end marker")
    } finally rs.close()
    seen.asScala.toSeq
  }
}
