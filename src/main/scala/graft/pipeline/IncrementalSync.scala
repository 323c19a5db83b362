package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import graft.operators.Sinks
import graft.sources.ODataPageReader

/** The incremental runbook the reference's full-refresh schedule grows
  * into: each scheduled run starts from the PERSISTED delta cursor,
  * reads only what changed, merges into the snapshot, and commits the
  * new cursor — extraction cost per run becomes O(changes), not
  * O(entity set).
  *
  * Crash ordering: the snapshot swap commits BEFORE the cursor is
  * saved, so a crash between the two replays the same delta on the
  * next run — idempotent, because [[Sinks.applyDelta]] upserts by id
  * (re-applying a change set a second time yields the identical
  * snapshot). The reverse order would skip a delta round on crash and
  * silently lose changes. Cursor writes are themselves
  * write-tmp-then-rename, and a crash inside one leaves the old or
  * the new cursor readable ([[saveCursor]]).
  */
object IncrementalSync {

  /** One sync round. `startPage` is the persisted cursor from
    * [[loadCursor]] — or, on the very first run, the entity's delta
    * endpoint (which returns the full set plus a first cursor).
    * Live Graph cursors are absolute `https` URLs, so a production
    * round passes a retry-wrapped
    * [[graft.sources.v2.HttpPageFetcher]]; the default reads fixture
    * files. Returns the new cursor (None if the service supplied no
    * deltaLink — the caller should treat the next run as a first
    * sync). */
  def runRound(spark: SparkSession, startPage: String,
      valueSchema: StructType, snapshotPath: String, cursorPath: String,
      idCol: String = "id",
      fetcher: graft.sources.v2.PageFetcher =
        new graft.sources.v2.LocalPageFetcher): Option[String] = {
    val (changes, link) =
      ODataPageReader.readDeltaPages(spark, startPage, valueSchema,
        fetcher = fetcher)
    Sinks.recoverSwap(spark, snapshotPath)
    val fs = new org.apache.hadoop.fs.Path(snapshotPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap =
      if (fs.exists(new org.apache.hadoop.fs.Path(snapshotPath)))
        spark.read.schema(valueSchema).parquet(snapshotPath)
      else
        Sinks.emptyFrame(spark, valueSchema)
    // changes carry the extra `removed` column; the snapshot holds
    // only entity columns — applyDelta drops the flag on upserts
    Sinks.overwriteViaSwap(spark,
      Sinks.applyDelta(snap, changes, idCol), snapshotPath)
    link.foreach(saveCursor(spark, cursorPath, _))
    link
  }

  /** Cursor from the last committed round, if any: the live cursor,
    * or — after a crash inside [[saveCursor]] between setting it aside
    * and promoting its successor — the set-aside previous one. The
    * previous cursor is safe to resume from: the snapshot commits
    * before the cursor, and the delta replays idempotently. */
  def loadCursor(spark: SparkSession, path: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(p, new org.apache.hadoop.fs.Path(path + "_prev"))
      .find(fs.exists).map { c =>
        val in = fs.open(c)
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim
        finally in.close()
      }
  }

  /** Persist the cursor atomically: write `_tmp`, set the live cursor
    * aside to `_prev`, rename `_tmp` in, drop `_prev`. A crash at any
    * step leaves [[loadCursor]] the old or the new cursor, never none:
    * the live cursor is only ever moved aside, and `_prev` is cleared
    * only while a live cursor exists. */
  def saveCursor(spark: SparkSession, path: String, link: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + "_tmp")
    val prev = new org.apache.hadoop.fs.Path(path + "_prev")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(tmp, true)
    try out.write(link.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // live cursor present: any `_prev` is debris of a finished save.
    // Absent: a crashed save left the previous cursor in `_prev`, which
    // must survive until its successor lands
    if (fs.exists(p)) {
      if (fs.exists(prev) && !fs.delete(prev, false))
        throw new java.io.IOException(s"cursor save: cannot clear $prev")
      if (!fs.rename(p, prev))
        throw new java.io.IOException(s"cursor save: cannot set aside $p")
    }
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"cursor save: cannot commit $tmp")
    fs.delete(prev, false) // best-effort; loadCursor reads it only without p
  }
}
