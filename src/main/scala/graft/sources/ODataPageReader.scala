package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, explode}
import org.apache.spark.sql.graftbridge.StatsBridge
import org.apache.spark.sql.types._

/** O5/O6 — paginated OData scan over local JSON page fixtures or a
  * live chain.
  *
  * A page is one JSON object `{"value": [...], "@odata.nextLink": "..."}`
  * (MD-PS:164-194). The reference accumulates all pages into one
  * driver-side list; here the driver walks only the *link chain* — one
  * streaming cursor scan per page ([[graft.sources.v2.PageCursor]],
  * shared with the V2 connector; no Spark job, no tree of the rows) —
  * and the rows are parsed by executors in ONE plan per chain:
  *  - URL pages (whose bodies the walk had to fetch) are parsed together
  *    by one `read.json` over a local Dataset of the bodies, in page
  *    order;
  *  - file pages are re-read distributed from their paths, so their
  *    row data never sits on the driver;
  *  - a mixed chain keeps each run of consecutive same-kind pages
  *    together, which preserves page order.
  * Against a live service at scale this becomes the DataSource V2
  * connector (graft.sources.v2) emitting one InputPartition per page so
  * executors fetch pages in parallel; this reader keeps the same page
  * semantics as a simple driver-loop path.
  */
object ODataPageReader {

  val nextLinkField = "@odata.nextLink"

  /** One walked page: its path, and — for URL pages only — the body
    * fetched during the walk (a remote page can't be re-read by
    * `spark.read.json(path)`; a local file can, and re-reading keeps
    * its row data off the driver) with its UTF-8 length. */
  private case class Page(path: String, body: Option[String], bodyBytes: Long = 0L)

  /** Walk the nextLink chain: pages in order, plus the final page's
    * deltaLink (the cursor that lives only on the last page of a delta
    * chain). Throws if the chain exceeds `maxPages` rather than
    * truncating — a silently shortened walk is indistinguishable from
    * a complete one downstream, which merely shortens a full refresh
    * but CORRUPTS an incremental sync. Each page is fetched once,
    * through the caller's transport (wrap in RetryingPageFetcher for
    * live 429 handling), and its cursors are read in one scan.
    *
    * URL bodies are RETAINED (they cannot be re-read by a distributed
    * scan) and later ride the plan as a local relation, so the driver
    * pays O(retained bytes); `urlBodyBudget` fails the walk before
    * that becomes an OOM — a full live scan past the budget belongs on
    * the DSv2 connector, whose executors fetch their own pages. */
  private def walkChain(firstPagePath: String, maxPages: Int,
      fetcher: graft.sources.v2.PageFetcher,
      urlBodyBudget: Long)
      : (Seq[Page], Option[String]) = {
    import graft.sources.v2.PageCursor
    var retained = 0L
    def page(path: String, body: String): Page =
      if (!PageCursor.isUrl(path)) Page(path, None)
      else {
        val bytes = PageCursor.utf8Length(body)
        retained += bytes
        if (retained > urlBodyBudget)
          throw new IllegalStateException(
            s"URL page bodies exceed urlBodyBudgetBytes=$urlBodyBudget " +
              s"at $path; this driver-loop reader holds remote bodies " +
              "on the driver — read large live chains through the " +
              "graft-odata DSv2 connector instead (executors fetch " +
              "their own pages)")
        Page(path, Some(body), bytes)
      }
    val pages = scala.collection.mutable.ArrayBuffer.empty[Page]
    var next: Option[String] = Some(firstPagePath)
    var deltaLink: Option[String] = None
    while (next.isDefined) {
      if (pages.nonEmpty && pages.size >= maxPages)
        throw new IllegalStateException(
          s"page chain exceeds maxPages=$maxPages at ${pages.last.path}; " +
            "raise maxPages — a truncated read would be silently incomplete")
      val path = next.get
      val body = fetcher.fetch(path)
      pages += page(path, body)
      val meta = PageCursor.pageMeta(body, path)
      next = meta.nextLink
      deltaLink = meta.deltaLink
    }
    (pages.toSeq, deltaLink)
  }

  /** All pages' `value[]` rows as one DataFrame, in page order. Each run
    * of consecutive URL pages is ONE `read.json` over a local Dataset of
    * its bodies — one plan however long the chain, parsed by executors
    * (`from_json` over the same Dataset would be folded into the local
    * relation by the optimizer and parsed single-threaded on the
    * driver). That relation reports the run's body bytes as its size,
    * as the DSv2 connector does, so a join with a small chain (a
    * routine delta's changed ids) is broadcast at planning time
    * instead of shuffling the other side. Each file page is its own
    * distributed path read; those reads are combined with a balanced
    * union, since a left-nested one builds an O(pages)-deep plan that
    * strains the analyzer. */
  private def chainDf(spark: SparkSession, pageSchema: StructType,
      pages: Seq[Page]): DataFrame = {
    import spark.implicits._
    val runs = pages.foldLeft(Vector.empty[Vector[Page]]) { (acc, p) =>
      if (acc.nonEmpty && acc.last.head.body.isDefined == p.body.isDefined)
        acc.init :+ (acc.last :+ p)
      else acc :+ Vector(p)
    }
    val raws = runs.flatMap { run =>
      if (run.head.body.isDefined)
        Seq(StatsBridge.withSizeInBytes(spark.read.schema(pageSchema)
          .json(spark.createDataset(run.flatMap(_.body))), run.map(_.bodyBytes).sum))
      else run.map(p => spark.read.schema(pageSchema)
        .option("multiLine", "true").json(p.path))
    }
    union(raws).select(explode(col("value")).as("v")).select(col("v.*"))
  }

  private def union(dfs: Seq[DataFrame]): DataFrame =
    if (dfs.size == 1) dfs.head
    else union(dfs.grouped(2).map {
      case Seq(a, b) => a.unionByName(b)
      case Seq(a) => a
    }.toSeq)

  /** Follow the nextLink chain starting at `firstPagePath`, returning
    * one DataFrame of all pages' `value[]` rows with `valueSchema`.
    * Relative nextLinks resolve against the current page's directory
    * (or the cwd for a bare filename). Pass a retry-wrapped
    * [[graft.sources.v2.HttpPageFetcher]] to read a live chain. */
  def readPages(spark: SparkSession, firstPagePath: String,
      valueSchema: StructType, maxPages: Int = 10000,
      fetcher: graft.sources.v2.PageFetcher =
        new graft.sources.v2.LocalPageFetcher,
      urlBodyBudgetBytes: Long = 256L << 20): DataFrame = {
    val pageSchema = StructType(Seq(
      StructField("value", ArrayType(valueSchema)),
      StructField(nextLinkField, StringType)))
    val (pages, _) =
      walkChain(firstPagePath, maxPages, fetcher, urlBodyBudgetBytes)
    chainDf(spark, pageSchema, pages)
  }

  val removedField = "@removed"

  /** Shape of the tombstone marker object — THE definition; the V2
    * connector and the streaming delta reader reference it so a
    * change to the wire shape lands in one place. */
  val removedMarkerSchema: StructType =
    StructType(Seq(StructField("reason", StringType)))

  /** Incremental (delta) sync read — the extension the reference's
    * full-refresh runbooks stop short of: OData delta queries return
    * only entities changed since the last sync, with deletions as
    * tombstones (`{"id": ..., "@removed": {"reason": ...}}`) and a
    * final-page `@odata.deltaLink` to persist as the next run's
    * cursor.
    *
    * Returns the change set — `valueSchema`'s columns plus a boolean
    * `removed` (tombstones carry only the id; their other columns are
    * NULL) — and the final page's deltaLink, read by the same walk.
    * Page walking and parsing match [[readPages]]. Apply with
    * `Sinks.applyDelta`. */
  def readDeltaPages(spark: SparkSession, firstPagePath: String,
      valueSchema: StructType, maxPages: Int = 10000,
      fetcher: graft.sources.v2.PageFetcher =
        new graft.sources.v2.LocalPageFetcher,
      urlBodyBudgetBytes: Long = 256L << 20)
      : (DataFrame, Option[String]) = {
    val deltaValueSchema = valueSchema.add(
      StructField(removedField, removedMarkerSchema))
    val pageSchema = StructType(Seq(
      StructField("value", ArrayType(deltaValueSchema)),
      StructField(nextLinkField, StringType)))
    val (pages, link) =
      walkChain(firstPagePath, maxPages, fetcher, urlBodyBudgetBytes)
    val changes = chainDf(spark, pageSchema, pages)
      .withColumn("removed", col(removedField).isNotNull)
      .drop(removedField)
    (changes, link)
  }
}
