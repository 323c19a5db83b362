package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JacksonParser}
import org.apache.spark.sql.catalyst.util.{FailureSafeParser, PermissiveMode}
import org.apache.spark.sql.functions.{col, explode}
import org.apache.spark.sql.graftbridge.StatsBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** O5/O6 — paginated OData scan over local JSON page fixtures or a
  * live chain.
  *
  * A page is one JSON object `{"value": [...], "@odata.nextLink": "..."}`
  * (MD-PS:164-194). The reference accumulates all pages into one
  * driver-side list; here the driver walks only the *link chain* — one
  * streaming cursor scan per page over its UTF-8 bytes
  * ([[graft.sources.v2.PageCursor]], shared with the V2 connector; no
  * Spark job, no tree of the rows) — and the rows are parsed by
  * executors in ONE plan per chain:
  *  - URL pages (whose bodies the walk had to fetch) keep their bytes;
  *    the scan's element spans cut a run of them into at most one slice
  *    per core, and each executor parses its slice's elements as rows
  *    with Spark's JSON parser, in page order;
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

  /** One walked page: its path, and — for URL pages only — the UTF-8
    * body fetched during the walk (a remote page can't be re-read by
    * `spark.read.json(path)`; a local file can, and re-reading keeps
    * its row data off the driver) with its `value[]` element spans
    * ([[graft.sources.v2.PageCursor.PageScan]]). */
  private final case class Page(path: String, body: Option[Array[Byte]],
      spans: Array[Int])

  /** Walk the nextLink chain: pages in order, plus the final page's
    * deltaLink (the cursor that lives only on the last page of a delta
    * chain). Throws if the chain exceeds `maxPages` rather than
    * truncating — a silently shortened walk is indistinguishable from
    * a complete one downstream, which merely shortens a full refresh
    * but CORRUPTS an incremental sync. Each page is fetched once, as
    * bytes, through the caller's transport (wrap in RetryingPageFetcher
    * for live 429 handling), and its cursors and element spans are read
    * in one scan, which also fails a body that is not valid UTF-8.
    *
    * URL bodies are RETAINED (they cannot be re-read by a distributed
    * scan) and later ride the plan's partitions, so the driver pays
    * O(retained bytes); `urlBodyBudget` fails the walk before that
    * becomes an OOM — a full live scan past the budget belongs on the
    * DSv2 connector, whose executors fetch their own pages. */
  private def walkChain(firstPagePath: String, maxPages: Int,
      fetcher: graft.sources.v2.PageFetcher,
      urlBodyBudget: Long)
      : (Seq[Page], Option[String]) = {
    import graft.sources.v2.PageCursor
    var retained = 0L
    val pages = scala.collection.mutable.ArrayBuffer.empty[Page]
    var next: Option[String] = Some(firstPagePath)
    var deltaLink: Option[String] = None
    while (next.isDefined) {
      if (pages.nonEmpty && pages.size >= maxPages)
        throw new IllegalStateException(
          s"page chain exceeds maxPages=$maxPages at ${pages.last.path}; " +
            "raise maxPages — a truncated read would be silently incomplete")
      val path = next.get
      val body = fetcher.fetchBytes(path)
      val url = PageCursor.isUrl(path)
      if (url) {
        retained += body.length
        if (retained > urlBodyBudget)
          throw new IllegalStateException(
            s"URL page bodies exceed urlBodyBudgetBytes=$urlBodyBudget " +
              s"at $path; this driver-loop reader holds remote bodies " +
              "on the driver — read large live chains through the " +
              "graft-odata DSv2 connector instead (executors fetch " +
              "their own pages)")
      }
      val scan = PageCursor.scanPage(body, path)
      pages += (if (url) Page(path, Some(body), scan.spans)
                else Page(path, None, Array.emptyIntArray))
      next = scan.meta.nextLink
      deltaLink = scan.meta.deltaLink
    }
    (pages.toSeq, deltaLink)
  }

  /** All pages' `value[]` rows as one DataFrame of `valueSchema`'s
    * columns, in page order.
    *
    * Each run of consecutive URL pages is ONE `LogicalRDD` with no
    * query behind it: its elements are cut into `min(pages, cores)`
    * contiguous slices of near-equal bytes ([[slice]]), and each
    * executor parses its slice one element per row with Spark's own
    * `JacksonParser` and `FailureSafeParser` in PERMISSIVE mode — the
    * pair `read.json` over a `Dataset[String]` runs — under the
    * session's JSON settings. The rows equal a page-level `read.json`
    * plus `explode`: a field of the wrong type is null in a kept row,
    * a `null` element is an all-null row, and a page whose `value` is
    * not an array of objects and nulls yields no row (the scan drops
    * its spans). Row granularity assumes Spark's default
    * `spark.sql.json.enablePartialResults=true`, which the engine
    * never changes: with it off a page-level parse would null a whole
    * page for one bad field. The relation reports the run's body
    * bytes as its size, as the DSv2 connector does, so a join with a
    * small chain (a routine delta's changed ids) is broadcast at
    * planning time instead of shuffling the other side.
    *
    * Each file page is its own distributed path read, and a run of
    * them is exploded once. Reads and runs are combined with a
    * balanced union, since a left-nested one builds an O(pages)-deep
    * plan that strains the analyzer. */
  private def chainDf(spark: SparkSession, valueSchema: StructType,
      pages: Seq[Page]): DataFrame = {
    val pageSchema = StructType(Seq(
      StructField("value", ArrayType(valueSchema)),
      StructField(nextLinkField, StringType)))
    val runs = pages.foldLeft(Vector.empty[Vector[Page]]) { (acc, p) =>
      if (acc.nonEmpty && acc.last.head.body.isDefined == p.body.isDefined)
        acc.init :+ (acc.last :+ p)
      else acc :+ Vector(p)
    }
    union(runs.map { run =>
      if (run.head.body.isDefined) {
        // a corrupt-record column no field has (longer than every
        // name): a page-level parse never fills one inside `value[]`
        val noColumn =
          "_" * (valueSchema.fieldNames.map(_.length).foldLeft(0)(_ max _) + 1)
        val options = new JSONOptions(Map.empty[String, String],
          spark.conf.get("spark.sql.session.timeZone"), noColumn)
        val slices = slice(run.map(p => (p.body.get, p.spans)),
          math.min(run.size, spark.sparkContext.defaultParallelism))
        StatsBridge.rowsFrame(spark, valueSchema,
          spark.sparkContext.parallelize(slices.toSeq, slices.length)
            .mapPartitions(new ElementParser(valueSchema, options)),
          run.map(_.body.get.length.toLong).sum)
      } else union(run.map(p => spark.read.schema(pageSchema)
          .option("multiLine", "true").json(p.path)))
        .select(explode(col("value")).as("v")).select(col("v.*"))
    })
  }

  /** Cut the elements of `pages` (bodies with their element spans) into
    * `k` contiguous slices in order: slice `i` closes at the first
    * element that reaches `(i + 1) / k` of the run's element bytes, so
    * no slice exceeds `ceil(bytes / k)` by more than one element. A
    * slice copies its elements' bytes back to back. */
  private def slice(pages: Seq[(Array[Byte], Array[Int])],
      k: Int): Array[ElementSlice] = {
    val total = pages.map { case (_, sp) =>
      sp.indices.by(2).map(j => (sp(j + 1) - sp(j)).toLong).sum }.sum
    def each(f: (Int, Array[Byte], Int, Int) => Unit): Unit = {
      var i = 0
      var done = 0L
      for ((body, sp) <- pages; j <- sp.indices by 2) {
        val len = sp(j + 1) - sp(j)
        f(i, body, sp(j), len)
        done += len
        while (i < k - 1 && done >= (i + 1) * total / k) i += 1
      }
    }
    val sizes = new Array[Long](k)
    val counts = new Array[Int](k)
    each((i, _, _, len) => { sizes(i) += len; counts(i) += 1 })
    val slices = Array.tabulate(k)(i => new ElementSlice(
      new Array[Byte](Math.toIntExact(sizes(i))), new Array[Int](counts(i))))
    val filled = new Array[Int](k)
    each { (i, body, from, len) =>
      val s = slices(i)
      val at = if (filled(i) == 0) 0 else s.ends(filled(i) - 1)
      System.arraycopy(body, from, s.data, at, len)
      s.ends(filled(i)) = at + len
      filled(i) += 1
    }
    slices
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
    val (pages, _) =
      walkChain(firstPagePath, maxPages, fetcher, urlBodyBudgetBytes)
    chainDf(spark, valueSchema, pages)
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
    val (pages, link) =
      walkChain(firstPagePath, maxPages, fetcher, urlBodyBudgetBytes)
    val changes = chainDf(spark, deltaValueSchema, pages)
      .withColumn("removed", col(removedField).isNotNull)
      .drop(removedField)
    (changes, link)
  }
}

/** One slice of a URL run: its elements' UTF-8 bytes back to back,
  * element `i` ending at `ends(i)`. */
private[sources] final class ElementSlice(val data: Array[Byte],
    val ends: Array[Int]) extends Serializable

/** Parses a partition's [[ElementSlice]]s, each element as one row of
  * `schema`, with `JacksonParser` under `FailureSafeParser` in
  * PERMISSIVE mode, as `read.json` parses the lines of a
  * `Dataset[String]`. A named class, not a lambda, so handing it to
  * `mapPartitions` costs no closure analysis. */
private final class ElementParser(schema: StructType, options: JSONOptions)
    extends (Iterator[ElementSlice] => Iterator[InternalRow]) with Serializable {
  override def apply(slices: Iterator[ElementSlice]): Iterator[InternalRow] = {
    val raw = new JacksonParser(schema, options, false, Seq.empty)
    val parser = new FailureSafeParser[UTF8String](
      raw.parse(_, CreateJacksonParser.utf8String, identity[UTF8String]),
      PermissiveMode, schema, options.columnNameOfCorruptRecord)
    slices.flatMap { s =>
      Iterator.range(0, s.ends.length).flatMap { i =>
        val from = if (i == 0) 0 else s.ends(i - 1)
        parser.parse(UTF8String.fromBytes(s.data, from, s.ends(i) - from))
      }
    }
  }
}
