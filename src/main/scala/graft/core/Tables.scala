package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish parquet tables
  * (TESTDATA.md). One parquet file per table under `sfDir`.
  *
  * At 100 TB these would be partitioned/bucketed datasets; the loader
  * keeps the access path behind one function so the physical layout can
  * change without touching query code.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** The ONE dispatch from table name to its (possibly normalizing)
    * loader — registerAll and tools.Doctor both use it, so a table
    * gaining boundary normalization can never be normalized in one
    * place and raw in the other. */
  def loaderFor(name: String): (SparkSession, String) => DataFrame =
    name match {
      case "events"     => events
      case "orders"     => orders
      case "lineitem"   => lineitem
      case "embeddings" => embeddings
      case other        => (s, d) => load(s, d, other)
    }

  /** Register every table as a temp view so Spark SQL text queries mirror
    * the DuckDB oracle SQL 1:1 — through the same normalizing accessors
    * the DataFrame paths use, so SQL and DataFrame queries can never
    * disagree about an encoding. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n =>
      loaderFor(n)(spark, sfDir).createOrReplaceTempView(n))

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  // o_orderdate / l_shipdate ship with the same writer-dependent
  // encoding drift as events.ts (currently TIMESTAMP_NTZ micros) —
  // normalize at the boundary so no query can hit an NTZ-illegal
  // function the way q18/q30 did on events in round 7
  def orders(s: SparkSession, d: String): DataFrame =
    normalizeTs(load(s, d, "orders"), "o_orderdate")
  def lineitem(s: SparkSession, d: String): DataFrame =
    normalizeTs(load(s, d, "lineitem"), "l_shipdate")

  /** Normalize a timestamp column to TimestampType regardless of how
    * the parquet writer encoded it — the engine has now seen the same
    * logical column arrive three ways across testdata generations:
    *
    *  - TIMESTAMP(NANOS): Spark 4 has no nanos TimestampType; sessions
    *    set spark.sql.legacy.parquet.nanosAsLong=true so it arrives as
    *    epoch-nano LongType → truncate to micros (`div`, exact integer
    *    math — a double division would lose precision above 2^53).
    *  - INT64 TIMESTAMP_MICROS with isAdjustedToUTC=0 (the pandas/
    *    polars/DuckDB default) → Spark reads TIMESTAMP_NTZ; the session
    *    TZ is pinned UTC, so casting to TimestampType preserves the
    *    wall-clock instant exactly.
    *  - TIMESTAMP_MICROS/MILLIS with isAdjustedToUTC=1 → already
    *    TimestampType; pass through.
    *
    * Dispatch is on the OBSERVED schema, never an assumed encoding —
    * the round-7 incident (testdata re-encoded nanos→NTZ under a
    * frozen tree) turned a hard-coded `ts div 1000` into silently
    * 1000×-collapsed timestamps. */
  def normalizeTs(df: DataFrame, colName: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(colName).dataType match {
      case LongType =>
        // The LongType arm only ever means "TIMESTAMP(NANOS) read under
        // nanosAsLong" today — but a future regeneration writing raw
        // epoch micros/millis as plain INT64 would land in this same
        // arm and be silently collapsed/expanded 1000×: the exact
        // failure class this dispatch exists to prevent, reintroduced
        // as a heuristic. Guard by magnitude: epoch-NANOS for any
        // plausible year (1973-2128) sit in [1e17, 5e18]; micros/millis
        // are 3/6 orders smaller. Throw loudly on ambiguity instead of
        // guessing (one bounded min/max job per load; memoized per
        // path set so repeated loads in probe loops pay it once).
        assertNanoRange(df, colName)
        df.withColumn(colName, timestamp_micros(expr(s"`$colName` div 1000")))
      case TimestampNTZType =>
        df.withColumn(colName, col(colName).cast(TimestampType))
      case _ => df
    }
  }

  private val nanosChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def assertNanoRange(df: DataFrame, colName: String): Unit = {
    import org.apache.spark.sql.functions.{col, max, min}
    // a streaming frame cannot run the bounded min/max job here —
    // stream readers validate the SOURCE FILE through the batch path
    // first (EventsStream.sniffSchema → validateNanos), so the guard
    // has already run for the same data by the time a stream reaches
    // this arm
    if (df.isStreaming) return
    // memo key: only a real file set identifies the data; in-memory /
    // JDBC frames (empty inputFiles) must NOT share a slot — they get
    // checked every time instead (the min/max is bounded and cheap)
    val key =
      try {
        val files = df.inputFiles
        if (files.isEmpty) "" else files.sorted.mkString("|") + "#" + colName
      } catch { case scala.util.control.NonFatal(_) => "" }
    if (key.nonEmpty && nanosChecked.contains(key)) return
    val bounds = df.agg(min(col(colName)), max(col(colName))).collect()(0)
    if (!bounds.isNullAt(0)) {
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      require(lo >= 100000000000000000L && hi < 5000000000000000000L,
        s"raw INT64 '$colName' range [$lo, $hi] is not plausible " +
          "epoch-NANOS (1973-2128); refusing to guess the unit — " +
          "normalizeTs dispatches on observed encoding, and this " +
          "column's writer used one it has not seen")
    }
    if (key.nonEmpty) nanosChecked.add(key)
  }

  /** Run the nanos-magnitude guard for a parquet FILE through the
    * batch reader — the validation hook for streaming sources, whose
    * frames cannot execute the min/max job themselves. Memoized like
    * every guard run (same file-set key). */
  def validateNanos(s: SparkSession, path: String, colName: String): Unit = {
    import org.apache.spark.sql.types.LongType
    val df = s.read.parquet(path)
    if (df.schema.exists(f => f.name == colName && f.dataType == LongType))
      assertNanoRange(df, colName)
  }

  /** The events table with `ts` normalized to TimestampType (UTC). */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(load(s, d, "events"))

  /** Build the date-partitioned physical layout for events — the
    * 100 TB read-path posture SURVEY §7 promises (at scale, event data
    * lands partitioned at ingest; the flat testdata file stands in for
    * the raw feed). One `dt=YYYY-MM-DD` directory per event day, `ts`
    * already normalized, so day-ranged queries through
    * [[eventsPartitioned]] hit Catalyst PARTITION PRUNING: the scan
    * lists only matching directories — file I/O proportional to the
    * days queried, not the retention horizon. Idempotent overwrite. */
  def buildPartitionedEvents(s: SparkSession, sfDir: String,
      outDir: String): Unit =
    events(s, sfDir)
      .withColumn("dt", org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("ts")))
      .write.mode("overwrite").partitionBy("dt").parquet(outDir)

  /** Events over a [[buildPartitionedEvents]] layout: same columns as
    * [[events]] plus the `dt` DATE partition column. Filters on `dt`
    * (or `to_date(ts)` rewritten by hand to `dt`) prune directories
    * before any file is opened — PartitionPruningSpec pins it (the
    * round-9 partition probe, in git history, read 1 of 30 files for a
    * one-day query at sf0.01 and sf0.1). */
  def eventsPartitioned(s: SparkSession, dir: String): DataFrame =
    normalizeTs(s.read.parquet(dir))
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")

  /** The embeddings table with `embedding` restored to the library's
    * declared `array<float>` contract — a regeneration that emits
    * `array<double>` (the pandas/polars default for float columns that
    * pass through python floats) would otherwise crash every typed
    * `getSeq[Float]`/`getFloat` consumer in the ANN stack. */
  def embeddings(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val raw = load(s, d, "embeddings")
    raw.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => raw
      case ArrayType(_, _) =>
        raw.withColumn("embedding",
          org.apache.spark.sql.functions.col("embedding")
            .cast(ArrayType(FloatType)))
      case _ => raw
    }
  }
}
