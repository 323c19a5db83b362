package graft.core

import org.apache.spark.sql.SparkSession

/** One place for session defaults so Verify, Bench, and tests run the
  * same engine configuration.
  *
  * Scale posture: AQE on (runtime re-plan, skew-join splitting,
  * partition coalescing), shuffle partitions sized to the local core
  * count rather than the 200 default (on a real cluster this would be
  * ~2-3× total executor cores, or left to AQE's coalescing).
  *
  * The `file:` FileSystem and FileContext are the engine's
  * ([[GraftLocalFileSystem]], [[GraftLocalFs]]): the stock local
  * filesystem, minus the `chmod` and `readlink` process it starts per
  * file created or renamed when `libhadoop` is absent.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      // graft optimizer rules (bucketed range-join rewrite)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is TIMESTAMP(NANOS) parquet — Spark 4 has no nanos
      // TimestampType; read as epoch-nano long (Tables.events converts).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[GraftLocalFs].getName)

  def local(cpus: Int = 32): SparkSession = {
    val s = builder(s"local[$cpus]", cpus.toString).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
