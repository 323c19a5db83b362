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
  *
  * Codegen is sized so each generated class compiles once per JVM: a
  * cache that holds the engine's working set, and no per-session
  * executor classloader to key it apart.
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
      // Spark's generated-class cache is one JVM-wide LRU, 100 classes
      // by default. Measured working sets: about 150 classes per
      // streamed IVF lifecycle, 2,055 per Verify pass at sf0.001. With
      // 100 entries every lifecycle recompiled all of its classes with
      // Janino, and a Verify pass compiled 4,260. 4,096 holds the
      // corpus's working set twice over. Static: Spark reads it once,
      // when the JVM first generates code.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // The cache is keyed by the thread's context classloader too.
      // With isolation on, every cloned or new session (each started
      // streaming query, EventsStream's newSession) runs its tasks
      // under its own executor classloader, so its classes miss the
      // cache and compile again. The engine never adds session
      // artifacts (jars, files), so it has nothing to isolate.
      .config("spark.sql.artifact.isolation.enabled", "false")

  def local(cpus: Int = 32): SparkSession = {
    val s = builder(s"local[$cpus]", cpus.toString).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
