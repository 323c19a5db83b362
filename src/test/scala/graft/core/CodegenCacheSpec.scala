package graft.core

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Each generated class compiles once per JVM ([[GraftSession]]'s two
  * codegen settings): a re-run of the same queries, batch or streamed,
  * compiles nothing. Compiles are counted JVM-wide by Spark's codegen
  * metric, so the driver's and the local executors' are both seen. */
class CodegenCacheSpec extends SparkSpec {
  import spark.implicits._

  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("the session sizes the codegen cache and shares one classloader") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096")
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
  }

  test("150 distinct queries run twice: the second pass compiles nothing") {
    // each query inlines its own long literals, so it generates classes
    // of its own: more than Spark's default cache of 100 holds
    def pass(): Unit = (0 until 150).foreach { i =>
      spark.range(0, 50).select(($"id" * lit(i + 1000L) + lit(i.toLong)).as("v"))
        .filter($"v" % 3 =!= lit(i % 3L)).agg(sum($"v")).collect()
    }
    assert(compiles(pass()) > 150)
    assert(compiles(pass()) == 0)
  }

  test("a streamed query started again compiles nothing") {
    val src = Files.createTempDirectory("graft_codegen_src").resolve("in")
    spark.range(0, 200).select($"id", ($"id" % 7).as("k"))
      .write.parquet(src.toString)
    val body: (DataFrame, Long) => Unit = (batch, _) =>
      batch.filter($"id" > 10).groupBy($"k").count().collect()
    // a fresh checkpoint each time, so each run reads every file again
    def run(): Unit = spark.readStream.schema("id LONG, k LONG")
      .parquet(src.toString).writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft_codegen_ckpt").toString)
      .trigger(Trigger.AvailableNow()).foreachBatch(body)
      .start().awaitTermination()
    run()
    assert(compiles(run()) == 0)
  }
}
