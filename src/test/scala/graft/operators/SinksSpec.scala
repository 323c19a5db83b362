package graft.operators

import graft.{FaultFs, SparkSpec}
import org.apache.spark.sql.functions.col
import java.sql.Timestamp
import java.nio.file.Files

class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory("graft_sink").resolve(name).toString

  test("snapshot overwrite fully replaces prior batch, batch-constant ts") {
    val path = tmp("snap")
    Sinks.snapshot(Seq(("a", 1), ("b", 2)).toDF("id", "v"), path,
      Timestamp.valueOf("2024-09-01 00:00:00"))
    Sinks.snapshot(Seq(("c", 3)).toDF("id", "v"), path,
      Timestamp.valueOf("2024-11-08 00:00:00"))
    val rows = spark.read.parquet(path).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("id") == "c")
    assert(rows.head.getAs[Timestamp]("timeGenerated") ==
      Timestamp.valueOf("2024-11-08 00:00:00"))
  }

  test("ndjson snapshot: overwrite semantics, one JSON doc per line, ISO-8601 batch ts") {
    val path = tmp("ndjson")
    Sinks.ndjsonSnapshot(Seq(("a", 1), ("b", 2)).toDF("id", "v"), path,
      Timestamp.valueOf("2024-09-01 00:00:00"))
    Sinks.ndjsonSnapshot(Seq(("c", 3)).toDF("id", "v"), path,
      Timestamp.valueOf("2024-11-08 00:00:00"))
    // read back as a Spark json source: full refresh happened
    val rows = spark.read.json(path).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("id") == "c")
    // and as raw lines: valid one-doc-per-line NDJSON any agent can eat
    val lines = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".json"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq)
    assert(lines.length == 1)
    assert(lines.head.startsWith("{") && lines.head.endsWith("}"))
    assert(lines.head.contains(""""timeGenerated":"2024-11-08T00:00:00.000Z""""))
  }

  test("retention append keeps rows within maxAgeDays, ages out the rest") {
    val path = tmp("ret")
    Sinks.retentionAppend(spark, Seq(("old", 1)).toDF("id", "v"), path,
      Timestamp.valueOf("2024-09-01 00:00:00"), maxAgeDays = 40)
    Sinks.retentionAppend(spark, Seq(("new", 2)).toDF("id", "v"), path,
      Timestamp.valueOf("2024-11-08 00:00:00"), maxAgeDays = 40)
    val ids = spark.read.parquet(path).select("id").as[String].collect().toSet
    assert(ids == Set("new")) // 68 days > 40 aged out
  }

  test("retention keeps multiple batches inside the window") {
    val path = tmp("ret2")
    Sinks.retentionAppend(spark, Seq(("b1", 1)).toDF("id", "v"), path,
      Timestamp.valueOf("2024-10-20 00:00:00"), maxAgeDays = 40)
    Sinks.retentionAppend(spark, Seq(("b2", 2)).toDF("id", "v"), path,
      Timestamp.valueOf("2024-11-08 00:00:00"), maxAgeDays = 40)
    val ids = spark.read.parquet(path).select("id").as[String].collect().toSet
    assert(ids == Set("b1", "b2")) // 19 days <= 40 retained
  }

  test("retention ages out by partition drop, never rewriting survivors") {
    import org.apache.hadoop.fs.Path
    val path = tmp("ret3")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(p: String): Map[String, (Long, Long)] =
      fs.listStatus(new Path(s"$path/$p")).filter(_.isFile)
        .map(s => s.getPath.toString -> (s.getLen, s.getModificationTime))
        .toMap
    Sinks.retentionAppend(spark, Seq(("old", 1)).toDF("id", "v"), path,
      Timestamp.valueOf("2024-09-01 00:00:00"), maxAgeDays = 40)
    Sinks.retentionAppend(spark, Seq(("b1", 1)).toDF("id", "v"), path,
      Timestamp.valueOf("2024-10-20 00:00:00"), maxAgeDays = 40)
    val survivor = files("load_date=2024-10-20")
    Sinks.retentionAppend(spark, Seq(("b2", 2)).toDF("id", "v"), path,
      Timestamp.valueOf("2024-11-08 00:00:00"), maxAgeDays = 40)
    // expired partition directory is gone ...
    assert(!fs.exists(new Path(s"$path/load_date=2024-09-01")))
    // ... and the surviving partition's files are byte-for-byte the
    // ones written at load time — the age-out never rewrote them
    assert(files("load_date=2024-10-20") == survivor)
    assert(fs.exists(new Path(s"$path/load_date=2024-11-08")))
    // readers prune on load_date: only the matching partition is scanned
    val pruned = spark.read.parquet(path)
      .filter(col("load_date") === "2024-11-08")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("load_date"))
    assert(pruned.select("id").as[String].collect().toSeq == Seq("b2"))
  }

  test("jdbc snapshot: second load replaces the first on a real SQL target") {
    // embedded Derby (on the Spark-jars classpath) stands in for the
    // reference's SQL Server target — truncate-overwrite, batch ts
    val dbDir = Files.createTempDirectory("graft_derby")
    System.setProperty("derby.stream.error.file",
      dbDir.resolve("derby.log").toString)
    val url = s"jdbc:derby:${dbDir.resolve("db")};create=true"
    val props = new java.util.Properties()
    Sinks.jdbcSnapshot(Seq(("a", 1), ("b", 2)).toDF("id", "v"), url,
      "snap", props, Timestamp.valueOf("2024-09-01 00:00:00"))
    Sinks.jdbcSnapshot(Seq(("c", 3)).toDF("id", "v"), url,
      "snap", props, Timestamp.valueOf("2024-11-08 00:00:00"))
    val rows = spark.read.jdbc(url, "snap", props).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("id") == "c")
    assert(rows.head.getAs[Timestamp]("timeGenerated") ==
      Timestamp.valueOf("2024-11-08 00:00:00"))
    // truncate=true preserved the DDL: the table was emptied, not
    // dropped and recreated, so a second read sees the same columns
    assert(spark.read.jdbc(url, "snap", props).columns.toSet ==
      Set("id", "v", "timeGenerated"))
  }

  test("bucketedUpsert merges O(touched buckets): survivors byte-identical, semantics = applyDelta, replay idempotent") {
    import org.apache.hadoop.fs.Path
    val path = tmp("upsert")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bucketFiles(): Map[String, (Long, Long)] =
      fs.listStatus(new Path(path)).filter(_.isDirectory)
        .flatMap(d => fs.listStatus(d.getPath).filter(_.isFile))
        .map(s => s.getPath.toString -> (s.getLen, s.getModificationTime))
        .toMap
    def state(): Set[(Long, String)] =
      spark.read.parquet(path).select("id", "v").as[(Long, String)]
        .collect().toSet

    val base = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
    Sinks.bucketedUpsert(spark, base, path, "id", buckets = 8)
    assert(state() == (1L to 100L).map(i => (i, s"v$i")).toSet)

    val before = bucketFiles()
    // one update, one insert, one tombstone — small key set, few buckets
    val changes = Seq((7L, "V7", false), (101L, "v101", false),
      (13L, "", true)).toDF("id", "v", "removed")
    Sinks.bucketedUpsert(spark, changes, path, "id", buckets = 8)

    val expected = Sinks.applyDelta(base, changes, "id")
      .as[(Long, String)].collect().toSet
    assert(state() == expected)
    assert(!state().exists(_._1 == 13L) && state().contains((7L, "V7")))

    // rewrite scope: only buckets containing a changed key moved
    val touched = Seq(7L, 101L, 13L).map(k =>
      spark.range(1).select(org.apache.spark.sql.functions
        .pmod(org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.lit(k)),
          org.apache.spark.sql.functions.lit(8L))).as[Long].head()).toSet
    val after = bucketFiles()
    val untouchedBefore = before.filterNot { case (p, _) =>
      touched.exists(b => p.contains(s"bucket=$b/")) }
    val untouchedAfter = after.filterNot { case (p, _) =>
      touched.exists(b => p.contains(s"bucket=$b/")) }
    assert(untouchedBefore == untouchedAfter,
      "buckets without changed keys must keep their exact files")
    assert(untouchedBefore.nonEmpty && touched.size < 8)

    // replaying the same change set lands the identical state
    Sinks.bucketedUpsert(spark, changes, path, "id", buckets = 8)
    assert(state() == expected)
    // no staging debris
    assert(!fs.exists(new Path(path + "_next")) &&
      !fs.exists(new Path(path + "_old")))
  }

  test("bucketedUpsert: an interrupted swap is repaired on the next call; replay converges") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    val path = tmp("upsert_crash")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def state(): Set[(Long, String)] =
      spark.read.parquet(path).select("id", "v").as[(Long, String)]
        .collect().toSet
    val base = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
    Sinks.bucketedUpsert(spark, base, path, "id", buckets = 8)
    val changes = Seq((7L, "V7", false), (101L, "v101", false),
      (13L, "", true)).toDF("id", "v", "removed")
    val expected = Sinks.applyDelta(base, changes, "id")
      .as[(Long, String)].collect().toSet
    val b = spark.range(1).select(pmod(xxhash64(lit(7L)), lit(8L)))
      .as[Long].head()

    // crash state 1: bucket b's live dir dropped, its merged copy staged
    // and committed, promote missed — a naive replay would read the live
    // store (bucket b missing) and lose every unchanged row of that bucket
    FaultFs.installed(spark) {
      assert(FaultFs.crashing(FaultFs.PartitionCommit)(c => c.op == "rename" &&
          c.path.endsWith(s"_pstage/bucket=$b"))(
        Sinks.bucketedUpsert(spark, changes, path, "id", buckets = 8)))
    }
    assert(!fs.exists(new Path(path, s"bucket=$b")))
    Sinks.bucketedUpsert(spark, changes, path, "id", buckets = 8)
    assert(state() == expected,
      "repair must promote the staged copy before merging")
    assert(!fs.exists(new Path(path + "_next")) &&
      !fs.exists(new Path(path + "_old")))
    assert(!fs.exists(new Path(Sinks.partitionStage(path))))

    // crash state 2: the merge staged but its commit record never
    // landed — live buckets untouched; repair must roll the stage back,
    // then the replayed merge converges
    val path2 = tmp("upsert_crash2")
    def state2(): Set[(Long, String)] =
      spark.read.parquet(path2).select("id", "v").as[(Long, String)]
        .collect().toSet
    Sinks.bucketedUpsert(spark, base, path2, "id", buckets = 8)
    FaultFs.installed(spark) {
      assert(FaultFs.crashing(FaultFs.PartitionCommit)(_.op == "rename")(
        Sinks.bucketedUpsert(spark, changes, path2, "id", buckets = 8)))
    }
    assert(fs.exists(new Path(Sinks.partitionStage(path2))))
    assert(state2() == base.as[(Long, String)].collect().toSet)
    Sinks.bucketedUpsert(spark, changes, path2, "id", buckets = 8)
    assert(state2() == expected, "repair must roll back the uncommitted stage")
    assert(!fs.exists(new Path(Sinks.partitionStage(path2))))
  }

  test("bucketedUpsert: completed-merge _old debris is cleared, never rolled back") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    val path = tmp("upsert_debris")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = (1L to 40L).map(i => (i, s"v$i")).toDF("id", "v")
    Sinks.bucketedUpsert(spark, base, path, "id", buckets = 4)
    val b = spark.range(1).select(pmod(xxhash64(lit(7L)), lit(4L)))
      .as[Long].head()
    val bucketIds = base
      .withColumn("bucket", pmod(xxhash64(col("id")), lit(4L)))
      .filter(col("bucket") === b).select("id").as[Long].collect().toSeq
    // tombstone EVERY row of bucket b — the merge legitimately removes
    // the bucket dir
    val wipe = bucketIds.map(i => (i, "", true)).toDF("id", "v", "removed")
    // the merge promoted (the cursor HAS advanced), then crashed before
    // clearing its stage: the committed stage is left behind
    FaultFs.installed(spark) {
      assert(FaultFs.crashing(FaultFs.PartitionCommit)(c => c.op == "delete" &&
          c.path.endsWith("_pstage"))(
        Sinks.bucketedUpsert(spark, wipe, path, "id", buckets = 4)))
    }
    assert(!fs.exists(new Path(path, s"bucket=$b")))
    assert(fs.exists(new Path(Sinks.partitionStage(path))))
    // an unrelated later delta must clear the debris WITHOUT
    // resurrecting the deleted rows
    Sinks.bucketedUpsert(spark, Seq((1000L, "x", false))
      .toDF("id", "v", "removed"), path, "id", buckets = 4)
    val ids = spark.read.parquet(path).select("id").as[Long].collect().toSet
    assert(bucketIds.forall(!ids.contains(_)),
      "rows deleted by a completed merge must stay deleted")
    assert(ids.contains(1000L))
    assert(!fs.exists(new Path(path + "_old")))
    assert(!fs.exists(new Path(Sinks.partitionStage(path))))
  }

  test("bucketedUpsert: tombstoning every row leaves an absent (recreatable) store; torn meta self-heals") {
    import org.apache.hadoop.fs.Path
    val path = tmp("upsert_wipeall")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Sinks.bucketedUpsert(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      path, "id", buckets = 4)
    Sinks.bucketedUpsert(spark,
      Seq((1L, "", true), (2L, "", true)).toDF("id", "v", "removed"),
      path, "id", buckets = 4)
    // the empty store's canonical form is "path absent" — a footerless
    // shell would brick every read
    assert(!fs.exists(new Path(path)))
    Sinks.bucketedUpsert(spark, Seq((3L, "c")).toDF("id", "v"), path, "id",
      buckets = 4)
    assert(spark.read.parquet(path).select("v").as[String]
      .collect().toSeq == Seq("c"))

    // a meta write torn between create and write (empty file) counts
    // as pre-metadata: validated against the layout and rewritten
    val metaP = new Path(path, "_graft_buckets")
    fs.create(metaP, true).close()
    Sinks.bucketedUpsert(spark, Seq((4L, "d")).toDF("id", "v"), path, "id",
      buckets = 4)
    assert(spark.read.parquet(path).count() == 2)
    // and a legacy/pre-metadata store rejects a count smaller than an
    // on-disk bucket id instead of silently merging mod the wrong base
    fs.delete(metaP, false)
    val wide = (1L to 64L).map(i => (i, "w")).toDF("id", "v")
    Sinks.bucketedUpsert(spark, wide, path, "id", buckets = 4)
    fs.delete(metaP, false)
    val ex = intercept[IllegalArgumentException] {
      Sinks.bucketedUpsert(spark,
        Seq((1L, "z", false)).toDF("id", "v", "removed"), path, "id",
        buckets = 2)
    }
    assert(ex.getMessage.contains("on disk"))
  }

  test("bucketedUpsert: bucket-count mismatch fails fast; all-tombstone first write leaves no store") {
    import org.apache.hadoop.fs.Path
    val path = tmp("upsert_meta")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Sinks.bucketedUpsert(spark, Seq((1L, "a")).toDF("id", "v"), path, "id",
      buckets = 8)
    val ex = intercept[IllegalArgumentException] {
      Sinks.bucketedUpsert(spark,
        Seq((1L, "b", false)).toDF("id", "v", "removed"), path, "id",
        buckets = 4)
    }
    assert(ex.getMessage.contains("8 buckets"))
    // the store is untouched by the rejected call
    assert(spark.read.parquet(path).select("v").as[String]
      .collect().toSeq == Seq("a"))

    val p2 = tmp("upsert_empty")
    Sinks.bucketedUpsert(spark,
      Seq((1L, "x", true)).toDF("id", "v", "removed"), p2, "id", buckets = 8)
    assert(!fs.exists(new Path(p2)),
      "all-tombstone first write must not create an unreadable store")
  }

  test("surrogate keys are unique; contiguous mode matches IDENTITY(1,1)") {
    val df = Seq("b", "a", "c").toDF("id")
    val m = Sinks.withSurrogateKey(df)
    assert(m.select("ClusterID").distinct().count() == 3)
    val c = Sinks.withSurrogateKey(df, contiguous = true)
      .orderBy("ClusterID").collect()
    assert(c.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L))
    assert(c.map(_.getString(0)).toSeq == Seq("a", "b", "c"))
  }
}
