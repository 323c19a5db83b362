package graft.streaming

import graft.SparkSpec
import graft.core.EntitySchemas
import graft.operators.Sinks
import graft.queries.ParityQueries.fixtureRoot
import graft.sources.ODataPageReader
import java.nio.file.{Files, Paths}

class DeltaStreamSpec extends SparkSpec {

  test("streamed delta pages maintain the snapshot: per-page micro-batches converge to the merged state") {
    val schema = EntitySchemas.managedDeviceSource
    val work = Files.createTempDirectory("graft_delta_stream")
    val snapshotPath = work.resolve("snapshot").toString
    val pagesDir = work.resolve("incoming").toString
    Files.createDirectories(Paths.get(pagesDir))

    // seed: the full refresh this incremental run starts from
    ODataPageReader.readPages(spark,
        s"$fixtureRoot/managedDevices/page1.json", schema)
      .write.parquet(snapshotPath)

    // the delta round lands as two page documents; one micro-batch each
    for (p <- Seq("page1.json", "page2.json"))
      Files.copy(Paths.get(s"$fixtureRoot/managedDevicesDelta/$p"),
        Paths.get(pagesDir, p))

    val q = DeltaStream.maintainSnapshot(spark, pagesDir, schema,
      snapshotPath, work.resolve("ckpt").toString,
      maxFilesPerTrigger = 1) // force one micro-batch per page
    try q.processAllAvailable() finally q.stop()

    val byId = spark.read.schema(schema).parquet(snapshotPath)
      .select("id", "deviceName").collect()
      .map(r => r.getString(0).take(8) -> r.getString(1)).toMap
    assert(byId.size == 6)                           // 6 -1 tombstone +1 new
    assert(!byId.contains("33333333"))               // deleted
    assert(byId("11111111") == "DESKTOP-ALPHA-R2")   // updated
    assert(byId("77777777") == "DESKTOP-ETA")        // inserted
    assert(byId.contains("55555555"))                // untouched survives
    // the swap left no stray working copies behind
    assert(!Files.exists(Paths.get(snapshotPath + "_next")))
    assert(!Files.exists(Paths.get(snapshotPath + "_old")))
  }

  test("a batch spanning delta rounds resolves each id latest-file-wins: no duplicate upserts, no resurrected tombstones") {
    val schema = EntitySchemas.managedDeviceSource
    val work = Files.createTempDirectory("graft_delta_xround")
    val snapshotPath = work.resolve("snapshot").toString
    val pagesDir = work.resolve("incoming").toString
    Files.createDirectories(Paths.get(pagesDir))

    ODataPageReader.readPages(spark,
        s"$fixtureRoot/managedDevices/page1.json", schema)
      .write.parquet(snapshotPath)

    // round A (earlier): upserts 11111111 (R1) and 33333333 — then
    // round B (the fixture) updates 11111111 to R2 and TOMBSTONES
    // 33333333. Both rounds land before the stream starts, so the
    // default maxFilesPerTrigger batches them into ONE micro-batch —
    // the catch-up case. Names are zero-padded so lexicographic order
    // is arrival order.
    Files.write(Paths.get(pagesDir, "00010-page1.json"),
      """{"value":[
        |{"id":"11111111-1111-1111-1111-111111111111","deviceName":"DESKTOP-ALPHA-R1"},
        |{"id":"33333333-3333-3333-3333-333333333333","deviceName":"MACBOOK-CHARLIE-R1"}]}"""
        .stripMargin.getBytes("UTF-8"))
    for (p <- Seq("page1.json", "page2.json"))
      Files.copy(Paths.get(s"$fixtureRoot/managedDevicesDelta/$p"),
        Paths.get(pagesDir, s"00020-$p"))

    val q = DeltaStream.maintainSnapshot(spark, pagesDir, schema,
      snapshotPath, work.resolve("ckpt").toString)
    try q.processAllAvailable() finally q.stop()

    val rows = spark.read.schema(schema).parquet(snapshotPath)
      .select("id", "deviceName").collect()
      .map(r => r.getString(0).take(8) -> r.getString(1))
    // exactly one row per id — the round-A upsert of 11111111 must not
    // survive alongside round B's
    assert(rows.length == rows.map(_._1).distinct.length)
    val byId = rows.toMap
    assert(byId.size == 6)
    assert(byId("11111111") == "DESKTOP-ALPHA-R2") // later round won
    assert(!byId.contains("33333333")) // tombstone not resurrected
    assert(byId("77777777") == "DESKTOP-ETA")
  }

  test("interrupted swap recovers: a crash between set-aside and promote restores _old before merging") {
    val schema = EntitySchemas.managedDeviceSource
    val work = Files.createTempDirectory("graft_delta_recover")
    val snapshotPath = work.resolve("snapshot").toString
    val pagesDir = work.resolve("incoming").toString
    Files.createDirectories(Paths.get(pagesDir))

    // the crash window: a swap rewriting the snapshot committed and set
    // the live copy aside, then crashed before promoting — only the
    // stage holds the real snapshot
    val snap = ODataPageReader.readPages(spark,
      s"$fixtureRoot/managedDevices/page1.json", schema)
    Sinks.overwriteViaSwap(spark, snap, snapshotPath)
    graft.FaultFs.installed(spark) {
      assert(graft.FaultFs.crashing(graft.FaultFs.Commit)(c =>
          c.op == "rename" && c.path.endsWith("_pstage/tree"))(
        Sinks.overwriteViaSwap(spark, snap, snapshotPath)))
    }
    assert(!Files.exists(Paths.get(snapshotPath)))

    Files.copy(Paths.get(s"$fixtureRoot/managedDevicesDelta/page1.json"),
      Paths.get(pagesDir, "page1.json"))
    Files.copy(Paths.get(s"$fixtureRoot/managedDevicesDelta/page2.json"),
      Paths.get(pagesDir, "page2.json"))

    val q = DeltaStream.maintainSnapshot(spark, pagesDir, schema,
      snapshotPath, work.resolve("ckpt").toString)
    try q.processAllAvailable() finally q.stop()

    // the 6 pre-crash rows were recovered and merged, not discarded
    val byId = spark.read.schema(schema).parquet(snapshotPath)
      .select("id", "deviceName").collect()
      .map(r => r.getString(0).take(8) -> r.getString(1)).toMap
    assert(byId.size == 6)
    assert(byId.contains("55555555"))                // pre-crash data survived
    assert(byId("11111111") == "DESKTOP-ALPHA-R2")
    assert(!byId.contains("33333333"))
    assert(!Files.exists(Paths.get(snapshotPath + "_old")))
    assert(!Files.exists(Paths.get(Sinks.partitionStage(snapshotPath))))
  }
}
