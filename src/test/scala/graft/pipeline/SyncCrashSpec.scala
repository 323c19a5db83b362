package graft.pipeline

import graft.{FaultFs, SparkSpec}
import graft.core.EntitySchemas
import graft.operators.Sinks
import graft.queries.ParityQueries.fixtureRoot
import java.nio.file.{Files, Path => JPath}

/** The snapshot path's crash points, enumerated: every mutating
  * filesystem call of a swap commit ([[Sinks.overwriteViaSwap]] and
  * the readers' [[Sinks.recoverSwap]]) and of a whole delta round
  * ([[IncrementalSync.runRound]], including its Spark write and the
  * cursor save) fails in turn on a fresh copy of the same starting
  * state. After each crash the next reader sees exactly the old or the
  * new snapshot (and cursor), and a replay converges. */
class SyncCrashSpec extends SparkSpec {
  import spark.implicits._

  private val Swap = Seq(("graft.operators.Sinks$", "overwriteViaSwap"))
  private val Recover = Seq(("graft.operators.Sinks$", "recoverSwap"))
  private val Round = Seq(("graft.pipeline.IncrementalSync$", "runRound"))

  /** Crash `op` at each of its mutating calls in `scope` on a copy of
    * `base`; `check` gets each crashed copy. Returns the call count. */
  private def everyCrash(base: JPath, scope: Seq[(String, String)],
      op: JPath => Unit)(check: (Int, JPath) => Unit): Int =
    FaultFs.installed(spark) {
      FaultFs.arm(scope)(_ => false)
      try op(FaultFs.copyTree(base)) finally FaultFs.disarm()
      val points = FaultFs.mutatingCalls
      (1 to points).foreach { n =>
        val d = FaultFs.copyTree(base)
        assert(FaultFs.crashing(scope)(_.n == n)(op(d)), s"crash $n did not fire")
        check(n, d)
      }
      points
    }

  test("overwriteViaSwap + recoverSwap: every crash point leaves the old or the new snapshot") {
    def snap(d: JPath) = d.resolve("snap").toString
    val oldRows = Seq((1L, "a"), (2L, "b"))
    val newRows = Seq((2L, "B"), (3L, "c"))
    def swap(d: JPath) =
      Sinks.overwriteViaSwap(spark, newRows.toDF("id", "v"), snap(d))
    def read(d: JPath): Set[(Long, String)] = {
      Sinks.recoverSwap(spark, snap(d))
      if (!Files.exists(d.resolve("snap"))) Set.empty
      else spark.read.parquet(snap(d)).as[(Long, String)].collect().toSet
    }
    // first write (no live snapshot) and replacement of a live one
    val first = Files.createTempDirectory("graft_swap_first")
    val second = Files.createTempDirectory("graft_swap_second")
    Sinks.overwriteViaSwap(spark, oldRows.toDF("id", "v"), snap(second))
    for ((base, old) <- Seq(first -> Set.empty[(Long, String)],
        second -> oldRows.toSet)) {
      val points = everyCrash(base, Swap, swap) { (n, d) =>
        // the reader's recovery crashes at its one rename too
        val r = FaultFs.copyTree(d)
        FaultFs.installed(spark) {
          FaultFs.crashing(Recover)(_ => true)(Sinks.recoverSwap(spark, snap(r)))
        }
        Seq(r, d).foreach { c =>
          val seen = read(c)
          assert(seen == old || seen == newRows.toSet, s"crash $n: $seen")
        }
        swap(d)
        assert(read(d) == newRows.toSet, s"crash $n: replay did not converge")
      }
      assert(points >= 4) // the Spark write's own calls, then the swap's
    }
  }

  test("runRound: every crash point leaves the old or the new cursor, never none") {
    val schema = EntitySchemas.managedDeviceSource
    val base = Files.createTempDirectory("graft_round_crash")
    def snap(d: JPath) = d.resolve("snapshot").toString
    def cursor(d: JPath) = d.resolve("cursor").toString
    def rows(d: JPath): Set[(String, String)] = {
      Sinks.recoverSwap(spark, snap(d))
      spark.read.schema(schema).parquet(snap(d)).select("id", "deviceName")
        .as[(String, String)].collect().toSet
    }
    val c1 = IncrementalSync.runRound(spark,
      s"$fixtureRoot/managedDevicesInit/page1.json", schema, snap(base),
      cursor(base)).get
    val oldRows = rows(base)
    def round(d: JPath) =
      IncrementalSync.runRound(spark, c1, schema, snap(d), cursor(d))
    val ref = FaultFs.copyTree(base)
    val c2 = round(ref).get
    val newRows = rows(ref)
    assert(c2 != c1 && newRows != oldRows)
    val points = everyCrash(base, Round, round) { (n, d) =>
      val c = IncrementalSync.loadCursor(spark, cursor(d))
      assert(c.contains(c1) || c.contains(c2), s"crash $n: cursor $c")
      val seen = rows(d)
      assert(seen == oldRows || seen == newRows, s"crash $n: snapshot")
      // the new cursor is saved only after the new snapshot committed
      if (c.contains(c2)) assert(seen == newRows, s"crash $n: cursor ahead")
      else round(d) // the next scheduled run resumes from the old cursor
      assert(IncrementalSync.loadCursor(spark, cursor(d)).contains(c2) &&
        rows(d) == newRows, s"crash $n: replay did not converge")
    }
    assert(points >= 7) // the swap's and the cursor save's calls at least
  }
}
