package graft.tools

import graft.{SparkEntry, SparkSpec}

class ExplainSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("profile: rows match a direct count and every job is complete") {
    val p = Explain.profile(spark, sf, "q01_filter_project")
    assert(p.rows == SparkEntry.queries("q01_filter_project")(spark, sf).count())
    assert(p.drained)
    assert(p.jobs.nonEmpty)
    p.jobs.foreach { j =>
      assert(j.completed >= j.submitted, s"job ${j.id} has no end")
      assert(j.stages > 0 && j.tasks > 0, s"job ${j.id}: $j")
    }
    assert(p.totalSec >= p.buildSec && p.buildSec >= 0)
    assert(p.plan.contains("Scan parquet"), p.plan)
    val lines = Explain.report(p)
    assert(lines.count(_.startsWith("[job] ")) == p.jobs.size)
    assert(lines.last.contains("sum(job walls)="))
  }

  test("profile: a query profiled again compiles no generated class") {
    Explain.profile(spark, sf, "q01_filter_project")
    val again = Explain.profile(spark, sf, "q01_filter_project")
    assert(again.compiles == 0, again)
    assert(again.compileSec == 0.0)
    assert(Explain.report(again).exists(l =>
      l.startsWith("[q01_filter_project] rows=") && l.contains(" compiles=0 ")))
    assert(!Explain.report(again).exists(_.contains("classes compiled")))
  }

  test("warm-up runs on a sibling SF directory, never the profiled one") {
    val siblings = Option(new java.io.File(sf).getParentFile.listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName != "sf0.001" &&
        new java.io.File(f, "documents.parquet").exists())
    val warm = Explain.siblingWarmDir(sf)
    if (siblings.nonEmpty) {
      assert(warm.isDefined)
      assert(new java.io.File(warm.get).getAbsolutePath !=
        new java.io.File(sf).getAbsolutePath)
      assert(Explain.warmUp(spark, sf, Seq("q01_filter_project")).isEmpty)
    } else assert(warm.isEmpty)
  }
}
