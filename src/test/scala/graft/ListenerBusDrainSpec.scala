package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.graftbridge.ListenerBusBridge
import scala.collection.mutable

class ListenerBusDrainSpec extends SparkSpec {

  test("after a job and one drain, a listener has seen its job end and task time") {
    val sc = spark.sparkContext
    val tag = "graft.spec.drain"
    val started, ended, stages = mutable.Set[Int]()
    val runMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(tag) != null))
          synchronized { started += e.jobId; stages ++= e.stageIds }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        synchronized { ended += e.jobId }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && synchronized(stages.contains(e.stageId)))
          runMs.addAndGet(e.taskMetrics.executorRunTime)
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "1")
    try {
      sc.parallelize(1 to 4, 4).map { i => Thread.sleep(50); i }.count()
      assert(ListenerBusBridge.drain(sc))
      listener.synchronized {
        assert(started.size == 1)
        assert(started.subsetOf(ended))
      }
      assert(runMs.get() > 0)
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }
}
