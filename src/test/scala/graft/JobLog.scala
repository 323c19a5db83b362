package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ListenerBusBridge

/** The Spark jobs a block of engine code starts, for the job-count
  * specs: every job submitted from the calling thread, or from a thread
  * that carries its local properties (a stream's execution thread
  * started from it, AQE's query-stage submissions). */
object JobLog {

  /** One job: its final stage's short call site (`<method> at
    * <file>:<line>`) and the first line of its long one, the last Spark
    * method before engine code. */
  final case class Job(site: String, sparkMethod: String) {
    /** Started while a read was being built: schema inference. */
    def inference: Boolean =
      site.startsWith("parquet at") && sparkMethod.contains("DataFrameReader")
  }

  def during[T](spark: SparkSession)(body: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val tag = s"graft.spec.jobs.${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(tag) != null)) {
          val last = e.stageInfos.maxBy(_.stageId)
          jobs.add(Job(last.name,
            last.details.linesIterator.nextOption().getOrElse("")))
        }
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "1")
    try {
      val out = body
      assert(ListenerBusBridge.drain(sc), "listener events arrived late")
      import scala.jdk.CollectionConverters._
      (out, jobs.asScala.toSeq)
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }
}
