package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block starts, seen through a listener. The listener
  * bus is FIFO, so a 1-partition sentinel job run after the block, once
  * its own start event has arrived, proves every job the block started
  * has been seen; a sentinel before the block drains earlier events. */
object JobWatch {

  /** A started job: its [[Materialize.Property]] label ("" when it has
    * none) and its stage names. */
  final case class Job(label: String, stages: String)

  private val Sentinel = "job-watch-sentinel"

  def during[T](spark: SparkSession)(f: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[Job]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
        val label =
          if (prop("spark.job.description").contains(Sentinel)) Sentinel
          else prop(Materialize.Property).getOrElse("")
        jobs.add(Job(label, j.stageInfos.map(_.name).mkString("|")))
        ()
      }
    }
    def sentinel(): Unit = {
      val before = jobs.asScala.count(_.label == Sentinel)
      sc.setJobDescription(Sentinel)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000
      while (jobs.asScala.count(_.label == Sentinel) <= before &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(5)
    }
    sc.addSparkListener(listener)
    try {
      sentinel()
      jobs.clear()
      val out = f
      sentinel()
      (out, jobs.asScala.toSeq.filterNot(_.label == Sentinel))
    } finally sc.removeSparkListener(listener)
  }
}
