package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Bounds the Spark jobs a query's CONSTRUCTION may launch, for queries
  * that NoEagerActionSpec exempts because they collect bounded frames
  * at build time. The exemption says jobs are allowed; this says how
  * many, so a fold that regresses shows up as a count, not a wall.
  *
  * q197 collects three centroid frames (c0, c1, c2: k·dims rows each)
  * and nothing else — its memberships and probe cells are kernel
  * columns. Each collect is one aggregation: a shuffle-map job plus a
  * result job. With the embeddings footer read that is 7 jobs; the
  * bound of 8 leaves one job of headroom. The chain of localCheckpoint
  * joins it replaced launched 45.
  */
class ConstructionJobsSpec extends SparkSpec {

  /** Jobs started while `f` runs, counted through a FIFO listener and a
    * closing sentinel job (the NoEagerActionSpec mechanics). */
  private def jobsDuring(f: => Unit): Seq[String] = {
    val names = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        names.add(j.stageInfos.map(_.name).mkString("|")); ()
      }
    }
    def sentinel(): Unit = {
      val before = names.size
      spark.sparkContext.setJobDescription("construction-jobs-sentinel")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000
      while (names.size <= before && System.currentTimeMillis() < deadline)
        Thread.sleep(5)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      sentinel()
      names.clear()
      f
      sentinel()
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    names.asScala.toSeq.dropRight(1)
  }

  test("q197 construction launches at most 8 jobs (three centroid collects)") {
    val q = SparkEntry.queries("q197_ann_retrain_recall")
    q(spark, sf0001).schema // warm: registration, table metadata
    val jobs = jobsDuring(q(spark, sf0001).schema)
    assert(jobs.size <= 8,
      s"q197 construction launched ${jobs.size} jobs: ${jobs.mkString("; ")}")
  }
}
