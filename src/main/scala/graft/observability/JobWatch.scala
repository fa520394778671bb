package graft.observability

import java.util.Locale
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker.{OPTIMIZATION, PLANNING}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Materialize

/** The Spark jobs a block starts, and what they cost, through one
  * listener on the session. The listener bus is FIFO, so once a sentinel
  * job run after a block has had its start event seen, so has every
  * event of the block. The sentinel has no partitions (its start event
  * is posted at once, with no stage) and also opens the next block. */
final class JobWatch(spark: SparkSession) extends AutoCloseable {
  import JobWatch._

  private val sc = spark.sparkContext
  private val events = new ConcurrentLinkedQueue[Event]()
  private val sentinels = new AtomicInteger

  private val jobListener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
      if (prop(JobDescription).contains(Sentinel)) sentinels.incrementAndGet()
      else events.add(Job(prop(Materialize.Property).getOrElse(""),
        j.stageInfos.map(_.name).mkString("|")))
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      if (s.stageInfo.taskMetrics != null)
        events.add(Stage(s.stageInfo.numTasks, s.stageInfo.taskMetrics))
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val phases = Seq(OPTIMIZATION, PLANNING).flatMap(qe.tracker.phases.get)
      if (phases.nonEmpty)
        events.add(Planned(phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  sc.addSparkListener(jobListener)
  spark.listenerManager.register(planListener)
  drain()

  def close(): Unit = {
    spark.listenerManager.unregister(planListener)
    sc.removeSparkListener(jobListener)
  }

  /** Runs the sentinel and returns every event queued before it. */
  private def drain(): Seq[Event] = {
    val before = sentinels.get
    val description = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(Sentinel)
    try sc.emptyRDD[Unit].count()
    finally sc.setJobDescription(description)
    val deadline = System.currentTimeMillis() + 30000
    while (sentinels.get == before && System.currentTimeMillis() < deadline)
      Thread.sleep(2)
    Iterator.continually(events.poll()).takeWhile(_ != null).toSeq
  }

  /** Times `build`, then `run` on its frame: `build_s`, then `plan_s`
    * (optimization + planning read from the run's own `QueryExecution`s)
    * and `exec_s`, the rest. [[Materialize]]-labelled jobs are build jobs. */
  def measure(build: => DataFrame)(run: DataFrame => Unit): Cost = {
    val cg0 = CodeGenerator.compileTime
    val t0 = System.nanoTime()
    var (tB, builtMs) = (0L, 0L)
    try run {
      val df = build
      tB = System.nanoTime()
      builtMs = System.currentTimeMillis()
      df
    } catch { case e: Throwable => drain(); throw e }
    val (wallS, buildS) = ((System.nanoTime() - t0) / 1e9, (tB - t0) / 1e9)
    val codegenS = (CodeGenerator.compileTime - cg0) / 1e9
    val seen = drain()
    val jobs = seen.collect { case j: Job => j }
    val stages = seen.collect { case s: Stage => s }
    def mb(f: TaskMetrics => Long) = stages.map(s => f(s.m)).sum / 1e6
    // phases are whole milliseconds; they never outlast the run
    val planS = math.min(wallS - buildS,
      seen.collect { case p: Planned if p.startMs >= builtMs => p.ms }.sum / 1e3)
    Cost(buildS, planS, wallS - buildS - planS, codegenS,
      stages.map(_.m.executorRunTime).sum / 1e3,
      jobs.count(_.label.nonEmpty), jobs.count(_.label.isEmpty),
      stages.size, stages.map(_.tasks.toLong).sum,
      mb(_.shuffleReadMetrics.totalBytesRead),
      mb(_.shuffleWriteMetrics.bytesWritten), mb(_.inputMetrics.bytesRead),
      mb(_.diskBytesSpilled))
  }
}

object JobWatch {

  sealed trait Event

  /** A started job: its [[Materialize.Property]] label ("" when it has
    * none) and its stage names. */
  final case class Job(label: String, stages: String) extends Event
  private final case class Stage(tasks: Int, m: TaskMetrics) extends Event
  private final case class Planned(startMs: Long, ms: Long) extends Event

  private val Sentinel = "job-watch-sentinel"
  private val JobDescription = "spark.job.description"

  /** One block's wall split into build, plan and exec, with the codegen
    * compile and executor task seconds it spent (summed over threads,
    * so either may exceed the wall) and its disk spill.
    *
    * `inputMb` is Spark's `inputMetrics.bytesRead`, which it takes from
    * Hadoop's `FileSystem.Statistics`. Parquet 1.16 reads column chunks
    * through Hadoop vectored IO (`parquet.hadoop.vectored.io.enabled`,
    * on by default), and on the local file system those reads bypass
    * the statistics: only the footer reads count. A full scan of the
    * sf0.1 `lineitem.parquet` (10.8 MB, 600,000 rows) reports 11,894
    * bytes; with vectored IO off it reports 10,823,715, and 4,239,834
    * for two of its columns. So a parquet scan here reads as a few KB,
    * whatever it reads. */
  final case class Cost(buildS: Double, planS: Double, execS: Double,
      codegenS: Double, taskS: Double, jobsBuild: Int, jobsRun: Int,
      stages: Int, tasks: Long, shuffleReadMb: Double,
      shuffleWriteMb: Double, inputMb: Double, spillMb: Double) {
    def wallS: Double = buildS + planS + execS

    /** (snake_case field name, value), in declaration order. */
    def fields: Seq[(String, Any)] = productElementNames
      .map(_.replaceAll("([A-Z])", "_$1").toLowerCase).zip(productIterator).toSeq

    def json: String = fields.map {
      case (k, v: Double) => "\"%s\":%.3f".formatLocal(Locale.ROOT, k, v)
      case (k, v) => s""""$k":$v"""
    }.mkString("{", ",", "}")
  }

  /** The jobs `f` starts, through a watch that lives for the call. */
  def during[T](spark: SparkSession)(f: => T): (T, Seq[Job]) = {
    val watch = new JobWatch(spark)
    try {
      val out = f
      (out, watch.drain().collect { case j: Job => j })
    } finally watch.close()
  }
}
