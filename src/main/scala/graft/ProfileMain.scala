package graft

import org.apache.spark.scheduler._

/** Optimization-round measurement harness (guide §1: measure first).
  *
  * Runs a comma-separated subset of the declared queries (arg 2; default
  * the full suite) against `SPARK_GRAFT_SF_DIR` with the exact Bench
  * session config and noop-sink methodology, and prints ONE line per
  * query with the empirical cost drivers the Spark UI would show:
  * wall seconds, job count, stage count, task count, shuffle read/write
  * bytes, and input bytes. Jobs launched during query CONSTRUCTION
  * (driver-coordinated fixpoints) are counted separately from the final
  * noop-sink action so the fixpoint tax is visible.
  *
  * Usage: runMain graft.ProfileMain [sfDir] [name,name,...] [passes]
  */
object ProfileMain {
  private class Acc extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0L
    @volatile var shufRead = 0L
    @volatile var shufWrite = 0L
    @volatile var input = 0L
    @volatile var runMs = 0L
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages += 1
      tasks += s.stageInfo.numTasks
      val m = s.stageInfo.taskMetrics
      if (m != null) {
        shufRead += m.shuffleReadMetrics.totalBytesRead
        shufWrite += m.shuffleWriteMetrics.bytesWritten
        input += m.inputMetrics.bytesRead
        runMs += m.executorRunTime
      }
    }
    def snap: (Int, Int, Long, Long, Long, Long, Long) =
      (jobs, stages, tasks, shufRead, shufWrite, input, runMs)
  }

  /** Cumulative driver-side Janino compile wall from Spark's codegen
    * metrics source (mean×count over the histogram — close enough for
    * per-query deltas). */
  private def codegenMs: Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    h.getSnapshot.getMean * h.getCount / 1e6
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val selected = SparkEntry.select(args.lift(1))
    val passes = if (args.length > 2) args(2).toInt else 1
    val spark = GraftSession.local().getOrCreate()
    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)
    // Warmup identical to Bench so JIT/footer costs don't land on query 1.
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000)
      .write.format("noop").mode("overwrite").save()
    spark.range(1000000L).selectExpr("sum(id)").collect()
    println("name\tsec\tbuild_s\tplan_s\texec_s\tcodegen_s\ttask_s\tjobs_build\tjobs_run\tstages\ttasks\tshuf_rd_mb\tshuf_wr_mb\tinput_mb")
    for ((name, fn) <- selected) {
      val best = (1 to passes).map { _ =>
        val (j0, s0, t0, r0, w0, i0, m0) = acc.snap
        val cg0 = codegenMs
        val tA = System.nanoTime()
        val df = fn(spark, sfDir)
        val tB = System.nanoTime()
        val (jB, _, _, _, _, _, _) = acc.snap
        // force analysis + optimization + physical planning (codegen
        // still happens at execute) so driver planning time is split out
        df.queryExecution.executedPlan
        val tC = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - tA) / 1e9
        // listener events are async — give the bus a moment to drain
        Thread.sleep(300)
        val (j1, s1, t1, r1, w1, i1, m1) = acc.snap
        (sec, (tB - tA) / 1e9, (tC - tB) / 1e9,
          (System.nanoTime() - tC) / 1e9 - 0.3,
          (codegenMs - cg0) / 1e3, (m1 - m0) / 1e3,
          jB - j0, j1 - jB, s1 - s0, t1 - t0,
          (r1 - r0) / 1e6, (w1 - w0) / 1e6, (i1 - i0) / 1e6)
      }.minBy(_._1)
      println(f"$name\t${best._1}%.2f\t${best._2}%.2f\t${best._3}%.2f\t${best._4}%.2f\t${best._5}%.2f\t${best._6}%.2f\t${best._7}\t${best._8}\t${best._9}\t${best._10}\t${best._11}%.1f\t${best._12}%.1f\t${best._13}%.1f")
    }
    spark.stop()
  }
}
