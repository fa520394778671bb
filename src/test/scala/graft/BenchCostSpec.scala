package graft

import graft.observability.JobWatch

/** Pins the per-query `cost` split Bench records through [[JobWatch]]:
  * construction jobs are told from the action's by their
  * [[Materialize]] label, planning is read from the write's own
  * `QueryExecution` (so a second planning cannot hide in `exec_s`), the
  * field names are fixed, and only a full run at the reference scale
  * writes the round's record. */
class BenchCostSpec extends SparkSpec {

  private def cost(name: String): JobWatch.Cost = {
    val watch = new JobWatch(spark)
    try Bench.timeQuery(watch, spark, sf0001, SparkEntry.queries(name))
    finally watch.close()
  }

  private def phasesFit(name: String, c: JobWatch.Cost): Unit = {
    assert(c.planS > 0, s"$name: $c")
    assert(c.buildS + c.planS <= c.wallS, s"$name: $c")
    assert(c.execS >= 0 && c.stages >= 1 && c.tasks >= 1 && c.taskS > 0,
      s"$name: $c")
  }

  test("a construction that materializes reports its jobs as build jobs") {
    val c = cost("q151_semantic_dedup")
    assert(c.jobsBuild >= 1, c.toString)
    assert(c.jobsRun >= 1, c.toString)
    phasesFit("q151", c)
  }

  test("a lazy construction reports no build job and the write's jobs as run jobs") {
    val c = cost("q01_pricing_summary")
    assert(c.jobsBuild == 0, c.toString)
    assert(c.jobsRun >= 1, c.toString)
    phasesFit("q01", c)
  }

  test("cost field names are pinned") {
    val c = JobWatch.Cost(0.25, 0.125, 0.625, 0.5, 2.0, 1, 2, 3, 4L,
      1.0, 2.0, 3.0, 0.0)
    assert(c.fields.map(_._1) == Seq("build_s", "plan_s", "exec_s",
      "codegen_s", "task_s", "jobs_build", "jobs_run", "stages", "tasks",
      "shuffle_read_mb", "shuffle_write_mb", "input_mb", "spill_mb"))
    assert(c.json == """{"build_s":0.250,"plan_s":0.125,"exec_s":0.625,""" +
      """"codegen_s":0.500,"task_s":2.000,"jobs_build":1,"jobs_run":2,""" +
      """"stages":3,"tasks":4,"shuffle_read_mb":1.000,""" +
      """"shuffle_write_mb":2.000,"input_mb":3.000,"spill_mb":0.000}""")
  }

  test("only an unfiltered run at the reference scale writes the record") {
    assert(Bench.writesRecord(filtered = false, BenchRef.sf))
    assert(!Bench.writesRecord(filtered = true, BenchRef.sf))
    assert(!Bench.writesRecord(filtered = false, "sf0.001"))
    assert(!Bench.writesRecord(filtered = true, "sf0.01"))
  }
}
