package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}

/** `query_suite`: fixed members of `SparkEntry.queries`, one at a time,
  * in a fixed order. The cheapest members run first: in a fresh JVM the
  * first queries also pay for JIT and codegen warm-up, and a seeded order
  * moved that cost between members from run to run.
  *
  *  - set-up: scan every corpus table through the program's `Tables`
  *    readers (`events` also normalizes its timestamps) to a noop sink,
  *    three times; the median is reported;
  *  - pass: each member is constructed (driver-side, including any jobs
  *    the construction runs), planned and executed, writing its rows as
  *    parquet; one pass;
  *  - checks: the caller compares each member's rows with DuckDB's answer
  *    to `SparkEntry.oracleSql` on the same corpus. */
object QuerySuite {
  /** Execution-bound: q01, q15, q168. Construction-bound: q151, q197. */
  val Members: Seq[String] = Seq("q01_pricing_summary", "q15_transcript_assembly",
    "q151_semantic_dedup", "q168_containment_neardup", "q197_ann_retrain_recall")
  val CorpusTables: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings,
    "events" -> Tables.events, "lineitem" -> Tables.lineitem)

  final case class Split(name: String, constructNs: Long, planNs: Long,
      execNs: Long) {
    def wallNs: Long = constructNs + planNs + execNs
  }

  def oracle: Map[String, String] = {
    val sql = SparkEntry.oracleSql
    Members.map(n => n -> sql.getOrElse(n, "")).toMap
  }

  def run(spark: SparkSession, o: Opts): Result = {
    val res = new Result("query_suite")
    val setups = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      CorpusTables.foreach { case (t, read) =>
        Trace.span("tables", s"$t.scan") {
          read(spark, o.corpus).write.format("noop").mode("overwrite").save()
        }
      }
      (System.nanoTime() - t0) / 1e9
    }
    res.metric("setup_s", Stats.median(setups), "s")

    val out = s"${o.work}/suite_out"
    val entries = SparkEntry.queries
    val pass = Trace.phase("pass") {
      Members.map { name =>
        Trace.span("queries", name, name) {
          val t0 = System.nanoTime()
          val df = Trace.span("queries", s"$name.construct", name) {
            entries(name)(spark, o.corpus)
          }
          val t1 = System.nanoTime()
          Trace.span("catalyst", s"$name.plan", name)(df.queryExecution.executedPlan)
          val t2 = System.nanoTime()
          Trace.span("executor", s"$name.exec", name) {
            df.write.mode("overwrite").parquet(s"$out/$name")
          }
          Split(name, t1 - t0, t2 - t1, System.nanoTime() - t2)
        }
      }
    }
    res.extra("oracle") = oracle
    res.extra("outputs") = out
    res.check(oracle.values.forall(_.nonEmpty), "a suite member has no oracle SQL")
    res.attempted = pass.size

    val walls = pass.map(s => Stats.ms(s.wallNs))
    val total = pass.map(_.wallNs).sum / 1e9
    res.metric("lat_p50_ms", Stats.median(walls), "ms")
    res.metric("lat_tail_ms", walls.max, "ms")
    res.metric("throughput_per_s", pass.size / total, "1/s")
    res.note("suite_total_s", total, "s")

    if (o.trace) {
      Trace.jobs.drain()
      pass.foreach { s =>
        val q = s.name.takeWhile(_ != '_')
        val w = Trace.jobs.total(Trace.subtree(_.req == s.name))
        val cw = Trace.jobs.total(Trace.subtree(x =>
          x.req == s.name && x.name == s"${s.name}.construct"))
        res.note(s"queries.$q.construct_s", s.constructNs / 1e9, "s")
        res.note(s"queries.$q.plan_s", s.planNs / 1e9, "s")
        res.note(s"queries.$q.exec_s", s.execNs / 1e9, "s")
        res.note(s"queries.$q.jobs", w.jobs.get.toDouble, "count")
        res.note(s"queries.$q.construct_jobs", cw.jobs.get.toDouble, "count")
      }
      res.ops = pass.size
      res.opSplit = Map(
        "coord" -> pass.map(s => Stats.ms(s.constructNs)),
        "plan" -> pass.map(s => Stats.ms(s.planNs)),
        "exec" -> pass.map(s => Stats.ms(s.execNs)))
    }
    res
  }
}
