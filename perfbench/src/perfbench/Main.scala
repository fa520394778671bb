package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Benchmark entry point, started by `perfbench/run.py`:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --corpus DIR --out FILE [--spans FILE]
  *
  * Runs one workload through the program's public functions only and
  * writes its [[Result]] as JSON to `--out`. With `--trace 1` it also
  * records spans and Spark listener attribution, and adds the per-layer
  * metrics. */
object Main {
  val Workloads = Seq("session_stream", "serve", "query_suite")

  def parse(args: Array[String]): (Opts, Option[String]) = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("corpus"), need("out"))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    (o, kv.get("spans"))
  }

  def main(args: Array[String]): Unit = {
    if (args.length == 2 && args(0) == "--oracle-sql") {
      // the suite members' oracle SQL, for perfbench/expected.py
      Files.write(Paths.get(args(1)), Json.value(QuerySuite.oracle)
        .getBytes(StandardCharsets.UTF_8))
      return
    }
    val (o, spansOut) = parse(args)
    Log.mark("jvm up")
    val extra = o.workload match {
      case "session_stream" => SessionStream.Rocks
      case "serve" => Seq("spark.scheduler.mode" -> "FAIR")
      case _ => Nil
    }
    val spark = Session.create(o, extra)
    try {
      Trace.install(spark.sparkContext, o.trace)
      Log.mark("session up")
      val res = o.workload match {
        case "session_stream" => SessionStream.run(spark, o)
        case "serve" => Serve.run(spark, o)
        case "query_suite" => QuerySuite.run(spark, o)
      }
      Log.mark("workload done")
      res.note("peak_rss_mb", Stats.peakRssMb(), "MB")
      if (o.trace) layerMetrics(o, res)
      res.extra("env") = Map(
        "spark" -> spark.version,
        "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "cores" -> Session.Cpus)
      Files.write(Paths.get(o.out), res.toJson.getBytes(StandardCharsets.UTF_8))
      spansOut.foreach(p => Trace.dump(Paths.get(p)))
    } finally spark.stop()
    Log.mark("session stopped")
  }

  /** Per-layer metrics every workload reports, from the spans inside its
    * measured phases and the listener work charged to them. */
  def layerMetrics(o: Opts, res: Result): Unit = {
    Trace.jobs.drain()
    val inPhase = Trace.subtree(_.layer == "phase")
    val w = Trace.jobs.total(inPhase)
    val ops = res.ops.toDouble
    val delays = Trace.jobs.schedDelayMs.asScala.toSeq
      .collect { case (s, d) if inPhase(s) => d.toDouble }
    val phaseMs = Trace.all.filter(_.layer == "phase").map(s => Stats.ms(s.durNs)).sum
    def m(n: String, v: Double, u: String) = res.metric(n, v, u)
    m("ops", ops, "count")
    m("scheduler.jobs", w.jobs.get, "count")
    m("scheduler.stages", w.stages.get, "count")
    m("scheduler.tasks", w.tasks.get, "count")
    m("scheduler.jobs_per_op", w.jobs.get / ops, "count")
    m("scheduler.tasks_per_op", w.tasks.get / ops, "count")
    m("scheduler.delay_ms_p50", if (delays.isEmpty) 0.0 else Stats.median(delays), "ms")
    m("scheduler.delay_ms_p90", if (delays.isEmpty) 0.0 else Stats.pct(delays, 0.9), "ms")
    m("executor.task_s", w.runMs.get / 1e3, "s")
    m("executor.cpu_s", w.cpuNs.get / 1e9, "s")
    m("executor.task_ms_mean", w.runMs.get.toDouble / math.max(1, w.tasks.get), "ms")
    m("executor.shuffle_mb", w.shuffleBytes.get / 1e6, "MB")
    m("executor.input_mb", w.inputBytes.get / 1e6, "MB")
    m("codegen.compile_ms", Trace.codegenInPhases, "ms")
    Seq("coord", "plan", "exec").foreach { k =>
      val xs = res.opSplit.getOrElse(k, Nil)
      m(s"op.${k}_ms_p50", if (xs.isEmpty) 0.0 else Stats.median(xs), "ms")
    }
    m("state.rows", res.state._1, "count")
    m("state.mb", res.state._2, "MB")
    // the Spark-free sessionizer baseline on this seed's generated chunks
    m("inference.session_step_ns_per_chunk", SessionStream.stepNsPerChunk(o.seed), "ns")
    m("trace.spans", Trace.all.size, "count")
    m("trace.overhead_pct", 100.0 * Trace.overheadMs / math.max(1.0, phaseMs), "%")
    res.note("executor.spill_mb", w.spillBytes.get / 1e6, "MB")
    res.note("executor.gc_s", w.gcMs.get / 1e3, "s")
    res.note("trace.overhead_ms", Trace.overheadMs, "ms")
    res.note("trace.phase_ms", phaseMs, "ms")
  }
}
