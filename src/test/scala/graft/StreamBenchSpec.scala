package graft

/** The streaming-flagship measurement path: StreamBench must drive the
  * real sessionizer through a file-source stream under the RocksDB
  * state store and produce sane telemetry (every event counted once,
  * multiple genuine triggers, nonzero quantiles). Uses sf0.001 so the
  * spec stays in test-suite time budget. */
class StreamBenchSpec extends SparkSpec {

  test("stream bench: all events flow once, multi-trigger, RocksDB state") {
    val before = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    val confBefore = spark.conf.getAll
    val r = StreamBench.run(spark, sf0001,
      workDir = "/tmp/graft_stream_bench_spec",
      stageFiles = 6, filesPerTrigger = 1)
    val nEvents = spark.read.parquet(s"$sf0001/events.parquet").count()
    assert(r.rows == nEvents, s"rows ${r.rows} != events $nEvents")
    assert(r.batches >= 3, s"expected multiple triggers, got ${r.batches}")
    assert(r.epsSustained > 0 && r.epsWall > 0)
    assert(r.p50Ms > 0 && r.p99Ms >= r.p50Ms)
    assert(r.triggerSumSec <= r.wallSec + 0.001)
    // run() opts into the production provider for its own query but
    // must RESTORE the caller's session conf on exit (leaking it would
    // silently change every later streaming spec in this JVM)
    assert(spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass") == before,
      "StreamBench leaked the state-store provider conf")
    // nor write Spark's defaults back as explicit settings
    val confAfter = spark.conf.getAll
    val changed = (confAfter.toSet diff confBefore.toSet) ++
      (confBefore.toSet diff confAfter.toSet)
    assert(changed.isEmpty, s"session conf changed: $changed")
  }

  test("knee search steps offered load and stops at the first break") {
    val k = StreamBench.kneeSearch(spark, sf0001,
      workDir = "/tmp/graft_stream_knee_spec",
      stageFilesSteps = Seq(6, 3), runsPerStep = 1)
    assert(k.steps.nonEmpty, "no steps measured")
    // every measured step is a real run
    for (st <- k.steps) {
      assert(st.result.batches > 0 && st.result.rows > 0, s"empty: $st")
      assert(st.result.epsSustained > 0, s"unmeasured: $st")
    }
    // walk shape: an upward walk stops at its FIRST breaking step (at
    // most one break recorded, and only as the last step); when the
    // first step already breaks, the search extends DOWNWARD instead —
    // then every step breaks except (at most) the final passing one
    if (k.steps.head.result.p50Ms <= 300L) {
      assert(k.steps.count(_.result.p50Ms > 300L) <= 1, s"${k.steps}")
      if (k.steps.exists(_.result.p50Ms > 300L))
        assert(k.steps.last.result.p50Ms > 300L, s"${k.steps}")
    } else {
      assert(k.steps.count(_.result.p50Ms <= 300L) <= 1, s"${k.steps}")
      if (k.steps.exists(_.result.p50Ms <= 300L))
        assert(k.steps.last.result.p50Ms <= 300L, s"${k.steps}")
    }
    // knee fields are consistent: either no step passed (all zeros) or
    // the knee is a passing step's numbers
    if (k.kneeEps > 0) {
      assert(k.kneeP50Ms <= 300L, s"knee past target: $k")
      assert(k.steps.exists(s => s.stageFiles == k.kneeStageFiles &&
        s.result.p50Ms == k.kneeP50Ms), s"knee not among steps: $k")
      // bracketed iff some step also BROKE the target
      assert(k.bracketed == k.steps.exists(_.result.p50Ms > 300L))
    } else assert(k.kneeStageFiles == 0 && k.kneeP50Ms == 0L && !k.bracketed)
  }

  test("budget path: exhausted deadline skips work but never loses the artifact") {
    // a deadline already in the past: the sweep measures nothing
    // (every point is optional), and the knee search records an empty,
    // explicitly-exhausted walk instead of dying mid-phase — the r16
    // driver bench was killed exactly here (VERDICT r16 #1)
    val past = System.nanoTime() - 1L
    assert(StreamBench.sweep(spark, sf0001, deadlineNs = past,
      estRunSec = 1.0).isEmpty)
    val k = StreamBench.kneeSearch(spark, sf0001,
      workDir = "/tmp/graft_stream_knee_budget",
      stageFilesSteps = Seq(6, 3), runsPerStep = 1, deadlineNs = past)
    assert(k.steps.isEmpty && k.kneeEps == 0.0 && !k.bracketed)
    assert(k.exhausted, "a budget-cut walk must say so")
    // the primary stream measurement is NOT optional: runMedian3 under
    // the same dead budget still lands exactly one real run (the
    // caller gates entering the phase; once entered, one measurement
    // always exists so stream_eps is real, not zero)
    val r = StreamBench.runMedian3(spark, sf0001,
      workDir = "/tmp/graft_stream_bench_budget", deadlineNs = past)
    assert(r.rows > 0 && r.batches > 0 && r.epsSustained > 0)
    // and an unconstrained walk is NOT exhausted (sentinel deadline)
    val full = StreamBench.kneeSearch(spark, sf0001,
      workDir = "/tmp/graft_stream_knee_full",
      stageFilesSteps = Seq(3), downwardSteps = Seq.empty,
      p50TargetMs = Long.MaxValue / 2, runsPerStep = 1)
    assert(!full.exhausted, s"$full")
  }

  test("knee search: degraded-box downward path and unbracketed-pass flag") {
    // an unreachable target (1 ms): the FIRST step breaks, so the
    // search extends DOWNWARD (VERDICT r15 #2 — a degraded box must
    // try lower offered load instead of recording knee = 0 after one
    // step); here the downward step breaks too, so the artifact says
    // "no knee measurable" explicitly: eps 0, not bracketed
    val broke = StreamBench.kneeSearch(spark, sf0001,
      workDir = "/tmp/graft_stream_knee_down",
      stageFilesSteps = Seq(2), downwardSteps = Seq(4),
      p50TargetMs = 1L, runsPerStep = 1)
    assert(broke.steps.map(_.stageFiles) == Seq(2, 4),
      s"downward step not taken: ${broke.steps.map(_.stageFiles)}")
    assert(broke.kneeEps == 0.0 && !broke.bracketed)
    // an unmissable target: every step passes — a knee value exists
    // (the best passing step) but it is NOT claimed as bracketed,
    // because no breaking step bounds it from above
    val pass = StreamBench.kneeSearch(spark, sf0001,
      workDir = "/tmp/graft_stream_knee_pass",
      stageFilesSteps = Seq(6, 3), downwardSteps = Seq.empty,
      p50TargetMs = Long.MaxValue / 2, runsPerStep = 1)
    assert(pass.kneeEps > 0 && !pass.bracketed, s"$pass")
    assert(pass.steps.size == 2, "search must walk the whole grid when nothing breaks")
  }
}
