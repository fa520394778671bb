package graft

import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.observability.JobWatch

object Bench {
  /** Fixed membership of the compact stdout line's "queries" map: the
    * flagship, every fixpoint/capstone, the banded-LSH family, and the
    * round-8 regression watch (q31). Fixed so the parsed per-query
    * numbers are comparable round over round; the FULL 158-query
    * min+median detail goes to BENCH_DETAIL.json / target/bench_last
    * .json (the driver's stdout capture is the last 2000 chars — a
    * full map does not fit, which is why BENCH_r0{3..6,8} all record
    * parsed:null). */
  private val Headline = Set(
    "q01_pricing_summary", "q15_transcript_assembly", "q29_lsh_near_dup",
    "q31_trigram_jaccard", "q62_embedding_near_dup", "q78_dup_clusters",
    "q102_morphology_probe", "q109_passage_dedup",
    "q115_exact_substring_dedup", "q144_similarity_histogram",
    "q148_ivfpq_rerank", "q150_dedup_materialize", "q151_semantic_dedup",
    "q155_banding_recall", "q157_corpus_build",
    // round-11: the suite's most expensive query (two-generator
    // containment), the shipping-manifest capstone, and the
    // cell-scaled semdedup (the cells ∝ n knob)
    "q168_containment_neardup", "q171_shipping_manifest",
    "q172_cellscaled_semdedup")

  /** Load factor of a run vs the pinned healthy reference: the MEDIAN
    * per-query time ratio over the common queries (VERDICT r14 #1 —
    * the method the round-12..14 verdicts applied by hand to separate
    * box regime from code regressions, mechanized). Median, not mean:
    * a few genuinely regressed (or improved) queries cannot move the
    * median of ~196 ratios, while uniform box load moves every ratio
    * together — so raw ÷ medianRatio is comparable across box regimes
    * and still exposes real per-query regressions in the detail map.
    * Queries under `floorSec` on either side are excluded (sub-50 ms
    * timings are scheduling noise, though the result is insensitive:
    * the retro-validation read identical totals at floors 0-0.05 s).
    * None when fewer than `minCommon` queries overlap — a ratio from a
    * thin common set (suite renamed, wrong sf) would mislead. */
  def medianRatio(run: Map[String, Double], ref: Map[String, Double],
      floorSec: Double = 0.05, minCommon: Int = 20): Option[Double] =
    ratios(run, ref, floorSec, minCommon).map { r =>
      if (r.size % 2 == 1) r(r.size / 2)
      else (r(r.size / 2 - 1) + r(r.size / 2)) / 2
    }

  /** (p25, p75) of the same per-query ratio vector (nearest-rank, the
    * StreamBench quantile convention) — VERDICT r15 #3: the median
    * alone cannot tell a reader whether a high normalized total means
    * "the suite regressed" (a few ratios far above a tight band —
    * spread WIDE) or "the box degraded non-uniformly" (the whole
    * vector shifted but unevenly — spread wide TOO, but around a high
    * median). Emitting the quartiles beside the median makes the
    * stored artifact self-describing: tight spread + high median =
    * uniform box load (trust the normalization); wide spread = read
    * the per-query detail before concluding anything. */
  def ratioQuartiles(run: Map[String, Double], ref: Map[String, Double],
      floorSec: Double = 0.05, minCommon: Int = 20)
      : Option[(Double, Double)] =
    ratios(run, ref, floorSec, minCommon)
      .map(r => (StreamBench.pct(r, 0.25), StreamBench.pct(r, 0.75)))

  /** The ascending run/ref time ratios of the queries both maps hold
    * above `floorSec`; None when fewer than `minCommon` remain. */
  private def ratios(run: Map[String, Double], ref: Map[String, Double],
      floorSec: Double, minCommon: Int): Option[IndexedSeq[Double]] =
    Some(run.toIndexedSeq.flatMap { case (k, v) =>
      ref.get(k).filter(r => r > floorSec && v > floorSec).map(v / _)
    }.sorted).filter(_.size >= minCommon)

  /** Per-query (min, lowerMedian) over however many timing passes the
    * wall-clock budget allowed (VERDICT r16 #1). With the full three
    * passes this is exactly the historical min+median; with two it
    * degrades to (min, min) — the lower median, never a best-of-N
    * inflation — and with one pass min = med = the only sample. A
    * query that failed in ANY pass reports (-1, -1): a silent failure
    * must not corrupt the totals. */
  def aggregatePasses(passes: Seq[Map[String, Double]])
      : Map[String, (Double, Double)] =
    passes.head.keys.map { k =>
      val vs = passes.map(_.getOrElse(k, -1.0))
      if (vs.exists(_ < 0)) k -> (-1.0, -1.0)
      else {
        val s = vs.sorted
        k -> (s.head, s((s.size - 1) / 2))
      }
    }.toMap

  /** ADVICE r16 #2: the knee number is comparable across rounds only
    * when the search bracketed it AND the box regime is MEASURED
    * near-healthy. `exists` (not `forall`): an unavailable ratio
    * (non-sf0.1 run, thin common set) is "box regime unknown", which
    * must not read as healthy. */
  def kneeReliable(bracketed: Boolean, ratioOpt: Option[Double]): Boolean =
    bracketed && ratioOpt.exists(_ <= 1.15)

  /** Only a run of every query at the reference scale writes the
    * round's record (BENCH_DETAIL.json, a BENCH_HISTORY.jsonl line). */
  def writesRecord(filtered: Boolean, sfName: String): Boolean =
    !filtered && sfName == BenchRef.sf

  /** One timed query: its construction, then a noop write (count()
    * would let Catalyst prune a select-only query's per-row work). */
  def timeQuery(watch: JobWatch, spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => DataFrame): JobWatch.Cost =
    watch.measure(fn(spark, sfDir))(
      _.write.format("noop").mode("overwrite").save())

  /** Usage: runMain graft.Bench [name,name,...]. A filter times only
    * those queries, skipping the isolated flagship and streaming. */
  def main(args: Array[String]): Unit = {
    val selected = SparkEntry.select(args.headOption)
    val filtered = args.headOption.exists(_.nonEmpty)
    // Wall-clock budget (VERDICT r16 #1): the driver kills the bench
    // at ~60 min; r16's run died mid-knee-search with NOTHING emitted
    // (rc 124, parsed null). Every phase after the first timing pass
    // is now gated on the remaining budget, and the compact line
    // ALWAYS prints — with explicit `skipped` flags for what the
    // budget couldn't afford. Default 3000 s leaves ~10 min of driver
    // headroom for sbt/JVM startup and session teardown.
    val budgetS =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "3000").toLong
    val benchT0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - benchT0) / 1e9
    val deadlineNs = benchT0 + budgetS * 1000000000L
    // Streaming phases stop short of the hard deadline so the JSON emit
    // always fits.
    val TailReserveNs = 30L * 1000000000L
    def fitsPhase(estSec: Double): Boolean =
      StreamBench.fits(deadlineNs - TailReserveNs, estSec)
    val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local().getOrCreate()
    Tables.logEventTsSchema(spark, sfDir, "bench")
    // q11 ranks the ≤100 survivors of a TakeOrderedAndProject with an
    // unpartitioned window — a gated exception (WinScanSpec) that is
    // scale-safe by construction, but WindowExec logs "No Partition
    // Defined" on every run and the repeated WARN makes bench tails look
    // scarier than they are. Silence that one category; anything else at
    // WARN still surfaces.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // Warmup: initialize Hadoop FS, parquet footers, and codegen paths so
    // the first timed query isn't charged session startup.
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000)
        .write.format("noop").mode("overwrite").save()
      spark.range(1000000L).selectExpr("sum(id)").collect()
    } catch { case _: Throwable => () }
    // ISOLATED flagship (VERDICT r13 #3): q15's throughput measured
    // FIRST — suite-fresh (before the 196-query suite runs, same JVM as
    // the warmup block above) — so the number the rounds compare is
    // free of suite-growth JVM pressure. min-of-3 (was min-of-5 —
    // trimmed with the r17 budget work; the min stabilized by run 3
    // in every recorded round), Bench's own noop method (this
    // mechanizes the PLANS.md "isolated run" that rounds 12-13 had to
    // produce by hand). Suite-fresh does NOT defeat a loaded box (r14
    // measured ±20% across same-binary runs) — the recorded eps is
    // additionally ratio-normalized below.
    val flagshipIsolatedEps = if (filtered) { skipped += "flagship"; 0.0 } else try {
      val n = Tables.events(spark, sfDir).count()
      val t = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries("q15_transcript_assembly")(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      n / t
    } catch { case e: Throwable =>
      System.err.println(s"[bench] isolated flagship failed: ${e.getMessage}")
      0.0
    }
    // Three passes: per-query MIN (steady-state cost, not first-run JIT)
    // and MEDIAN (load-robust central tendency), and the MIN pass's cost.
    // A query that throws is listed in "failed" — a silent failure must
    // not corrupt the totals.
    val watch = new JobWatch(spark)
    def timeAll(): Map[String, Option[JobWatch.Cost]] =
      selected.map { case (name, fn) =>
        try name -> Some(timeQuery(watch, spark, sfDir, fn))
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          name -> None
        }
      }.toMap
    // Three timing passes when the budget allows; pass 1 is
    // unconditional (a bench with zero passes measures nothing), each
    // later pass runs only if the measured cost of the previous one —
    // padded — still fits before the deadline less the tail reserve.
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Option[JobWatch.Cost]]]
    var passCost = 0.0
    def timedPass(): Unit = {
      val t0 = System.nanoTime()
      passes += timeAll()
      passCost = (System.nanoTime() - t0) / 1e9
    }
    timedPass()
    if (fitsPhase(passCost)) timedPass() else skipped += "pass2"
    if (passes.size < 2) skipped += "pass3" // pass2 already didn't fit
    else if (fitsPhase(passCost)) timedPass()
    else skipped += "pass3"
    val perQuery: Map[String, (Double, Double)] = aggregatePasses(
      passes.toSeq.map(_.map { case (k, c) => k -> c.fold(-1.0)(_.wallS) }))
    val (failed, results) = perQuery.partition(_._2._1 < 0)
    watch.close()
    def fmt2(v: Double): String = "%.2f".formatLocal(Locale.ROOT, v)
    // qNN short keys (full names in SURVEY.md §2.12 / Verify output).
    def short(k: String): String = k.takeWhile(_ != '_')
    val totalMin = results.values.map(_._1).sum
    val totalMed = results.values.map(_._2).sum
    // flagship throughput: events/sec through the sessionize+transcript
    // path (q15), the reference's streaming STT shape (§3.1); min-of-3.
    val flagshipEps = try {
      val n = Tables.events(spark, sfDir).count()
      results.get("q15_transcript_assembly")
        .map(_._1).filter(_ > 0).map(t => n / t).getOrElse(0.0)
    } catch { case _: Throwable => 0.0 }
    // Ratio context is computed BEFORE the streaming phases so the
    // knee search's reliability flag can be keyed to this run's box
    // regime (VERDICT r15 #4). sfName is interpolated into JSON lines —
    // strip anything that could break the encoding (it comes from a
    // CLI/env path segment).
    val sfName = new java.io.File(sfDir).getName
      .replaceAll("[^A-Za-z0-9._-]", "_")
    val runMins: Map[String, Double] = results.map {
      case (k, v) => short(k) -> v._1
    }
    val ratioOpt =
      if (sfName == BenchRef.sf) medianRatio(runMins, BenchRef.queries)
      else None
    val quartilesOpt =
      if (sfName == BenchRef.sf) ratioQuartiles(runMins, BenchRef.queries)
      else None
    // STREAMING flagship (VERDICT r7 #2): the actual flatMapGroupsWithState
    // sessionizer under a file-source stream + RocksDB state store — not
    // the batch q15 proxy. Sustained events/s excludes stream startup;
    // p50/p99 are per-trigger latencies from the query's own telemetry.
    // Median-of-3 (VERDICT r12 #2): the bulk point has only 12 triggers,
    // so single-run quantiles are unstable — the recorded number is the
    // median-eps run's full Result, reproducible by construction.
    // Streaming phases are the bench's variable cost (the r16 driver
    // run died here) — each is gated on the remaining budget. The
    // entry estimate (45 s) is a deliberate floor: a single sf0.1 bulk
    // run incl. staging measures 30-60 s; once one real run lands, the
    // estimates below are measured, not guessed.
    val StreamRunEstSec = 45.0
    val streamZero = StreamBench.Result(0L, 0, 0.0, 0.0, 0.0, 0.0, 0L, 0L)
    val streamDeadline = deadlineNs - TailReserveNs
    val streamT0 = System.nanoTime()
    val stream =
      if (filtered || !fitsPhase(StreamRunEstSec)) { skipped += "stream"; streamZero }
      else try StreamBench.runMedian3(spark, sfDir,
        deadlineNs = streamDeadline)
      catch { case e: Throwable =>
        System.err.println(s"[bench] stream bench failed: ${e.getMessage}")
        streamZero
      }
    // Measured per-run estimate for the remaining streaming phases:
    // the median-of-3 phase wall over its (at most 3) runs. If the
    // phase was budget-truncated this over-divides, but then the
    // deadline checks inside sweep/knee are already near failing.
    val streamRunCost = math.max(StreamRunEstSec / 3,
      (System.nanoTime() - streamT0) / 1e9 / 3)
    // (eps, p50, p99) frontier: `bulk` = the primary run above; `mid`
    // and `low` trade trigger size / state-partition count for latency
    // (VERDICT r8 #4 — demonstrate the sub-second-p50 configuration).
    val sweepRun =
      if (stream.batches == 0) Seq.empty
      else try StreamBench.sweep(spark, sfDir,
        deadlineNs = streamDeadline, estRunSec = streamRunCost)
      catch { case e: Throwable =>
        System.err.println(s"[bench] stream sweep failed: ${e.getMessage}")
        Seq.empty
      }
    skipped ++= Seq("mid", "low", "fast")
      .filterNot(p => sweepRun.exists(_._1 == p)).map(p => s"sweep_$p")
    val sweepPts = ("bulk", stream) +: sweepRun
    val sweepJson = sweepPts.map { case (n, r) =>
      s"""{"pt":"$n","eps":${"%.0f".format(r.epsSustained)},"p50_ms":${r.p50Ms},"p99_ms":${r.p99Ms},"batches":${r.batches}}"""
    }.mkString("[", ",", "]")
    // knee search (VERDICT r14 #4): max sustainable eps at the 300 ms
    // STT target, stepped until the first breaking point. Scalars ride
    // both JSON lines; the full step trace goes to the detail file.
    val kneeZero = StreamBench.Knee(Seq.empty, 0.0, 0L, 0,
      bracketed = false, exhausted = true)
    val knee =
      if (filtered || !fitsPhase(streamRunCost)) { skipped += "knee"; kneeZero }
      else try StreamBench.kneeSearch(spark, sfDir,
        deadlineNs = streamDeadline)
      catch { case e: Throwable =>
        System.err.println(s"[bench] knee search failed: ${e.getMessage}")
        kneeZero
      }
    if (knee.exhausted && !skipped.contains("knee"))
      skipped += "knee_truncated"
    // knee_reliable (VERDICT r15 #2/#4 + ADVICE r16 #2): the knee
    // number is only comparable across rounds when (a) the search
    // actually bracketed it between a passing and a breaking step, and
    // (b) the box regime is MEASURED near-healthy (an unavailable
    // ratio is unknown, not healthy) — on a loaded box the same binary
    // measures a genuinely lower knee (the downward search still
    // brackets it, so the artifact carries a real number, flagged as
    // this box's, not the engine's).
    val isKneeReliable = kneeReliable(knee.bracketed, ratioOpt)
    val kneeStepsJson = knee.steps.map { st =>
      s"""{"files":${st.stageFiles},"eps":${"%.0f".format(
        st.result.epsSustained)},"p50_ms":${st.result.p50Ms},"p99_ms":${
        st.result.p99Ms},"batches":${st.result.batches}}"""
    }.mkString("[", ",", "]")
    // the one box-regime correction: raw ÷ the median per-query ratio
    // against the pinned healthy BenchRef vector (medianRatio)
    val ratioNormalizedTotal = ratioOpt.map(totalMin / _).getOrElse(totalMin)
    // eps scales INVERSELY with time: a 1.14×-loaded box measured the
    // flagship 1.14× slower, so the normalized eps multiplies back up
    val flagshipIsolatedEpsNorm =
      ratioOpt.map(flagshipIsolatedEps * _).getOrElse(flagshipIsolatedEps)
    // p25/p75 of the ratio vector travel beside the median (VERDICT
    // r15 #3) so the artifact distinguishes uniform box load (tight
    // spread) from non-uniform degradation or a real regression (wide
    // spread) without re-running anything.
    val spreadPart = quartilesOpt match {
      case Some((p25, p75)) =>
        s""","ratio_p25_x100":${math.round(p25 * 100)},""" +
          s""""ratio_p75_x100":${math.round(p75 * 100)}"""
      case None => ""
    }
    val ratioPart = ratioOpt match {
      case Some(r) =>
        s""""ratio_normalized_total":${fmt2(ratioNormalizedTotal)},""" +
          s""""median_ratio_x100":${math.round(r * 100)}$spreadPart,""" +
          s""""ratio_status":"ok","flagship_isolated_eps_norm":${
            "%.0f".format(flagshipIsolatedEpsNorm)}"""
      case None =>
        s""""ratio_normalized_total":${fmt2(totalMin)},""" +
          s""""median_ratio_x100":100,""" +
          s""""ratio_status":"no_ref","flagship_isolated_eps_norm":${
            "%.0f".format(flagshipIsolatedEps)}"""
    }
    val failedArr = failed.keys.toSeq.sorted
      .map("\"" + short(_) + "\"").mkString("[", ",", "]")
    def qmap(sel: String => Boolean, f: ((Double, Double)) => Double) =
      results.toSeq.filter(t => sel(t._1)).sortBy(_._1)
        .map { case (k, v) => "\"" + short(k) + "\":" + fmt2(f(v)) }
        .mkString("{", ",", "}")
    // Budget provenance rides both JSON lines (VERDICT r16 #1): the
    // budget, the wall actually spent, how many timing passes landed,
    // and exactly which phases the budget skipped or truncated — so a
    // reader of a degraded artifact knows WHICH numbers are thinner
    // than usual instead of guessing from their values.
    val skippedArr = skipped.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val budgetPart =
      s""""budget_s":$budgetS,"bench_elapsed_s":${fmt2(elapsedS)},"passes":${passes.size},"skipped":$skippedArr"""
    val streamPart =
      s""""flagship_events_per_sec":${"%.0f".format(flagshipEps)},"flagship_isolated_eps":${"%.0f".format(flagshipIsolatedEps)},$ratioPart,"stream_eps":${"%.0f".format(stream.epsSustained)},"stream_p50_ms":${stream.p50Ms},"stream_p99_ms":${stream.p99Ms},"stream_batches":${stream.batches},"stream_knee_eps":${"%.0f".format(knee.kneeEps)},"stream_knee_p50_ms":${knee.kneeP50Ms},"stream_knee_files":${knee.kneeStageFiles},"stream_knee_bracketed":${knee.bracketed},"stream_knee_reliable":$isKneeReliable,$budgetPart,"stream_sweep":$sweepJson"""
    // where the primary run's trigger goes (detail only: the stdout line
    // has a capture window)
    val streamSplitJson =
      s"""{"latest_offset":${stream.latestOffsetP50Ms},"wal_commit":${
        stream.walCommitP50Ms},"add_batch":${stream.addBatchP50Ms},""" +
        s""""commit_offsets":${stream.commitOffsetsP50Ms},"state_commit":${
          stream.stateCommitP50Ms}}"""
    val costJson = results.keys.toSeq.sorted.map { k =>
      "\"" + short(k) + "\":" + passes.flatMap(_(k)).minBy(_.wallS).json
    }.mkString("{", ",", "}")
    // FULL detail — every query's min, median and cost — persisted to
    // target/bench_last.json and, for a recorded run, BENCH_DETAIL.json,
    // and printed first (its tail may be cut by the capture window; the
    // files never are).
    val detail = s"""{"metric":"total","value":${fmt2(totalMin)},"unit":"sec","total_med":${fmt2(totalMed)},"queries":${qmap(_ => true, _._1)},"queries_med":${qmap(_ => true, _._2)},"cost":$costJson,"failed":$failedArr,$streamPart,"stream_knee_steps":$kneeStepsJson,"stream_trigger_p50_ms":$streamSplitJson,"sf":"$sfName"}"""
    val record = writesRecord(filtered, sfName)
    for (p <- "target/bench_last.json" +: Option.when(record)("BENCH_DETAIL.json").toSeq)
      try java.nio.file.Files.writeString(
        java.nio.file.Path.of(p), detail + "\n")
      catch { case _: Throwable => () }
    // BENCH_DETAIL.json is overwritten per run, so each round's commit
    // used to lose the prior round's detail (ADVICE r9). Append every
    // recorded run to a history log too — one line per run, timestamped
    // — so the full per-query series survives in-repo.
    if (record) try java.nio.file.Files.writeString(
      java.nio.file.Path.of("BENCH_HISTORY.jsonl"),
      s"""{"at_epoch_s":${System.currentTimeMillis() / 1000},""" +
        s""""sf":"$sfName","detail":$detail}""" + "\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    catch {
      case e: Throwable =>
        System.err.println(s"[bench] WARN: BENCH_HISTORY.jsonl append " +
          s"failed (cwd ${System.getProperty("user.dir")}): $e")
    }
    println(detail)
    // Compact headline line LAST: the driver keeps only the final 2000
    // stdout chars, and this line (~700 chars: totals, normalization, the
    // fixed 15-query headline set's min+median, streaming) always fits
    // and parses — restoring a non-null parsed JSON for the first time
    // since the query count passed the window size.
    val compact = s"""{"metric":"total","value":${fmt2(totalMin)},"unit":"sec","total_med":${fmt2(totalMed)},"queries":${qmap(Headline, _._1)},"queries_med":${qmap(Headline, _._2)},"failed":$failedArr,$streamPart,"n_queries":${perQuery.size},"detail":"BENCH_DETAIL.json","sf":"$sfName"}"""
    println(compact)
    spark.stop()
  }
}
