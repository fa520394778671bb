package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Guard against the q61 regression class: declaring a query must not
  * launch Spark jobs. Scalar thresholds belong in the plan as
  * `crossJoin(broadcast(agg))` (the q13/q108/q61 pattern, whose 1-row
  * build side the BNLJ plan guard proves) — never a driver-side
  * `.head()`/`.collect()` inside the constructor, which costs an extra
  * job per declaration and hides an action behind a lazy-looking API.
  *
  * Mechanics: a listener counts `onJobStart`; after each constructor we
  * run a 1-partition sentinel action and wait for its event. The
  * listener bus is FIFO, so once the sentinel's event has been counted,
  * every job the constructor might have launched has been counted too —
  * the total must then equal the sentinel count exactly.
  *
  * The CC-fixpoint queries (q78/q150/q151/q157) are the declared
  * exceptions: their connected-components fixpoint is a
  * driver-coordinated loop (documented in PLANS.md) and launches jobs
  * at build time by design.
  */
class NoEagerActionSpec extends SparkSpec {

  test("query construction launches no Spark jobs (CC-fixpoint queries exempted)") {
    val exempt = Set("q78_dup_clusters", "q150_dedup_materialize",
      "q151_semantic_dedup", "q157_corpus_build", "q165_training_mix_plan",
      "q171_shipping_manifest", "q172_cellscaled_semdedup",
      // the LTR/deployed-recall family collects its workload-bounded
      // pool/leg frames once (≤|queries|×FuseDepth rows at any scale)
      // to feed multiple consumers — the serving-seam collect pattern,
      // documented at RetrievalQueries.q189/q190/q193 (q191 inherits
      // q189's collect)
      "q189_ltr_features", "q190_deployed_recall", "q191_reranker_lift",
      "q193_reranker_fit",
      // r18: the whole keyword-retrieval family materializes its
      // postings frame once per query (postingsM localCheckpoint — the
      // WidePhash rule; the production path serves the materialized
      // InvertedTextIndex) and collects its workload-bounded
      // query-doc/term/ranked frames once (the q189 pattern)
      "q180_keyword_search", "q181_hybrid_rrf", "q182_retrieval_recall",
      "q183_phrase_search", "q184_snippets", "q185_prf_expansion",
      "q186_mmr_diversify",
      // r18: the selection COMPOSERS materialize their doc-level
      // rule-label frame once per query (labelsM localCheckpoint — the
      // SelectionModelIndex persistence boundary); standalone
      // q200/q201 keep the fully-lazy chain (2 references only)
      "q202_selection_funnel", "q203_model_gated_corpus",
      "q204_full_corpus_build", "q205_selection_calibration",
      // q199 composes the q157 funnel (same CC fixpoint) behind the
      // q198 line gate
      "q199_line_gated_corpus",
      // q197 collects its three Lloyd-round centroid frames (k·dims
      // rows each; memberships and probe cells are kernel columns over
      // them) — ConstructionJobsSpec bounds the jobs that launches
      "q197_ann_retrain_recall",
      // q208 composes the same CC fixpoint over image near-dup edges
      "q208_image_dup_clusters", "q212_multimodal_dedup_funnel",
      // q217/q219 compose BOTH CC fixpoints (LSH text + wide-hash
      // image) through the shared manifestFlags frame
      "q217_multimodal_manifest", "q219_manifest_gate_drops",
      // the WidePhash signature relation materializes once at
      // construction (localCheckpoint — measured 12x scan+codec-UDF
      // re-derivation without it); q208/q212/q217 are covered above
      "q207_image_near_dup", "q216_phash_width_recall",
      // the video frame-hash relation materializes once (r17: the
      // df-cap filter and both join sides re-ran its UDF ~4x)
      "q214_video_clip_match", "q215_clip_match_recall",
      // the PQ family collects its bounded quantizer artifacts once
      // (cs = k·dims rows, cmeta = k·m, the ADC query table ≤
      // |queries|·k·m — never corpus-sized; the q197/AnnIvfIndex
      // discipline, documented at VectorQueries.pq)
      "q125_kmeans_lloyd_step", "q126_pq_encode", "q127_pq_adc_search",
      "q130_ivfpq_search", "q148_ivfpq_rerank")
    val jobs = new AtomicInteger(0)
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val name = j.stageInfos.map(_.name).mkString("|")
        // DataFrameReader.parquet launches bounded metadata jobs (footer
        // schema reads / file listing) whose callsite IS the reader call
        // ("parquet at Tables.scala:N"). Those are declaration cost, not
        // hidden actions — a q61-class violation surfaces as
        // "head at ..."/"collect at ..." instead, and stays counted.
        if (!name.startsWith("parquet at ")) {
          descs.add(name)
          jobs.incrementAndGet(); ()
        }
      }
    }

    var sentinels = 0
    def syncAfterSentinel(): Int = {
      spark.sparkContext.parallelize(Seq(1), 1).count()
      sentinels += 1
      val deadline = System.currentTimeMillis() + 30000
      while (jobs.get() < sentinels && System.currentTimeMillis() < deadline)
        Thread.sleep(5)
      jobs.get()
    }

    spark.sparkContext.addSparkListener(listener)
    try {
      // Drain any in-flight events from earlier specs, then rebase the
      // counter on a clean sentinel.
      syncAfterSentinel()
      Thread.sleep(200)
      jobs.set(0)
      sentinels = 0

      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        if (!exempt(name)) {
          val before = sentinels
          fn(spark, sf0001).schema // construction + analysis, no execution
          val seen = syncAfterSentinel()
          val culprits = {
            import scala.jdk.CollectionConverters._
            descs.asScala.filterNot(_.contains("NoEagerActionSpec")).toSeq
          }
          assert(seen == before + 1,
            s"$name launched ${seen - before - 1} Spark job(s) during " +
              "construction — use crossJoin(broadcast(agg)) for scalars, " +
              s"never a driver-side action in a query constructor " +
              s"[jobs: ${culprits.mkString("; ")}]")
          descs.clear()
          // rebase so a failure message stays per-query accurate
          jobs.set(sentinels)
        }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
