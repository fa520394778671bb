package graft

/** Pinned HEALTHY per-query reference vector for [[Bench]]'s
  * ratio-normalization (VERDICT r14 #1): the per-query MIN map of the
  * round-14 builder run recorded at BENCH_HISTORY.jsonl epoch
  * 1786816023 — raw total 174.76 s over 196 queries at sf0.1, cal
  * triplet [398, 275, 283] ms (clean regime: median ≈ the 270 ms pinned
  * healthy cal). Why a PER-QUERY vector and not the (since retired) cal
  * probe: the pure-CPU cal probe degrades FASTER under box load than the
  * partially-I/O suite, so scaling the total by the cal ratio
  * OVER-corrects on badly degraded boxes (the r14 gate run read
  * 96.6 s where three stable builder runs said ~166 s cal-normalized /
  * ~175 s ratio-normalized). `median(q_run / q_ref)` over the common
  * queries is robust to both channels: a uniformly loaded box shifts
  * every ratio together (the median IS the load factor), while a code
  * regression in a few queries cannot move the median of ~196 ratios.
  * Validated retroactively over the four recorded r14 sf0.1 runs (raw
  * 174.8-201.4 s, cal 275-1101 ms): ratio-normalized totals read
  * 174.8 / 174.9 / 176.7 / 180.1 s — a ±1.7% band across box regimes
  * where cal-normalization swung 96.6-166.7 s.
  *
  * Keys are the short query ids (Bench's `short`), values per-query
  * min seconds. Queries added after this pin simply don't participate
  * in the ratio (they still count in the raw total); re-pin the vector
  * when the suite's composition changes enough that the common set
  * thins out. */
object BenchRef {
  val sf: String = "sf0.1"
  val totalSec: Double = 174.76
  val queries: Map[String, Double] = Map(
    "q01" -> 0.61, "q02" -> 0.59, "q03" -> 0.7, "q04" -> 0.32,
    "q05" -> 0.48, "q06" -> 0.54, "q07" -> 0.66, "q08" -> 0.35,
    "q09" -> 0.54, "q10" -> 0.31, "q100" -> 0.14, "q101" -> 0.13,
    "q102" -> 1.5, "q103" -> 0.28, "q104" -> 1.72, "q105" -> 0.45,
    "q106" -> 0.7, "q107" -> 1.6, "q108" -> 0.43, "q109" -> 0.49,
    "q11" -> 0.23, "q110" -> 0.88, "q111" -> 0.69, "q112" -> 0.35,
    "q113" -> 0.91, "q114" -> 0.13, "q115" -> 0.65, "q116" -> 0.1,
    "q117" -> 0.45, "q118" -> 0.56, "q119" -> 1.44, "q12" -> 0.13,
    "q120" -> 0.67, "q121" -> 1.99, "q122" -> 0.54, "q123" -> 0.93,
    "q124" -> 0.69, "q125" -> 2.05, "q126" -> 1.23, "q127" -> 1.59,
    "q128" -> 1.13, "q129" -> 0.54, "q13" -> 0.26, "q130" -> 1.88,
    "q131" -> 0.72, "q132" -> 0.68, "q133" -> 0.28, "q134" -> 0.39,
    "q135" -> 0.65, "q136" -> 0.86, "q137" -> 0.54, "q138" -> 0.97,
    "q139" -> 0.24, "q14" -> 0.54, "q140" -> 0.44, "q141" -> 1.11,
    "q142" -> 0.49, "q143" -> 0.45, "q144" -> 3.71, "q145" -> 0.49,
    "q146" -> 0.47, "q147" -> 0.43, "q148" -> 2.65, "q149" -> 0.7,
    "q15" -> 0.88, "q150" -> 2.19, "q151" -> 3.12, "q152" -> 0.28,
    "q153" -> 0.59, "q154" -> 0.33, "q155" -> 2.34, "q156" -> 0.51,
    "q157" -> 2.8, "q158" -> 0.31, "q159" -> 0.73, "q16" -> 0.46,
    "q160" -> 0.6, "q161" -> 1.47, "q162" -> 2.34, "q163" -> 2.09,
    "q164" -> 0.3, "q165" -> 3.0, "q166" -> 0.97, "q167" -> 0.96,
    "q168" -> 5.27, "q169" -> 0.35, "q17" -> 0.41, "q170" -> 2.01,
    "q171" -> 2.89, "q172" -> 4.3, "q173" -> 1.26, "q174" -> 0.46,
    "q175" -> 2.97, "q176" -> 2.53, "q177" -> 1.83, "q178" -> 4.78,
    "q179" -> 1.72, "q18" -> 0.3, "q180" -> 1.95, "q181" -> 2.08,
    "q182" -> 2.38, "q183" -> 2.27, "q184" -> 2.61, "q185" -> 3.31,
    "q186" -> 2.5, "q187" -> 0.68, "q188" -> 1.0, "q189" -> 2.36,
    "q19" -> 0.41, "q190" -> 3.35, "q191" -> 2.71, "q192" -> 0.84,
    "q193" -> 3.02, "q194" -> 0.53, "q195" -> 0.43, "q196" -> 0.45,
    "q20" -> 0.32, "q21" -> 0.32, "q22" -> 0.41, "q23" -> 0.18,
    "q24" -> 0.21, "q25" -> 0.23, "q26" -> 0.1, "q27" -> 0.25,
    "q28" -> 0.46, "q29" -> 3.18, "q30" -> 0.48, "q31" -> 1.98,
    "q32" -> 0.31, "q33" -> 0.24, "q34" -> 0.23, "q35" -> 0.1,
    "q36" -> 0.12, "q37" -> 0.18, "q38" -> 0.3, "q39" -> 0.18,
    "q40" -> 0.36, "q41" -> 0.46, "q42" -> 0.38, "q43" -> 0.72,
    "q44" -> 0.21, "q45" -> 0.58, "q46" -> 0.57, "q47" -> 0.88,
    "q48" -> 0.38, "q49" -> 0.53, "q50" -> 0.25, "q51" -> 0.26,
    "q52" -> 0.46, "q53" -> 0.16, "q54" -> 0.27, "q55" -> 0.3,
    "q56" -> 0.52, "q57" -> 0.34, "q58" -> 0.12, "q59" -> 0.29,
    "q60" -> 0.27, "q61" -> 0.34, "q62" -> 0.54, "q63" -> 0.27,
    "q64" -> 0.48, "q65" -> 0.17, "q66" -> 0.27, "q67" -> 0.4,
    "q68" -> 0.24, "q69" -> 0.56, "q70" -> 0.71, "q71" -> 0.47,
    "q72" -> 0.14, "q73" -> 0.53, "q74" -> 0.17, "q75" -> 0.38,
    "q76" -> 0.31, "q77" -> 0.17, "q78" -> 1.68, "q79" -> 0.23,
    "q80" -> 0.42, "q81" -> 0.34, "q82" -> 0.94, "q83" -> 0.14,
    "q84" -> 0.13, "q85" -> 0.11, "q86" -> 0.13, "q87" -> 0.12,
    "q88" -> 0.2, "q89" -> 0.18, "q90" -> 0.73, "q91" -> 1.36,
    "q92" -> 0.42, "q93" -> 0.75, "q94" -> 0.27, "q95" -> 0.17,
    "q96" -> 0.75, "q97" -> 0.57, "q98" -> 1.12, "q99" -> 0.13,
    // Round-15 selection family (q197-q205): MEASURED on the healthy
    // round-15 builder run (BENCH_HISTORY epoch 1786855963 — raw total
    // 191.41 s over 205 queries, cal [303, 281, 286] ms, median ratio
    // 0.95; the second healthy run at epoch 1786858374, mr 1.00, reads
    // within ±10% per query), replacing round 15's de-loaded
    // derivations as ADVICE r15 asked.
    "q197" -> 4.36, "q198" -> 0.72, "q199" -> 3.37, "q200" -> 1.76,
    "q201" -> 1.87, "q202" -> 3.35, "q203" -> 3.9, "q204" -> 4.33,
    "q205" -> 2.77,
    // Perceptual family: MEASURED (VERDICT r16 #2, the standing re-pin
    // task closed) — the round-17 builder bench was the first healthy
    // box carrying these queries: in-suite min-of-3, raw total 221.76 s
    // over 219 queries, cal [528, 478, 421] ms, median ratio 1.02,
    // spread p25 0.91 / p75 1.12. The values reflect the round-17
    // optimized code (spreadKernel on q213/q218, materialized video
    // frames for q214/q215, fused sign-LSH, CC smart init), which is
    // the baseline future regressions should be judged against. q219
    // (added in the round-17 mid-build work) gets its first pin from
    // the same run.
    "q206" -> 0.35, "q207" -> 1.1, "q208" -> 1.92,
    "q209" -> 0.3, "q210" -> 1.05, "q211" -> 1.1, "q212" -> 2.51,
    "q213" -> 0.2, "q214" -> 1.7, "q215" -> 1.53, "q216" -> 1.47,
    "q217" -> 5.79, "q218" -> 0.32, "q219" -> 5.3)
}
