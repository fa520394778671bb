package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.functions.WavCodec
import graft.operators.PerceptualDedupIndex
import graft.streaming.StreamingAudioDedup
import graft.streaming.StreamingAudioDedup.{Clip, DupPair}

/** Streaming audio-dedup gate (VERDICT r16 #3 — closes the modality
  * matrix): a later degraded copy matches the earlier clip on arrival
  * (cross-batch, 16-bit-block-keyed state — the q210 pigeonhole split
  * via [[PerceptualDedupIndex.AudioLayout]]), gain scaling is an EXACT
  * fingerprint invariant (the q210 algebra), far clips never match,
  * undecodable bytes are ignored, eviction in one band cannot lose a
  * pair another band still holds, and the gate's verdicts agree with
  * the BATCH snapshot index ([[PerceptualDedupIndex.admit]]) on the
  * same clips. Fixtures are REAL encoded WAV bytes whose expected
  * Hamming distances the test derives from the same public kernels —
  * nothing hand-pinned. */
class StreamingAudioDedupSpec extends SparkSpec {

  private val L = PerceptualDedupIndex.AudioLayout

  /** The index-spec cleanup pattern (AnnIvfIndexSpec precedent): drop
    * the managed tables AND wipe their warehouse locations, so a rerun
    * in the same workspace (fresh catalog, stale directory) can't die
    * with LOCATION_ALREADY_EXISTS. */
  private def cleanup(tables: String*): Unit =
    GraftSession.dropTables(spark, tables.flatMap(t => Seq(t, t + "_df")): _*)

  /** Deterministic 256-sample int16 waveform; sample values are kept
    * EVEN so a 0.5× gain is exact integer arithmetic (the gain-
    * invariance case must not hide behind rounding). */
  private def synth(seed: Int): Array[Short] =
    Array.tabulate(256) { i =>
      val v = (((i * 37 + seed * 101 + 11) % 97) / 97.0 - 0.5) * 8192
      (v.toInt & ~1).toShort
    }

  private def wav(s: Array[Short]): Array[Byte] = WavCodec.encode(s)
  private def fp(s: Array[Short]): Long =
    StreamingAudioDedup.fingerprint(wav(s)).get
  private def hd(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  private val base = synth(0)
  private val gained = base.map(v => (v / 2).toShort)
  /** A small additive perturbation on a few samples — the q210
    * degradation shape; the spec derives its hd and asserts it lands
    * in 1..hdMax (fixture drift fails loudly, not silently). */
  private val noisy = base.zipWithIndex.map { case (v, i) =>
    if (i % 41 == 0) (v + 96).toShort else v
  }
  private val far = synth(7)

  private def distinctPairs(table: String): Set[(Long, Long, Int)] = {
    import spark.implicits._
    spark.table(table).as[DupPair].collect()
      .map(p => (p.clipId, p.matchId, p.hd)).toSet
  }

  test("gain scaling is fingerprint-exact; near matches cross-batch; far never") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    assert(hd(fp(base), fp(gained)) == 0,
      "band-energy signs must be gain-invariant (q210 algebra)")
    val nearHd = hd(fp(base), fp(noisy))
    assert(nearHd >= 1 && nearHd <= L.hdMax,
      s"fixture drifted: near hd=$nearHd")
    assert(hd(fp(base), fp(far)) > L.hdMax,
      s"fixture drifted: far hd=${hd(fp(base), fp(far))}")

    val input = MemoryStream[Clip]
    val query = StreamingAudioDedup.attach(input.toDS())
      .writeStream.format("memory").queryName("auddup_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(Clip(1, wav(base)), Clip(2, wav(far)))
      query.processAllAvailable()
      assert(spark.table("auddup_out").count() == 0,
        "nothing may match before a duplicate arrives")

      input.addData(Clip(3, wav(noisy)), Clip(4, wav(gained)))
      query.processAllAvailable()
      val pairs = distinctPairs("auddup_out")
      // 3 and 4 arrive in one batch: both match 1 (state), and 4's
      // verdict against 3 is also legal in-batch evidence (3 enters
      // band state before 4 is processed — clip-id order)
      assert(pairs.contains((3L, 1L, nearHd)), s"pairs: $pairs")
      assert(pairs.contains((4L, 1L, 0)), s"pairs: $pairs")
      val legal = Set((3L, 1L, nearHd), (4L, 1L, 0), (4L, 3L, nearHd))
      assert(pairs.subsetOf(legal), s"unexpected: ${pairs -- legal}")
      // at-least-once is bounded by the band count
      val all = spark.table("auddup_out").as[DupPair].collect()
      val maxMult = all.groupBy(identity).values.map(_.length).max
      assert(maxMult <= L.blocks, s"multiplicity $maxMult > ${L.blocks}")
    } finally query.stop()
  }

  test("per-band eviction cannot lose a pair another band still holds") {
    // the ADVICE r15 scenario transplanted: at maxPerBand = 1, an
    // evictor that shares SOME blocks with the base displaces it from
    // those bands only; an exact copy arriving later must still find
    // the base via a band the evictor does not share
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val fpB = fp(base)
    // evictor = noisy: shares the blocks its flipped bits don't touch
    val fpE = fp(noisy)
    val shared = (0 until L.blocks).filter(k =>
      ((fpB >>> (L.blockBits * k)) & (L.blockMod - 1)) ==
        ((fpE >>> (L.blockBits * k)) & (L.blockMod - 1)))
    assert(shared.nonEmpty && shared.size < L.blocks,
      s"fixture drifted: shared blocks $shared")

    val input = MemoryStream[Clip]
    val query = StreamingAudioDedup.attach(input.toDS(), maxPerBand = 1)
      .writeStream.format("memory").queryName("auddup_evict")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(Clip(1, wav(base)))
      query.processAllAvailable()
      input.addData(Clip(2, wav(noisy)))
      query.processAllAvailable()
      input.addData(Clip(3, wav(base)))
      query.processAllAvailable()
      val pairs = distinctPairs("auddup_evict")
      assert(pairs.contains((3L, 1L, 0)),
        s"pair lost to per-band eviction: $pairs")
    } finally query.stop()
  }

  test("undecodable or too-short bytes are ignored; no state, no emission") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    assert(StreamingAudioDedup.fingerprint("not a wav".getBytes).isEmpty)
    // canonical WAV but too short to frame (needs 208 samples)
    assert(StreamingAudioDedup.fingerprint(
      WavCodec.encode(Array.fill[Short](64)(42))).isEmpty)

    val input = MemoryStream[Clip]
    val query = StreamingAudioDedup.attach(input.toDS())
      .writeStream.format("memory").queryName("auddup_bad")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(Clip(20, "garbage".getBytes), Clip(21, wav(base)))
      query.processAllAvailable()
      assert(spark.table("auddup_bad").count() == 0)
      input.addData(Clip(22, wav(base)))
      query.processAllAvailable()
      assert(distinctPairs("auddup_bad") == Set((22L, 21L, 0)))
    } finally query.stop()
  }

  test("gate parity with the batch snapshot index on the same clips") {
    // the drift check the constants-import exists for: the streaming
    // gate and PerceptualDedupIndex.admit must agree verdict-for-
    // verdict on (match?, hd) for the same corpus and arrivals
    import spark.implicits._

    cleanup("aud_gate_parity_idx")
    val fpB = fp(base)
    val nearHd = hd(fpB, fp(noisy))
    val snapshot = Seq((1L, fpB, 0L, 0L, 0L), (2L, fp(far), 0L, 0L, 0L))
      .toDF("id", "l0", "l1", "l2", "l3")
    PerceptualDedupIndex.build(L, snapshot, "aud_gate_parity_idx")
    val verdicts = PerceptualDedupIndex.admit(L,
      Seq((3L, fp(noisy), 0L, 0L, 0L), (4L, fp(gained), 0L, 0L, 0L),
        (5L, fp(synth(9)), 0L, 0L, 0L))
        .toDF("id", "l0", "l1", "l2", "l3"),
      "aud_gate_parity_idx")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getInt(3), r.getBoolean(4)))).toMap
    // noisy: one match (clip 1) at the derived hd; NOT admitted
    assert(verdicts(3L) == ((1L, 1L, nearHd, false)), s"${verdicts(3L)}")
    // gained: exact match via identity row, hd 0
    assert(verdicts(4L) == ((1L, 1L, 0, false)), s"${verdicts(4L)}")
    // an unrelated clip is admitted
    assert(verdicts(5L)._4, s"${verdicts(5L)}")
  }
}
