package graft.streaming

import org.apache.spark.sql.Dataset

import graft.functions.{ImageCodec, ImageOps}
import graft.operators.WidePhash

/** Streaming perceptual IMAGE dedup — the stateful front of the batch
  * production-width pipeline (q206/q207): every arriving image is
  * decoded from its real container bytes, fingerprinted with the
  * 252-bit wide dHash, and checked against the images already seen
  * whose hash shares one of the TWELVE 21-bit blocks — the SAME
  * parameterized split as the batch join ([[WidePhash.block]]; a
  * drifted copy of the split constants is how a streaming gate
  * silently stops matching the batch index it fronts). Matching pairs
  * stream out the moment the duplicate arrives — the gate a multimodal
  * crawl ingest runs BEFORE paying for OCR or captioning (the
  * reference OCRs every submission unconditionally,
  * `src/workers/ocr_worker.py:118-190`; this is the curation front it
  * lacks).
  *
  * State is keyed by (block-idx, block-value) — the same key the batch
  * join buckets on — and each key keeps at most `maxPerBand` (imgId,
  * 4-lane hash) entries (40 bytes each) under [[BandedGate]]'s state
  * rules. The bounded per-band state is the streaming analog of the
  * batch side's df cap: a degenerate-hot block bucket holds its newest
  * `maxPerBand` entries instead of growing with the stream.
  *
  * Emission semantics: AT-LEAST-ONCE, at every band where the earlier
  * image is still in that band's state — up to 12 emissions per pair,
  * de-duplicated downstream if the consumer needs pair-level
  * uniqueness (for a dedup gate it usually doesn't: duplicate
  * evidence is an idempotent OR). Round 15 shipped exactly-once via
  * a first-matching-block rule, but per-band eviction compounds under
  * that rule into permanent misses — a pair sharing block j can only
  * ever emit at band j, so once one side is evicted from band j's
  * bounded state the pair is lost even though another band still
  * holds both entries (ADVICE r15). With at-least-once, a pair is
  * missed only when the earlier image has been evicted from EVERY
  * band the two hashes share — recall is monotone in band count,
  * which is what an ingest gate wants.
  *
  * Undecodable bytes and frames the 16×16 grid cannot tile emit
  * nothing and occupy no state: the gate's contract is "emit dup
  * evidence", and an unfingerprintable image has none — it flows to
  * the pipeline's validation path (P5), not the dedup path.
  */
object StreamingImageDedup {

  /** One incoming image: real container bytes (PNG/BMP/GIF). */
  final case class Img(imgId: Long, bytes: Array[Byte])

  private[streaming] final case class BandedImg(
      band: Long, imgId: Long, l0: Long, l1: Long, l2: Long, l3: Long)

  /** One detected duplicate: `imgId` arrived and matched `matchId` at
    * wide Hamming distance `hd` ≤ [[WidePhash.HdMax]]. May repeat per
    * shared band (at-least-once — see the emission-semantics note). */
  final case class DupPair(imgId: Long, matchId: Long, hd: Int)

  /** bytes → 252-bit wide dHash through the REAL decode path; None
    * when the bytes don't decode or the frame doesn't tile the 16×16
    * grid. */
  def hash(bytes: Array[Byte]): Option[Array[Long]] =
    ImageCodec.decode(bytes)
      .filter(g => g.w % WidePhash.Grid == 0 && g.h % WidePhash.Grid == 0)
      .map(g => ImageOps.dHashWide(
        ImageOps.cellSums(g, WidePhash.Grid, WidePhash.Grid)))

  /** Composite state key: block index in the high bits, 21-bit block
    * value low — the [[WidePhash.block]] split verbatim. */
  private[streaming] def bands(imgId: Long, h: Array[Long]): Seq[BandedImg] =
    (0 until WidePhash.Blocks).map(k =>
      BandedImg((k.toLong << WidePhash.BlockBits) | WidePhash.block(h, k),
        imgId, h(0), h(1), h(2), h(3)))

  /** Matching pairs, emitted as each duplicate arrives. */
  def attach(imgs: Dataset[Img], maxPerBand: Int = 64,
      stateTtlMs: Long = 0L): Dataset[DupPair] = {
    import imgs.sparkSession.implicits._
    BandedGate.attach[BandedImg, (Long, Long, Long, Long, Long), DupPair](
      imgs.flatMap(im => hash(im.bytes).toSeq.flatMap(h => bands(im.imgId, h))),
      _.band,
      BandedGate.Rule(_.imgId, _._1,
        bi => Some((bi.imgId, bi.l0, bi.l1, bi.l2, bi.l3)),
        { case (bi, (id, s0, s1, s2, s3)) =>
          val d = WidePhash.hd(Array(bi.l0, bi.l1, bi.l2, bi.l3),
            Array(s0, s1, s2, s3))
          Option.when(d <= WidePhash.HdMax)(DupPair(bi.imgId, id, d))
        }),
      maxPerBand, stateTtlMs)
  }
}
