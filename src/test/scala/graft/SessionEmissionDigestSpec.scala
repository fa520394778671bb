package graft

import java.security.MessageDigest

import graft.model.{AudioChunk, TranscriptEvent}
import graft.streaming.SessionLogic
import graft.streaming.SessionLogic.Config

/** Byte-exact emission of the session state machine, pinned by digest.
  * Seeded scripts of 100 ms / 3,200 B chunks (speech runs of random
  * loud bytes, silence runs under the VAD threshold, utterances ended by
  * `isFinal` or left for [[SessionLogic.finalize]]) are fed through
  * [[SessionLogic.step]] in random batch splits. The config variants
  * reach the size trigger, the VAD endpoint and the partial debounce.
  * Every emitted event's (type, text, confidence, offset) goes into one
  * SHA-256; the surrogate text carries an FNV hash of the exact bytes
  * handed to the inferencer, so any change in what is buffered, split
  * or carried over moves the digest. The literal was computed with the
  * earlier `Vector[Byte]` segment buffers, so it pins the byte-exact
  * equivalence of the primitive-array buffers to them. */
class SessionEmissionDigestSpec extends SparkSpec {

  private val ChunkMs = 100L
  private val ChunkBytes = 3200

  private val variants = Seq(
    Config(),                                       // W2 size trigger + W4
    Config(chunkMs = 1000L),                        // W3 VAD endpoint
    Config(partialIntervalMs = 400L),               // W8 debounce
    Config(chunkMs = 1000L, partialIntervalMs = 400L))

  /** One session: alternating speech and silence runs; some runs end
    * their utterance with an `isFinal` chunk. */
  private def script(rnd: scala.util.Random, sid: String): Seq[AudioChunk] = {
    val out = Seq.newBuilder[AudioChunk]
    var off = 1000L * rnd.nextInt(5)
    val runs = 2 + rnd.nextInt(8)
    for (r <- 1 to runs) {
      val speech = r % 2 == 1
      val len = if (speech) 1 + rnd.nextInt(30) else 1 + rnd.nextInt(8)
      val endsUtterance = rnd.nextInt(4) == 0
      for (i <- 1 to len) {
        val bytes = Array.fill(ChunkBytes)(
          (if (speech) rnd.nextInt(256) else rnd.nextInt(8)).toByte)
        out += AudioChunk(sid, bytes, off, ChunkMs,
          isFinal = endsUtterance && i == len)
        off += ChunkMs
      }
    }
    out.result()
  }

  private def run(seed: Long, scripts: Int): Seq[(Int, TranscriptEvent)] = {
    val rnd = new scala.util.Random(seed)
    (0 until scripts).flatMap { k =>
      val cfg = variants(k % variants.size)
      val sid = s"s$k"
      var rest = script(rnd, sid).toList
      var st = SessionLogic.empty
      val events = Seq.newBuilder[TranscriptEvent]
      while (rest.nonEmpty) {
        val (batch, tail) = rest.splitAt(1 + rnd.nextInt(rest.length))
        val (next, out) = SessionLogic.step(sid, batch, st, cfg)
        events ++= out
        st = next
        rest = tail
      }
      events ++= SessionLogic.finalize(sid, st)
      events.result().map(k -> _)
    }
  }

  private def digest(events: Seq[(Int, TranscriptEvent)]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    events.foreach { case (k, e) =>
      md.update(s"$k|${e.eventType}|${e.text}|${e.confidence}|${e.resultOffsetMs}\n"
        .getBytes("UTF-8"))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  test("emitted events match the pinned digest across 80 seeded scripts") {
    val events = run(20261017L, 80)
    val types = events.map(_._2.eventType).toSet
    assert(types == Set("PARTIAL", "FINAL", "END_OF_UTTERANCE"),
      s"scripts must reach every emission kind, got $types")
    assert(events.size == 1161)
    assert(digest(events) ==
      "0b1abb867a2e7c29fb03f5dda6360ebaac356b0fceb13cd6b9dedb7314c114a7")
  }
}
