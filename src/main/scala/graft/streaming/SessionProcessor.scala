package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.inference.{Inferencer, SurrogateInferencer}
import graft.model.{AudioChunk, TranscriptEvent}

/** Streaming session windows with overlap carryover and partial emission —
  * the one genuinely custom stateful operator (SURVEY.md §2.6 W1-W8, §7
  * step 5). Semantics from the reference's Python worker path:
  *
  *  - W1 session buffer: per-session sample buffer + activity tracking
  *    (`src/workers/stt_worker.py:433-467`)
  *  - W2 chunk-size trigger: process once ≥ 320 ms buffered
  *    (`stt_worker.py:469-473`, `src/config.py:121`)
  *  - W3 VAD endpoint: speech seen and ≥ 300 ms trailing silence
  *    (`stt_worker.py:475-479`, `config.py:123`)
  *  - W4 overlap retention: emit len−150 ms, keep 150 ms in the buffer
  *    (`stt_worker.py:481-504`, `config.py:122`)
  *  - W5 session TTL: finalize sessions idle > timeout via
  *    GroupStateTimeout (`stt_worker.py:419-430`)
  *  - W6 final flush: is_final emits the whole remainder and drops state
  *    — the state row is removed, not stored reset (`stt_worker.py:396-417`)
  *  - W7/W8 partial vs final emission with a 150 ms event-time debounce
  *    (`stt_worker.py:332-356`, `config.py:124`)
  *
  * The core is a pure function ([[SessionLogic.step]]) so unit tests
  * drive it without a streaming query; [[SessionProcessor.attach]] wires
  * it into `flatMapGroupsWithState`. Event-time (offsetMs) drives every
  * trigger — processing time never enters the math, so replays and
  * checkpoint recovery are deterministic (the reference can duplicate
  * partials on redelivery; we key results by (session, offset) like its
  * `{session_id}_{offset_ms}` result keys, `stt_worker.py:297-300`).
  *
  * State layout: one row per live session, keyed by the `sessionId`
  * column, holding a Kryo-encoded [[SessionLogic.State]] whose buffered
  * [[SessionLogic.Seg]]s carry primitive `Array[Byte]` audio (written as
  * a length plus raw bytes). Audio is copied once on emission, into the
  * array handed to the inferencer; only the suffix of a segment
  * straddling the overlap cut is copied again to stay buffered.
  */
object SessionLogic {

  /** LINEAR16: 2 bytes/sample; the reference buffers 16 samples/ms
    * (16 kHz). All buffer arithmetic is in milliseconds of audio. */
  final case class Config(
      chunkMs: Long = 320L,
      overlapMs: Long = 150L,
      vadSilenceMs: Long = 300L,
      partialIntervalMs: Long = 150L,
      silenceRmsThreshold: Double = 10.0)

  /** One buffered chunk's bytes pinned to its own time span — byte
    * positions map to time per-chunk, so variable-rate content (chunk
    * byte length not proportional to durationMs) still splits at exact
    * positions instead of drifting with a global bytes/ms estimate.
    * `bytes` is never mutated: it is the chunk's own content array, or
    * the copied suffix of one that straddled an emission boundary.
    * Equality compares the bytes, so a [[State]] stays a value. */
  final case class Seg(startMs: Long, durMs: Long, bytes: Array[Byte]) {
    def endMs: Long = startMs + durMs
    override def equals(o: Any): Boolean = o match {
      case s: Seg => startMs == s.startMs && durMs == s.durMs &&
        java.util.Arrays.equals(bytes, s.bytes)
      case _ => false
    }
    override def hashCode: Int =
      (startMs, durMs, java.util.Arrays.hashCode(bytes)).##
  }

  /** Carried per-session state. `segs` holds the not-yet-emitted chunks
    * (including the overlap carried back), `bufferStartMs` the buffer
    * origin on the session's time axis, `lastPartialMs` the debounce
    * clock. */
  final case class State(
      segs: Vector[Seg],
      bufferStartMs: Long,
      silenceMs: Long,
      speechSeen: Boolean,
      lastPartialMs: Long,
      nEmitted: Int) {
    def buffer: Array[Byte] = bytesBefore(segs, Long.MaxValue)
    def bufferMs: Long = segs.map(_.durMs).sum
  }

  val empty: State = State(Vector.empty, 0L, 0L, false, Long.MinValue, 0)

  /** Byte offset of time `t` within `s`: proportional to `t` WITHIN the
    * segment (exact at chunk boundaries). */
  private def cut(s: Seg, t: Long): Int =
    if (t >= s.endMs) s.bytes.length
    else if (t <= s.startMs) 0
    else (s.bytes.length.toLong * (t - s.startMs) / s.durMs).toInt

  /** The buffered bytes strictly before `t`, copied once into one array. */
  private def bytesBefore(segs: Vector[Seg], t: Long): Array[Byte] = {
    val out = new Array[Byte](segs.iterator.map(cut(_, t)).sum)
    var pos = 0
    segs.foreach { s =>
      val n = cut(s, t)
      System.arraycopy(s.bytes, 0, out, pos, n)
      pos += n
    }
    out
  }

  /** The segments from `t` on; a segment straddling `t` keeps a copy of
    * its suffix, re-pinned to start at `t`. */
  private def segsFrom(segs: Vector[Seg], t: Long): Vector[Seg] =
    segs.filter(_.endMs > t).map { s =>
      if (s.startMs >= t) s
      else Seg(t, s.endMs - t,
        java.util.Arrays.copyOfRange(s.bytes, cut(s, t), s.bytes.length))
    }

  def rms(bytes: Array[Byte]): Double =
    if (bytes.isEmpty) 0.0
    else {
      var sum = 0.0
      var i = 0
      while (i < bytes.length) {
        val v = (bytes(i) & 0xff).toDouble
        sum += v * v
        i += 1
      }
      math.sqrt(sum / bytes.length)
    }

  /** True when `st` carries nothing a later chunk would read: no
    * buffered audio and no VAD or debounce history. Its time origin is
    * reset by the next chunk, so the state store can drop it (W6). */
  private[streaming] def isIdle(st: State): Boolean =
    st.copy(bufferStartMs = empty.bufferStartMs) == empty

  /** Process one ordered slice of a session's chunks. Returns the new
    * state and the emitted events. Pure — no wall clock, no I/O. */
  def step(
      sessionId: String,
      chunks: Seq[AudioChunk],
      state: State,
      cfg: Config = Config(),
      inferencer: Inferencer = SurrogateInferencer)
      : (State, Seq[TranscriptEvent]) = {
    var st = state
    val out = Seq.newBuilder[TranscriptEvent]

    def emit(upToMs: Long, isFinal: Boolean): Unit = {
      // W4: emit [bufferStartMs, upToMs), retain the trailing overlap.
      val emitMs = upToMs - st.bufferStartMs
      if (emitMs > 0 && st.segs.nonEmpty) {
        // W8: a debounced partial neither emits NOR advances the buffer —
        // the audio keeps accumulating and is transcribed by the next
        // allowed emission (the reference delays processing, it never
        // drops the segment; `stt_worker.py:332-356` + partial interval).
        val debounced = !isFinal &&
          st.lastPartialMs != Long.MinValue &&
          upToMs - st.lastPartialMs < cfg.partialIntervalMs
        if (debounced) return
        val (text, conf) = inferencer.transcribe(bytesBefore(st.segs, upToMs))
        out += TranscriptEvent(
          sessionId = sessionId,
          eventType = if (isFinal) "FINAL" else "PARTIAL",
          text = text,
          confidence = conf,
          resultOffsetMs = st.bufferStartMs,
          isPartial = !isFinal)
        st = st.copy(lastPartialMs = upToMs, nEmitted = st.nEmitted + 1)
        val keepFromMs = if (isFinal) upToMs
          else math.max(st.bufferStartMs, upToMs - cfg.overlapMs)
        val keptSegs = if (isFinal) Vector.empty[Seg]
          else segsFrom(st.segs, keepFromMs)
        st = st.copy(segs = keptSegs, bufferStartMs = keepFromMs)
      }
    }

    chunks.sortBy(c => (c.offsetMs, c.durationMs)).foreach { c =>
      // W1: append; establish the time base from the first chunk.
      if (st.segs.isEmpty)
        st = st.copy(bufferStartMs = c.offsetMs)
      st = st.copy(segs =
        st.segs :+ Seg(c.offsetMs, c.durationMs, c.content))
      // VAD bookkeeping (P7 energy VAD, `stt_worker.py:522-536`).
      if (rms(c.content) < cfg.silenceRmsThreshold)
        st = st.copy(silenceMs = st.silenceMs + c.durationMs)
      else
        st = st.copy(silenceMs = 0L, speechSeen = true)
      val endMs = c.offsetMs + c.durationMs
      if (c.isFinal) {
        // W6: flush everything, state resets.
        emit(endMs, isFinal = true)
        st = empty.copy(bufferStartMs = endMs)
      } else if (st.bufferMs >= cfg.chunkMs) {
        // W2: size trigger.
        emit(endMs, isFinal = false)
      } else if (st.speechSeen && st.silenceMs >= cfg.vadSilenceMs) {
        // W3: VAD endpoint — emit through the start of the silence run.
        emit(endMs - st.silenceMs, isFinal = false)
        st = st.copy(speechSeen = false)
      }
    }
    (st, out.result())
  }

  /** W5: timeout finalization — flush whatever remains. */
  def finalize(sessionId: String, state: State,
      inferencer: Inferencer = SurrogateInferencer)
      : Seq[TranscriptEvent] = {
    val buffer = state.buffer
    if (buffer.isEmpty) Seq.empty
    else {
      val (text, conf) = inferencer.transcribe(buffer)
      Seq(TranscriptEvent(sessionId, "END_OF_UTTERANCE", text, conf,
        state.bufferStartMs, isPartial = false))
    }
  }
}

object SessionProcessor {

  /** `events` (`user_id`, `ts` epoch-nanos, `props`) as chunks: one
    * session per user, each offset in ms from that user's first event
    * in `bases`, 50 ms long, none final. A stream passes its static
    * history as `bases`; a batch passes itself. */
  def chunksOf(events: DataFrame, bases: DataFrame): Dataset[AudioChunk] = {
    val base = bases.groupBy(col("user_id"))
      .agg(min(expr("ts div 1000")).as("base_us"))
    events
      .join(broadcast(base), "user_id")
      .select(
        col("user_id").cast("string").as("sessionId"),
        encode(coalesce(col("props"), lit("")), "UTF-8").as("content"),
        ((expr("ts div 1000") - col("base_us")) / 1000L).cast("long")
          .as("offsetMs"),
        lit(50L).as("durationMs"),
        lit(false).as("isFinal"))
      .as[AudioChunk](Encoders.product[AudioChunk])
  }

  /** Event-time variant of W5: sessions finalize when the WATERMARK
    * passes lastChunkEnd + idleGapMs — fully deterministic under
    * checkpoint replay (processing-time timeouts depend on the wall
    * clock; at 100 TB with task retries that nondeterminism leaks
    * duplicate END_OF_UTTERANCE events; this form cannot).
    *
    * `chunks` must already carry a watermark on an event-time column
    * derived from `offsetMs` (see SessionEventTimeSpec). */
  def attachEventTime(
      chunks: Dataset[AudioChunk],
      cfg: SessionLogic.Config = SessionLogic.Config(),
      idleGapMs: Long = 300000L): Dataset[TranscriptEvent] =
    sessionize(chunks, cfg, GroupStateTimeout.EventTimeTimeout()) {
      (gs, batch) => gs.setTimeoutTimestamp(
        batch.map(c => c.offsetMs + c.durationMs).max + idleGapMs)
    }

  /** Wire the session logic into a (streaming or batch) Dataset. With a
    * streaming source use OutputMode.Append/Update and a checkpoint; the
    * state store carries [[SessionLogic.State]] across micro-batches.
    *
    * `timeoutMs > 0` enables the reference's 300 s idle finalization
    * (W5) via ProcessingTimeTimeout — note that with it enabled the
    * query keeps scheduling batches to check timeouts, so tests that
    * wait for quiescence (processAllAvailable) should pass 0. */
  def attach(
      chunks: Dataset[AudioChunk],
      cfg: SessionLogic.Config = SessionLogic.Config(),
      timeoutMs: Long = 300000L): Dataset[TranscriptEvent] =
    sessionize(chunks, cfg,
      if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()) {
      (gs, _) => if (timeoutMs > 0) gs.setTimeoutDuration(timeoutMs)
    }

  /** The state function behind both variants. Chunks are grouped by the
    * `sessionId` column (a key read off the row, not a deserialized
    * chunk); the state row is a Kryo-encoded [[SessionLogic.State]],
    * whose segments write a length plus their raw bytes. A timed-out
    * session flushes and is removed (W5); an idle state — one just reset
    * by `isFinal` — is removed instead of stored (W6), and only a kept
    * state has its timeout armed by `arm`. */
  private def sessionize(
      chunks: Dataset[AudioChunk],
      cfg: SessionLogic.Config,
      timeout: GroupStateTimeout)(
      arm: (GroupState[SessionLogic.State], Seq[AudioChunk]) => Unit)
      : Dataset[TranscriptEvent] = {
    LocalCheckpointFiles.install(chunks.sparkSession)
    implicit val stateEnc = Encoders.kryo[SessionLogic.State]
    implicit val outEnc = Encoders.product[TranscriptEvent]
    chunks.groupBy(col("sessionId"))
      .as[String, AudioChunk](Encoders.STRING, Encoders.product[AudioChunk])
      .flatMapGroupsWithState[SessionLogic.State, TranscriptEvent](
        OutputMode.Append(), timeout) {
        case (sid, it, gs: GroupState[SessionLogic.State]) =>
          val state = gs.getOption.getOrElse(SessionLogic.empty)
          if (gs.hasTimedOut) {
            gs.remove()
            SessionLogic.finalize(sid, state).iterator
          } else {
            val batch = it.toSeq
            val (next, events) = SessionLogic.step(sid, batch, state, cfg)
            if (SessionLogic.isIdle(next)) gs.remove()
            else {
              gs.update(next)
              arm(gs, batch)
            }
            events.iterator
          }
      }
  }
}
