package graft.model

/** Typed contracts for the engine, derived from the reference's protobuf
  * surface (see SURVEY.md §1; reference `protos/stream_process.proto`).
  *
  * These case classes are the `Dataset[T]` encoders for the streaming
  * operators; the batch/oracle queries use plain DataFrames.
  */

/** An ordered chunk of an audio event stream within one session.
  * Reference: `protos/stream_process.proto:100-105`. */
case class AudioChunk(
    sessionId: String,
    content: Array[Byte],
    offsetMs: Long,
    durationMs: Long,
    isFinal: Boolean)

/** Emitted transcript events: PARTIAL / FINAL / END_OF_UTTERANCE.
  * Reference: `protos/stream_process.proto:114-128`. */
case class TranscriptEvent(
    sessionId: String,
    eventType: String,
    text: String,
    confidence: Double,
    resultOffsetMs: Long,
    isPartial: Boolean)
