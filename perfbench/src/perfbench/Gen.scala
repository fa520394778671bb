package perfbench

import graft.model.AudioChunk

/** Seeded input generators. The same seed always gives the same inputs;
  * the input *properties* (session count, rates, shares, sizes) are fixed
  * per workload, so seeds change which concrete inputs are drawn, not
  * how much work they are. */
object Gen {

  /** Shape of the generated audio chunk stream, taken from the
    * reference's streaming traffic (BASELINE.md):
    *
    *  - `sessions` concurrent streams (max_concurrent_streams = 100,
    *    BASELINE.md line 17), each sending in real time: one `chunkMs`
    *    chunk per `chunkMs` of wall time, so no session sends more than a
    *    millisecond of audio per millisecond;
    *  - `chunkMs` = 100 ms chunks, and sessions that last `sessionMs` =
    *    10 s (the reference's streaming benchmark: 20 sessions × 10 s,
    *    100 ms chunks, BASELINE.md line 57). A session's last chunk
    *    carries isFinal and the stream continues as a new session, so 1%
    *    of chunks are final. Session ages start at seeded offsets, so
    *    finals are spread over time;
    *  - `bytesPerMs` = 32 payload bytes per ms of audio (16 kHz
    *    LINEAR16, 3,200 B per chunk);
    *  - each session alternates speech runs of `speechMs` and silent runs
    *    of `silenceMs` (uniform ranges). Silent runs are at least the
    *    300 ms VAD endpoint (BASELINE.md line 28), so each one trips it.
    *    The run lengths are chosen, not taken from the reference. */
  final case class ChunkShape(
      sessions: Int = 100,
      chunkMs: Int = 100,
      sessionMs: Int = 10000,
      bytesPerMs: Int = 32,
      speechMs: (Int, Int) = (1000, 3000),
      silenceMs: (Int, Int) = (300, 800))

  def rng(seed: Long, stream: Long): java.util.Random =
    new java.util.Random(seed * 0x9E3779B97F4A7C15L + stream)

  /** `files` files of `steps` chunk periods each; every period holds one
    * chunk from each session. Stream `stream` (with its own session ids)
    * keeps different seeded inputs apart. Every session's offsets rise
    * strictly across files, so any split at file boundaries keeps each
    * session's chunks in order. */
  def chunks(seed: Long, stream: Int, p: ChunkShape, files: Int,
      steps: Int): IndexedSeq[IndexedSeq[AudioChunk]] = {
    val r = rng(seed, stream)
    def within(range: (Int, Int)): Long =
      (range._1 + r.nextInt(range._2 - range._1 + 1)).toLong
    val born = Array.fill(p.sessions)(0)
    def name(s: Int) = f"s$stream-$s%03d-${born(s)}%04d"
    // age within the session, in chunks, and the current speech or
    // silent run: whether it is silent and how much of it is left
    val periods = p.sessionMs / p.chunkMs
    val age = Array.fill(p.sessions)(r.nextInt(periods))
    val silent = Array.fill(p.sessions)(r.nextDouble() < 0.2)
    val runLeft = Array.tabulate(p.sessions)(s =>
      within(if (silent(s)) p.silenceMs else p.speechMs) * r.nextInt(100) / 100)
    val dur = p.chunkMs
    (0 until files).map { _ =>
      (0 until steps).flatMap { _ =>
        (0 until p.sessions).map { s =>
          if (runLeft(s) <= 0) {
            silent(s) = !silent(s)
            runLeft(s) = within(if (silent(s)) p.silenceMs else p.speechMs)
          }
          val bytes = new Array[Byte](dur * p.bytesPerMs)
          r.nextBytes(bytes)
          // silence: unsigned byte values 0..3, well under the RMS gate
          if (silent(s)) bytes.indices.foreach(i => bytes(i) = (bytes(i) & 3).toByte)
          val isFinal = age(s) == periods - 1
          val c = AudioChunk(name(s), bytes, 1000L + age(s).toLong * dur, dur,
            isFinal = isFinal)
          runLeft(s) -= dur
          if (isFinal) { age(s) = 0; born(s) += 1 } else age(s) += 1
          c
        }
      }
    }
  }

  /** The serve legs, in a fixed canonical order. */
  val Legs: Seq[String] =
    Seq("search", "phrase", "snippet", "hybrid", "prf", "mmr", "fuzzy")

  /** One serve request: a leg and the query documents it carries. */
  final case class Request(id: Int, leg: String, docs: Seq[Long])

  /** One request per leg, each over `perRequest` distinct query docs
    * drawn from `docIds` (hybrid draws from `vecIds`, the docs that have
    * an embedding), in a seeded order. */
  def serveRequests(seed: Long, docIds: IndexedSeq[Long],
      vecIds: IndexedSeq[Long], perRequest: Int): Seq[Request] = {
    val r = scala.util.Random.javaRandomToRandom(rng(seed, 2))
    r.shuffle(Legs).zipWithIndex.map { case (leg, i) =>
      val pool = if (leg == "hybrid") vecIds else docIds
      Request(i, leg, r.shuffle(pool).take(perRequest).sorted)
    }
  }

  /** The prepared phase's request sequence: request indexes drawn
    * uniformly from `n` requests. */
  def preparedMix(seed: Long, n: Int): Iterator[Int] = {
    val r = rng(seed, 3)
    Iterator.continually(r.nextInt(n))
  }
}
