package graft

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, timestamp_millis}
import org.apache.spark.sql.streaming.Trigger
import graft.model.{AudioChunk, TranscriptEvent}
import graft.streaming.{SessionLogic, SessionProcessor}

/** W6 under the RocksDB state store: a session that ends with `isFinal`
  * leaves no state row behind (SURVEY.md §2.6 W6, explicit state removal
  * on the sentinel row), with the processing-time and the event-time
  * variants alike, and dropping the row changes no emitted event. */
class SessionStateRemovalSpec extends SparkSpec {

  private lazy val rocks = {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s
  }

  /** Five sessions of twelve 100 ms chunks each, the last one final;
    * loud and quiet chunks so both emission triggers fire. Offsets
    * start at 1 s, past the initial event-time watermark. */
  private val chunks: Seq[AudioChunk] = {
    val rnd = new scala.util.Random(7L)
    for (s <- 0 until 5; i <- 0 until 12) yield {
      val loud = (i / 3 + s) % 2 == 0
      AudioChunk(s"s$s",
        Array.fill(3200)((if (loud) rnd.nextInt(256) else rnd.nextInt(8)).toByte),
        1000L + 100L * i, 100L, isFinal = i == 11)
    }
  }

  private def canon(evts: Seq[TranscriptEvent]): Seq[String] =
    evts.map(e => s"${e.sessionId}|${e.eventType}|${e.text}|" +
      s"${e.confidence}|${e.resultOffsetMs}|${e.isPartial}").sorted

  private lazy val batchEvents: Seq[String] = canon(SessionProcessor.attach(
    spark.createDataset(chunks)(Encoders.product[AudioChunk]),
    timeoutMs = 0L).collect().toIndexedSeq)

  /** Feeds the chunks in two micro-batches (first half of every session,
    * then the rest) and returns the events and the final state row
    * count. */
  private def runStream(name: String)(
      wire: Dataset[AudioChunk] => Dataset[TranscriptEvent])
      : (Seq[String], Long) = {
    implicit val sqlCtx = rocks.sqlContext
    import rocks.implicits._
    val input = MemoryStream[AudioChunk]
    val q = wire(input.toDS()).writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      val (first, second) = chunks.partition(_.offsetMs < 1600L)
      input.addData(first)
      q.processAllAvailable()
      input.addData(second)
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      (canon(rocks.table(name).as[TranscriptEvent].collect().toIndexedSeq),
        stateRows)
    } finally q.stop()
  }

  test("finished sessions leave no state rows; events equal one batch attach") {
    val (events, stateRows) = runStream("w6_removal") { ds =>
      SessionProcessor.attach(ds, timeoutMs = 0L)
    }
    assert(stateRows == 0L, s"$stateRows state rows left after isFinal")
    assert(events.exists(_.contains("|FINAL|")))
    assert(events == batchEvents)
  }

  test("event-time variant drops finished sessions too") {
    val (events, stateRows) = runStream("w6_removal_et") { ds =>
      val withTime = ds
        .withColumn("event_time",
          timestamp_millis(col("offsetMs") + col("durationMs")))
        .withWatermark("event_time", "0 seconds")
        .as[AudioChunk](Encoders.product[AudioChunk])
      SessionProcessor.attachEventTime(withTime, SessionLogic.Config(),
        idleGapMs = 10000L)
    }
    assert(stateRows == 0L, s"$stateRows state rows left after isFinal")
    assert(events == batchEvents)
  }

  test("a session continuing after isFinal starts from a fresh state") {
    val first = chunks.filter(_.sessionId == "s0")
    val later = first.map(c => c.copy(offsetMs = c.offsetMs + 5000L))
    val (after, _) = SessionLogic.step("s0", first, SessionLogic.empty)
    val (a, outA) = SessionLogic.step("s0", later, after)
    val (b, outB) = SessionLogic.step("s0", later, SessionLogic.empty)
    assert(outA == outB && a == b)
  }
}
