package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.api.java.Optional
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState, Trigger}

import graft.functions.{ImageCodec, WavCodec}
import graft.functions.ImageOps.Gray
import graft.streaming.{BandedGate, StreamingAudioDedup, StreamingImageDedup}

/** The shared core under the banded dedup gates ([[BandedGate]]):
  * [[BandedGate.step]] on toy rows pins the row order, compare-before-
  * store, newest-first eviction at the cap, one slot per id under
  * redelivery, and the probe-only and store-only rows; the group-state
  * function pins that a timed-out key is removed and emits nothing; one
  * short streaming case per perceptual gate runs the TTL path end to
  * end; and a source scan keeps `flatMapGroupsWithState` in the core
  * and the two operators whose state is not a candidate list. */
class BandedGateSpec extends SparkSpec {

  /** Toy row: `id`, payload `v`, and whether it probes / stores. */
  private final case class Row(id: Long, v: Int, probe: Boolean = true,
      store: Boolean = true)

  /** Entries are (id, payload); a hit emits (row id, entry id) when the
    * payloads are equal. */
  private val rule = BandedGate.Rule[Row, (Long, Int), (Long, Long)](
    _.id, _._1, r => Option.when(r.store)((r.id, r.v)),
    (r, e) => Option.when(r.v == e._2)((r.id, e._1)), _.probe)

  private def step(rows: Seq[Row], seen: List[(Long, Int)] = Nil,
      cap: Int = 64) = BandedGate.step(rule, cap, rows, seen)

  test("rows run in id order and compare before they store") {
    val (out, seen) = step(Seq(Row(3, 7), Row(1, 7), Row(2, 7)))
    // a row never matches itself; each later id matches the earlier ones
    assert(out == Seq((2L, 1L), (3L, 2L), (3L, 1L)))
    assert(seen == List((3L, 7), (2L, 7), (1L, 7)))
  }

  test("newest-first eviction at the cap; probes see entries newest-first") {
    val (_, full) = step((1L to 5L).map(Row(_, 0)), cap = 3)
    assert(full == List((5L, 0), (4L, 0), (3L, 0)))
    val (out, next) = step(Seq(Row(9, 0, store = false)), full, cap = 3)
    assert(out == Seq((9L, 5L), (9L, 4L), (9L, 3L)))
    assert(next == full)
    // a storing arrival at the cap still sees the entry it then evicts
    val (out6, after6) = step(Seq(Row(6, 0)), full, cap = 3)
    assert(out6 == Seq((6L, 5L), (6L, 4L), (6L, 3L)))
    assert(after6 == List((6L, 0), (5L, 0), (4L, 0)))
  }

  test("one slot per id under redelivery, in one batch and across batches") {
    val (out1, seen1) = step(Seq(Row(1, 4), Row(2, 4), Row(2, 4)), cap = 3)
    // the second copy of 2 skips its stale self and replaces it
    assert(out1 == Seq((2L, 1L), (2L, 1L)))
    assert(seen1 == List((2L, 4), (1L, 4)))
    // a later redelivery of 1 (new payload) replaces 1's entry
    val (out2, seen2) = step(Seq(Row(1, 5)), seen1, cap = 3)
    assert(out2.isEmpty)
    assert(seen2 == List((1L, 5), (2L, 4)))
  }

  test("probe-only rows never store; store-only rows never probe") {
    val seen = List((1L, 6))
    val (probed, afterProbe) = step(Seq(Row(2, 6, store = false)), seen)
    assert(probed == Seq((2L, 1L)) && afterProbe == seen)
    val (stored, afterStore) = step(Seq(Row(3, 6, probe = false)), seen)
    assert(stored.isEmpty && afterStore == List((3L, 6), (1L, 6)))
  }

  test("a timed-out key is removed and emits nothing; a live key re-arms its TTL") {
    val timeout = GroupStateTimeout.ProcessingTimeTimeout()
    val expired = TestGroupState.create[List[(Long, Int)]](
      Optional.of(List((1L, 6))), timeout, 1000L, Optional.empty[Long](), true)
    val none = BandedGate.update(rule, 64, 400L)(Iterator(Row(2, 6)), expired)
    assert(none.isEmpty && expired.isRemoved && !expired.exists)

    val live = TestGroupState.create[List[(Long, Int)]](
      Optional.of(List((1L, 6))), timeout, 1000L, Optional.empty[Long](), false)
    val out = BandedGate.update(rule, 64, 400L)(Iterator(Row(2, 6)), live)
    assert(out.toSeq == Seq((2L, 1L)))
    assert(live.get == List((2L, 6), (1L, 6)))
    assert(live.getTimeoutTimestampMs.get == 1400L)
  }

  /** The TTL path end to end: `a` is stored, its keys time out and are
    * dropped, then `b` (a duplicate of `a`) and `b2` (a duplicate of
    * `b`) arrive together — `b2` matches `b`, nothing matches `a`. The
    * engine keeps planning timeout batches once a timeout is set, so
    * the case polls progress with a deadline instead of
    * `processAllAvailable`. */
  private def ttlDropsIdleKeys[I: Encoder](name: String, a: I, b: I, b2: I)(
      gate: Dataset[I] => Dataset[_]): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[I]
    val q = gate(input.toDS()).writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    def poll(what: String)(done: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (!done && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(done, s"$name: $what")
    }
    def stateRows =
      Option(q.lastProgress).toSeq.flatMap(_.stateOperators).map(_.numRowsTotal).sum
    try {
      input.addData(a)
      poll("the first row was never processed")(
        q.recentProgress.map(_.numInputRows).sum >= 1)
      poll("the idle keys were never dropped")(stateRows == 0)
      input.addData(b, b2)
      poll("the live pair was never emitted")(spark.table(name).count() > 0)
      val pairs = spark.table(name).collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.toSet == Set((3L, 2L)), s"$name: ${pairs.toList}")
    } finally q.stop()
  }

  test("audio gate TTL: an expired clip's blocks are dropped and match nothing") {
    import spark.implicits._
    import StreamingAudioDedup.Clip
    val wav = WavCodec.encode(Array.tabulate(256)(i => ((i * 37 % 97) * 64 - 3072).toShort))
    ttlDropsIdleKeys("banded_ttl_audio", Clip(1, wav), Clip(2, wav), Clip(3, wav))(
      StreamingAudioDedup.attach(_, stateTtlMs = 400L))
  }

  test("image gate TTL: an expired image's blocks are dropped and match nothing") {
    import spark.implicits._
    import StreamingImageDedup.Img
    val png = ImageCodec.encode(
      Gray(32, 16, Array.tabulate(512)(i => (40 + (i % 32) * 6 + (i / 32) * 3).toByte)),
      "png")
    ttlDropsIdleKeys("banded_ttl_image", Img(1, png), Img(2, png), Img(3, png))(
      StreamingImageDedup.attach(_, stateTtlMs = 400L))
  }

  test("flatMapGroupsWithState is called only by BandedGate and the two non-list states") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"sources not found under $root")
    val allowed = Set("BandedGate.scala", "SessionProcessor.scala", "StreamingEnrich.scala")
    val call = """\.(flatMap|map)GroupsWithState\b""".r
    val offenders = for {
      file <- Files.walk(root).iterator().asScala.toSeq
      if file.toString.endsWith(".scala")
      if !allowed.contains(file.getFileName.toString)
      (line, i) <- Files.readAllLines(file).asScala.zipWithIndex
      if call.findFirstIn(line).isDefined
    } yield s"${root.relativize(file)}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "put a candidate-list gate on graft.streaming.BandedGate:\n" +
        offenders.mkString("\n"))
  }
}
