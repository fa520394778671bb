package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingContainment
import graft.streaming.StreamingContainment.{ContainPair, Doc}
import graft.expressions.Registration

/** Streaming containment gate: the probe kernel is bit-identical to the
  * batch q168 constants, a quote-and-extend pair is surfaced on the
  * contained doc's arrival at ANY asymmetry (where banding collapses),
  * the containment estimate is ≈1 for true containment, unrelated docs
  * never surface, per-shingle state is df-capped, and shingle state
  * survives kill-and-resume. */
class StreamingContainmentSpec extends SparkSpec {

  // deterministic synthetic corpus: distinct words so trigram sets are
  // clean; quote = the first 12 words of container
  private def wordsOf(seed: Int, n: Int): String =
    (0 until n).map(i => s"w${seed}x$i").mkString(" ")

  test("hash32 / trigram kernel matches the batch engine expressions") {
    Registration.install(spark)
    import spark.implicits._
    val texts = Seq("alpha beta gamma delta", "one two three")
    val df = texts.toDF("text")
      .withColumn("w", split(col("text"), " "))
      .select(
        expr("transform(w, x -> cast(conv(substring(md5(x), 1, 8), 16, 10) " +
          "as bigint))").as("wh"),
        expr("array_distinct(transform(sequence(0, size(w) - 3), " +
          "j -> cast(conv(substring(md5(concat(w[j], ' ', w[j+1], ' ', " +
          "w[j+2])), 1, 8), 16, 10) as bigint)))").as("th"))
      .collect()
    texts.zip(df).foreach { case (t, r) =>
      val words = t.split(' ')
      assert(words.map(StreamingContainment.hash32).toSeq ==
        r.getSeq[Long](0), s"word hash mismatch for '$t'")
      assert(StreamingContainment.triHashes(words).toSeq ==
        r.getSeq[Long](1), s"trigram hash mismatch for '$t'")
    }
  }

  test("quote-and-extend pair surfaces on arrival even at 8x asymmetry") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val quote = wordsOf(1, 12)
    val container = quote + " " + wordsOf(2, 84) // 8x the quote's length
    val unrelated = wordsOf(3, 24)

    val input = MemoryStream[Doc]
    val query = StreamingContainment.attach(input.toDS())
      .writeStream.format("memory").queryName("contain_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(Doc(1, container), Doc(2, unrelated))
      query.processAllAvailable()
      assert(spark.table("contain_out").count() == 0,
        "nothing should surface before the contained doc arrives")

      input.addData(Doc(3, quote))
      query.processAllAvailable()
      val pairs = spark.table("contain_out").as[ContainPair].collect()
      assert(pairs.nonEmpty,
        "the contained arrival must probe-hit its container")
      assert(pairs.map(p => (p.docId, p.matchId)).distinct.toSeq ==
        Seq((3L, 1L)), s"only (3 contains-in 1) expected: ${pairs.toList}")
      // Ĉ = Ĵ(na+nb)/((1+Ĵ)min) is 1.0 in expectation for true
      // containment; with 8 perms it is coarse, so assert a loose floor
      assert(pairs.exists(_.estContainment >= 0.5),
        s"estimate too low for a fully-contained quote: ${pairs.toList}")
    } finally query.stop()
  }

  test("estimator is ~1 for exact duplicates and pairs emit per probing key only") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val base = wordsOf(5, 24)
    val input = MemoryStream[Doc]
    val query = StreamingContainment.attach(input.toDS())
      .writeStream.format("memory").queryName("contain_dup")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(Doc(10, base))
      query.processAllAvailable()
      input.addData(Doc(11, base))
      query.processAllAvailable()
      val pairs = spark.table("contain_dup").as[ContainPair].collect()
      assert(pairs.nonEmpty && pairs.forall(p =>
          p.docId == 11 && p.matchId == 10 && p.estContainment == 1.0),
        s"${pairs.toList}")
      // identical docs share all 4 argmin probes → at most 4 emissions
      assert(pairs.length <= 4, s"more emissions than probe keys: ${pairs.length}")
    } finally query.stop()
  }

  test("df-cap evicts oldest entries per shingle key") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val base = wordsOf(7, 24)
    val input = MemoryStream[Doc]
    val query = StreamingContainment.attach(input.toDS(), maxPerShingle = 2)
      .writeStream.format("memory").queryName("contain_cap")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(Doc(20, base), Doc(21, base), Doc(22, base))
      query.processAllAvailable()
      input.addData(Doc(23, base))
      query.processAllAvailable()
      val matchesOf23 = spark.table("contain_cap").as[ContainPair].collect()
        .filter(_.docId == 23).map(_.matchId).toSet
      assert(matchesOf23 == Set(21L, 22L),
        s"evicted doc 20 must not match; got $matchesOf23")
    } finally query.stop()
  }

  test("shingle state survives a restart") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val quote = wordsOf(8, 12)
    val container = quote + " " + wordsOf(9, 36)
    val dir = java.nio.file.Files.createTempDirectory("ckpt_ct").toString
    val input = MemoryStream[Doc]
    def startQuery() = StreamingContainment.attach(input.toDS())
      .writeStream.format("parquet")
      .option("checkpointLocation", s"$dir/ckpt").option("path", s"$dir/out")
      .outputMode("append").start()

    val q1 = startQuery()
    try {
      input.addData(Doc(1, container))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(spark.read.parquet(s"$dir/out").count() == 0)

    val q2 = startQuery()
    try {
      input.addData(Doc(2, quote))
      q2.processAllAvailable()
    } finally q2.stop()
    val pairs = spark.read.parquet(s"$dir/out").as[ContainPair].collect()
    assert(pairs.map(p => (p.docId, p.matchId)).distinct.toSeq ==
      Seq((2L, 1L)), s"restored state must surface the pair: ${pairs.toList}")
  }

  test("TTL horizon bounds state under a GROWING vocabulary (the Heaps case)") {
    // PLANS.md's Heaps-law series measured this gate's state
    // corpus-LINEAR under growing vocabulary (252k → 513k → 1.04M rows
    // at 1×/2×/4×): character-trigram keys mint with every new word,
    // so the df cap alone cannot bound state — the documented
    // production bound is the TTL horizon. This case PROVES that bound:
    // three stream phases, each introducing entirely fresh vocabulary
    // (the adversarial Heaps limit), run with and without a TTL. The
    // no-TTL control accumulates every phase's shingle keys; with the
    // TTL, keys idle since an earlier phase are evicted when a later
    // batch fires, so final state tracks the ACTIVE horizon, not the
    // stream's lifetime vocabulary.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    def phaseDocs(p: Int): Seq[Doc] =
      (0 until 40).map { d =>
        Doc(p * 1000L + d,
          (0 until 24).map(k => s"p${p}v${(d * 7 + k) % 120}").mkString(" "))
      }

    // control: NoTimeout — every phase's shingle keys accumulate
    // (processAllAvailable quiesces fine without registered timeouts)
    val unbounded = {
      val input = MemoryStream[Doc]
      val q = StreamingContainment.attach(input.toDS())
        .writeStream.format("memory").queryName("contain_heaps_ctl")
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      try {
        (1 to 3).foreach { p => input.addData(phaseDocs(p)) }
        q.processAllAvailable()
        q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      } finally q.stop()
    }
    assert(unbounded > 0)

    // TTL run. NOTE (the StreamingNearDupSpec rule): once
    // ProcessingTimeTimeout is registered the engine re-plans
    // timeout-check batches forever, so processAllAvailable() never
    // observes a quiescent stream — pace phases by wall clock and POLL
    // the state-rows metric with a deadline. The assertion converges
    // regardless of scheduler timing: every key idle past the TTL gets
    // evicted by some later timeout batch, so state falls under the
    // bound as soon as the first two phases' horizon passes.
    val input = MemoryStream[Doc]
    val q = StreamingContainment.attach(input.toDS(), stateTtlMs = 400L)
      .writeStream.format("memory").queryName("contain_heaps_ttl")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    try {
      for (p <- 1 to 3) {
        input.addData(phaseDocs(p))
        Thread.sleep(1200) // let the phase process + its horizon pass
      }
      val deadline = System.currentTimeMillis() + 60000
      var bounded = Long.MaxValue
      while (bounded >= unbounded * 6 / 10 &&
        System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        bounded = Option(q.lastProgress).toSeq
          .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
      }
      // the control holds all three phases' keys; the TTL run's state
      // collapses to (at most) the still-active horizon — a regression
      // where the TTL stops evicting reads ~100% and times out here
      assert(bounded < unbounded * 6 / 10,
        s"TTL did not bound state under growing vocabulary: " +
          s"bounded=$bounded vs unbounded=$unbounded")
      // and the horizon is still a working gate: containment WITHIN
      // the TTL window must still surface after all that eviction
      // (one batch — same-batch arrival order is the df-cap test's
      // proven path, and it cannot race the 400 ms TTL)
      val container = wordsOf(99, 32)
      input.addData(Doc(9001, container),
        Doc(9002, container.split(' ').take(12).mkString(" ")))
      val liveDeadline = System.currentTimeMillis() + 60000
      var live = Array.empty[ContainPair]
      while (live.isEmpty && System.currentTimeMillis() < liveDeadline) {
        Thread.sleep(200)
        live = spark.table("contain_heaps_ttl").as[ContainPair].collect()
          .filter(_.docId == 9002L)
      }
      assert(live.nonEmpty && live.forall(_.matchId == 9001L),
        s"live matching broke under TTL: ${live.toList}")
    } finally q.stop()
  }
}
