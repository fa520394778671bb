package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingSemDedup
import graft.streaming.StreamingSemDedup.{SemDupPair, Vec}
import graft.expressions.Registration

/** Streaming semantic-dedup gate: the signature kernel is bit-identical
  * to the deployed batch cell grid, the streamed emissions over a real
  * corpus equal the batch ≤2-bit multiprobe criterion (newer finds
  * older, exactly once), state stays bounded per cell, and cell state
  * survives kill-and-resume. */
class StreamingSemDedupSpec extends SparkSpec {

  private def corpus: Array[(Long, Array[Float])] =
    Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  test("signature & cell agree with the batch grid kernel for every corpus vector") {
    Registration.install(spark)
    val emb = Tables.embeddings(spark, sf0001)
    val batchCells = graft.queries.VectorQueries
      .withCells(emb, graft.queries.VectorQueries.gridCapRow(emb))
      .select(col("vec_id"), col("cell"), col("nbits"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val nbits = batchCells.head._3
    val mask = (1L << nbits) - 1
    batchCells.foreach { case (id, cell, _) =>
      val e = corpus.find(_._1 == id).get._2
      assert((StreamingSemDedup.signature(e) & mask) == cell,
        s"vec $id: streaming cell != batch cell")
    }
  }

  test("streamed emissions equal the batch <=2-bit criterion, exactly once each") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val vecs = corpus
    val nbits = StreamingSemDedup.deployedBits(vecs.length.toLong)
    val mask = (1L << nbits) - 1
    val threshold = 0.3 // the batch pipeline's verify threshold (q172/q176)

    // expected: all (older, newer) pairs with cells within hamming 2
    // and cosine >= threshold — the batch grid's candidate+verify rule
    def nrm(a: Array[Float]) = math.sqrt(a.map(x => x.toDouble * x).sum)
    val cells = vecs.map { case (id, e) =>
      (id, StreamingSemDedup.signature(e) & mask, e, nrm(e))
    }
    val expected = (for {
      i <- cells.indices.iterator
      j <- (i + 1) until cells.length
      if java.lang.Long.bitCount(cells(i)._2 ^ cells(j)._2) <= 2
      c = StreamingSemDedup.cosine(cells(i)._3, cells(i)._4,
        cells(j)._3, cells(j)._4)
      if c >= threshold
    } yield (cells(j)._1, cells(i)._1)).toSet

    val input = MemoryStream[Vec]
    val query = StreamingSemDedup
      .attach(input.toDS(), nbits, cosThreshold = threshold,
        maxPerCell = vecs.length)
      .writeStream.format("memory").queryName("semdedup_parity")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // three chunks → cross-batch AND same-batch coverage
      vecs.grouped(vecs.length / 3 + 1).foreach { chunk =>
        input.addData(chunk.map { case (id, e) => Vec(id, e) }.toIndexedSeq)
        query.processAllAvailable()
      }
      val emitted = spark.table("semdedup_parity").as[SemDupPair].collect()
      val emittedPairs = emitted.map(p => (p.vecId, p.matchId))
      assert(emittedPairs.length == emittedPairs.distinct.length,
        "a pair was emitted more than once")
      assert(emittedPairs.toSet == expected,
        s"streamed ${emittedPairs.length} pairs, batch criterion expects " +
          s"${expected.size}")
      assert(expected.nonEmpty, "test corpus produced no pairs — vacuous")
    } finally query.stop()
  }

  test("cross-batch arrival matches the earlier vector; unrelated never matches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val base = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val near = base.clone(); near(0) = (near(0) * 1.01f)
    val unrelated = Array.tabulate(64)(i =>
      (if (i % 2 == 0) 1f else -1f) * math.cos(3 * i + 2).toFloat)

    val input = MemoryStream[Vec]
    val query = StreamingSemDedup.attach(input.toDS(), nbits = 5)
      .writeStream.format("memory").queryName("semdedup_cross")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(Vec(1, base), Vec(2, unrelated))
      query.processAllAvailable()
      assert(spark.table("semdedup_cross").count() == 0,
        "nothing should match before a duplicate arrives")

      input.addData(Vec(3, near))
      query.processAllAvailable()
      val pairs = spark.table("semdedup_cross").as[SemDupPair].collect()
      assert(pairs.map(p => (p.vecId, p.matchId)).toSeq == Seq((3L, 1L)),
        s"only (3 matches 1) expected, got ${pairs.toList}")
      assert(pairs.head.cosine >= 0.99, s"${pairs.head}")
    } finally query.stop()
  }

  test("per-cell state is bounded by maxPerCell (oldest evicted)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val base = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val input = MemoryStream[Vec]
    val query = StreamingSemDedup
      .attach(input.toDS(), nbits = 5, maxPerCell = 2)
      .writeStream.format("memory").queryName("semdedup_cap")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(Vec(20, base), Vec(21, base), Vec(22, base))
      query.processAllAvailable()
      input.addData(Vec(23, base))
      query.processAllAvailable()
      val matchesOf23 = spark.table("semdedup_cap").as[SemDupPair].collect()
        .filter(_.vecId == 23).map(_.matchId).toSet
      assert(matchesOf23 == Set(21L, 22L),
        s"evicted vec 20 must not match; got $matchesOf23")
    } finally query.stop()
  }

  test("cell state survives a restart: post-restart arrival matches pre-stop vector") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val base = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val near = base.clone(); near(1) = (near(1) * 1.01f)

    val dir = java.nio.file.Files.createTempDirectory("ckpt_sd").toString
    val input = MemoryStream[Vec]
    def startQuery() = StreamingSemDedup.attach(input.toDS(), nbits = 5)
      .writeStream.format("parquet")
      .option("checkpointLocation", s"$dir/ckpt").option("path", s"$dir/out")
      .outputMode("append").start()

    val q1 = startQuery()
    try {
      input.addData(Vec(1, base))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(spark.read.parquet(s"$dir/out").count() == 0)

    val q2 = startQuery()
    try {
      input.addData(Vec(2, near))
      q2.processAllAvailable()
    } finally q2.stop()
    val pairs = spark.read.parquet(s"$dir/out").as[SemDupPair].collect()
    assert(pairs.map(p => (p.vecId, p.matchId)).toSeq == Seq((2L, 1L)),
      s"cell state must survive the restart exactly once: ${pairs.toList}")
  }

  test("the TTL variant still detects (timeout wiring exercised)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val base = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val input = MemoryStream[Vec]
    val query = StreamingSemDedup
      .attach(input.toDS(), nbits = 5, stateTtlMs = 3600000L)
      .writeStream.format("memory").queryName("semdedup_ttl")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      input.addData(Vec(30, base), Vec(31, base))
      val deadline = System.currentTimeMillis() + 60000
      var pairs = Array.empty[SemDupPair]
      while (pairs.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        pairs = spark.table("semdedup_ttl").as[SemDupPair].collect()
      }
      assert(pairs.map(p => (p.vecId, p.matchId)).toSeq == Seq((31L, 30L)),
        s"${pairs.toList}")
    } finally query.stop()
  }
}
