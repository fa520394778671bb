package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.PqSemDedupIndex
import graft.streaming.{StreamingSemDedup, StreamingSemDedupPq}
import graft.streaming.StreamingSemDedupPq.{Codebook, Member, Vec}

/** The PQ-state gate must change WHERE the bytes live, not what the
  * screen says: the deployed codebook equals the one the batch index
  * persists (bit-identical integer training), the emitted candidate
  * set over a full corpus equals the ring+floor criterion computed
  * directly, state rows stay one per active cell, and eviction keeps
  * the newest members exactly like the full-precision gate. */
class StreamingSemDedupPqSpec extends SparkSpec {

  private def cleanup(tables: String*): Unit =
    GraftSession.dropTables(spark, tables: _*)

  private def corpus(): Array[(Long, Array[Float])] =
    Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)

  test("driver-trained codebook equals the batch index's persisted codebook") {
    cleanup("pqs_cb_idx", "pqs_cb_idx_cb")
    try {
      val vecs = corpus()
      PqSemDedupIndex.build(
        Tables.embeddings(spark, sf0001)
          .select(col("vec_id"), col("embedding")),
        "pqs_cb_idx", gridN = vecs.length.toLong)
      val fromIdx = Codebook.fromIndex(spark, "pqs_cb_idx")
      val trained = Codebook.train(vecs.map(_._2))
      (0 until 4).foreach { s =>
        assert(fromIdx.seeds(s).toSeq == trained.seeds(s).toSeq,
          s"subspace $s seed sets differ")
        assert(fromIdx.n(s).toSeq == trained.n(s).toSeq)
        fromIdx.csum(s).zip(trained.csum(s)).zipWithIndex.foreach {
          case ((a, b), i) =>
            assert(a.toSeq == b.toSeq, s"csum differs at subsp $s code $i")
        }
      }
    } finally cleanup("pqs_cb_idx", "pqs_cb_idx_cb")
  }

  test("full-corpus emissions equal the ring+floor screen; state is one row per active cell") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val vecs = corpus().sortBy(_._1)
    val cb = Codebook.train(vecs.map(_._2))
    val nbits = StreamingSemDedup.deployedBits(vecs.length.toLong)
    val cellMask = (1L << nbits) - 1
    val floor = 0.8 - 0.25

    // expected: newer j probes, older i is stored — pair (j, i) emits
    // iff their cells differ in ≤2 of the b bits and the ADC cosine of
    // j's vector vs i's reconstruction clears the floor
    val enc = vecs.map { case (id, e) =>
      val u = StreamingSemDedup.microUnits(e)
      val codes = cb.encode(u)
      (id, u, math.sqrt(e.map(x => x.toDouble * x.toDouble).sum),
        StreamingSemDedup.signature(e) & cellMask,
        Member(id, codes, cb.rdenom(codes)))
    }
    val expected = (for {
      i <- enc.indices; j <- (i + 1) until enc.length
      if java.lang.Long.bitCount(enc(i)._4 ^ enc(j)._4) <= 2
      c = cb.adcCos(enc(j)._2, enc(j)._3, enc(i)._5)
      if c >= floor
    } yield (enc(j)._1, enc(i)._1, c)).toSet

    val input = MemoryStream[Vec]
    val q = StreamingSemDedupPq
      .attach(input.toDS(), nbits, cb, maxPerCell = vecs.length)
      .writeStream.format("memory").queryName("pq_gate_out")
      .outputMode("append").start()
    try {
      input.addData(vecs.map(v => Vec(v._1, v._2)).toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("pq_gate_out")
        .as[(Long, Long, Double)].collect().toSet
      assert(got == expected,
        s"gate emitted ${got.size} candidates, screen says ${expected.size}")
      // state: one row per ACTIVE cell (the StreamingSemDedup shape)
      val activeCells = enc.map(_._4).distinct.length
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows == activeCells,
        s"state rows $stateRows != active cells $activeCells")
    } finally q.stop()
  }

  test("compressed state survives a restart: post-restart arrival matches pre-stop member") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Array.tabulate(64)(i => (0.1f + 0.01f * i))
    val far = Array.tabulate(64)(i => (if (i % 2 == 0) -0.5f else 0.4f))
    val cb = Codebook.train(Seq(base, far))
    val dir = java.nio.file.Files.createTempDirectory("ckpt_pq").toString
    val input = MemoryStream[Vec]
    def startQuery() = StreamingSemDedupPq
      .attach(input.toDS(), nbits = 2, cb)
      .writeStream.format("parquet")
      .option("checkpointLocation", s"$dir/ckpt").option("path", s"$dir/out")
      .outputMode("append").start()

    // run 1: seed the member state (codes, not vectors), stop
    val q1 = startQuery()
    try {
      input.addData(Vec(1L, base), Vec(2L, far))
      q1.processAllAvailable()
    } finally q1.stop()

    // run 2: same checkpoint — an identical arrival must match run 1's
    // stored CODES (the compressed member round-trips the state store)
    val q2 = startQuery()
    try {
      input.addData(Vec(3L, base))
      q2.processAllAvailable()
    } finally q2.stop()
    val pairs = spark.read.parquet(s"$dir/out")
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs.map(p => (p._1, p._2)).contains((3L, 1L)),
      s"restored code state must match the identical arrival: $pairs")
    assert(!pairs.map(p => (p._1, p._2)).contains((3L, 2L)),
      s"the far vector must stay below the floor: $pairs")
  }

  test("eviction keeps the newest members at maxPerCell") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Array.fill(64)(0.1f)
    val cb = Codebook.train(Seq(base))
    val input = MemoryStream[Vec]
    val q = StreamingSemDedupPq
      .attach(input.toDS(), nbits = 0, cb, maxPerCell = 1)
      .writeStream.format("memory").queryName("pq_gate_evict")
      .outputMode("append").start()
    try {
      input.addData(Seq(Vec(1L, base), Vec(2L, base), Vec(3L, base)))
      q.processAllAvailable()
      val got = spark.table("pq_gate_evict")
        .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
      // id 2 matches stored 1; 1 is then evicted (maxPerCell=1), so 3
      // matches only 2 — identical vectors, adc ≈ 1 clears any floor
      assert(got == Set((2L, 1L), (3L, 2L)), s"eviction broke: $got")
    } finally q.stop()
  }
}
