package graft.streaming

import org.apache.spark.sql.Dataset

import graft.queries.VectorQueries

/** Streaming SEMANTIC dedup — [[StreamingNearDup]]'s pattern in
  * embedding space: every arriving vector is checked against the
  * vectors already seen in its sign-LSH cell NEIGHBORHOOD (its own
  * cell plus the ≤2-bit flip cells — exactly the multiprobe rings the
  * batch grid q172 ships), and cosine-verified pairs stream out the
  * moment the duplicate arrives. This is the ingest-time gate in
  * front of the batch semantic-dedup pass, the embedding analog of
  * the crawl gate.
  *
  * The signature kernel is BIT-IDENTICAL to the deployed batch grid:
  * the same 16 deterministic ±1 hyperplanes
  * ([[VectorQueries.planeSign]]), the same exact micro-unit integer
  * sums (HALF_UP at 10⁻⁶, Spark `round` semantics), the same low-b
  * cell truncation — so a vector admitted here lands in the same cell
  * a later batch pass or [[graft.operators.DeltaSemDedupIndex]] scan
  * would compute. `nbits` is the deployed grid depth (q172's
  * occupancy rule, [[deployedBits]]), fixed at attach time the way
  * the snapshot index fixes it at build time.
  *
  * State is keyed by CELL — the key the batch join shuffles on — under
  * [[BandedGate]]'s state rules, at most `maxPerCell` members a cell.
  * Only a vector's HOME cell stores it; the probe rows (1-bit and 2-bit
  * flips, 1 + b + C(b,2) per arrival) QUERY ONLY, so state is one row
  * per active cell regardless of the probe fan-out. Each matching pair
  * is emitted EXACTLY once: the newer vector's probe whose flip mask
  * equals the signatures' differing-bit set is unique, and only
  * arrivals probe (members never re-probe), so there is no
  * double-emission to dedup downstream — one better than the text
  * gate's per-band emissions. Within a batch, a later-id vector finds
  * an earlier-id same-batch member through any probe group where the
  * earlier one's HOME insert sorts first (the core's id order).
  */
object StreamingSemDedup {

  /** One incoming embedding row. */
  final case class Vec(vecId: Long, embedding: Array[Float])

  /** One detected semantic dup: `vecId` arrived and matched
    * `matchId` at `cosine`. */
  final case class SemDupPair(vecId: Long, matchId: Long, cosine: Double)

  private[streaming] final case class Probe(
      pcell: Long, home: Boolean, vecId: Long, emb: Array[Float], nrm: Double)

  /** The deployed grid depth for a corpus of `n` vectors — q172's
    * occupancy rule: smallest b with 64·2^b ≥ n (capped at the 16
    * hyperplanes). */
  def deployedBits(n: Long): Int =
    (0 to 16).find(b => (64L << b) >= n).getOrElse(16)

  /** Exact micro-unit quantization, Spark `round(x · 10⁶)` semantics
    * (BigDecimal HALF_UP — `math.round` would differ on negative
    * halves and shift a near-zero plane sum across the sign
    * threshold). */
  private[graft] def microUnits(emb: Array[Float]): Array[Long] =
    emb.map(x => java.math.BigDecimal.valueOf(x.toDouble * 1000000.0)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue())

  /** The 16-bit sign-LSH signature — integer plane sums over
    * micro-units, bit j set when plane j's sum ≥ 0; bit-identical to
    * the batch grid's sigTerms expression. */
  private[graft] def signature(emb: Array[Float]): Long = {
    val planes = VectorQueries.planeSign
    val u = microUnits(emb)
    var sig = 0L
    var j = 0
    while (j < planes.length) {
      val row = planes(j)
      var acc = 0L
      var i = 0
      val d = math.min(row.length, u.length)
      while (i < d) {
        if (row(i) > 0) acc += u(i) else acc -= u(i)
        i += 1
      }
      if (acc >= 0L) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** The ≤2-bit probe masks at depth `nbits`: 0 (home), the nbits
    * 1-bit flips, the C(nbits,2) 2-bit flips — q172's rings. */
  private[graft] def probeMasks(nbits: Int): Array[Long] = {
    val buf = Array.newBuilder[Long]
    buf += 0L
    var k = 0
    while (k < nbits) { buf += (1L << k); k += 1 }
    k = 0
    while (k < nbits) {
      var l = k + 1
      while (l < nbits) { buf += (1L << k) | (1L << l); l += 1 }
      k += 1
    }
    buf.result()
  }

  private[graft] def cosine(a: Array[Float], na: Double,
      b: Array[Float], nb: Double): Double = {
    var acc = 0.0
    var i = 0
    val d = math.min(a.length, b.length)
    while (i < d) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc / (na * nb)
  }

  private[graft] def norm(a: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i).toDouble * a(i).toDouble; i += 1 }
    math.sqrt(acc)
  }

  /** Matching pairs, emitted as each duplicate arrives. */
  def attach(vecs: Dataset[Vec], nbits: Int, cosThreshold: Double = 0.8,
      maxPerCell: Int = 64, stateTtlMs: Long = 0L): Dataset[SemDupPair] = {
    require(nbits >= 0 && nbits <= 16, s"nbits must be in [0,16]: $nbits")
    import vecs.sparkSession.implicits._
    val masks = probeMasks(nbits)
    val cellMask = (1L << nbits) - 1
    val probes = vecs.flatMap { v =>
      val cell = signature(v.embedding) & cellMask
      val nrm = norm(v.embedding)
      masks.map(m => Probe(cell ^ m, m == 0L, v.vecId, v.embedding, nrm))
        .toIndexedSeq
    }
    BandedGate.attach[Probe, (Long, Array[Float], Double), SemDupPair](
      probes, _.pcell,
      BandedGate.Rule(_.vecId, _._1,
        p => Option.when(p.home)((p.vecId, p.emb, p.nrm)),
        { case (p, (id, e, n2)) =>
          val c = cosine(p.emb, p.nrm, e, n2)
          Option.when(c >= cosThreshold)(SemDupPair(p.vecId, id, c))
        }),
      maxPerCell, stateTtlMs)
  }
}
