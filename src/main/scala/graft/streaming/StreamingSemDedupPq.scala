package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.Materialize

/** [[StreamingSemDedup]] with PQ-COMPRESSED state — the streaming face
  * of [[graft.operators.PqSemDedupIndex]]. The full-precision gate
  * stores every member vector in state (~300 B each); at ingest scale
  * the state store IS the bottleneck (RocksDB bytes, checkpoint size,
  * restore time), so this gate stores only (id, 4 codes, recon-norm)
  * — ~28 B a member, a ~10× state cut — and scores arrivals against
  * members' PQ RECONSTRUCTIONS with q178's ADC math.
  *
  * Contract: SCREEN-THEN-CONFIRM (the [[StreamingContainment]] /
  * [[StreamingDecontam]] discipline). Emitted candidates carry the
  * approximate cosine, thresholded at `cosThreshold − adcMargin`
  * (q178's measured margin: at 0.25 below the verify bar the batch
  * screen kept 97.6-100% of true pairs with zero admit flips); the
  * exact confirm is a trivial id-keyed batch join downstream. What is
  * NOT compressed is the transient probe traffic — arrivals carry
  * their own micro-unit vector through the shuffle (they must: the
  * member side has no embedding to verify against) — the claim is
  * state BYTES, not wire bytes or flops.
  *
  * The CODEBOOK is deployed at attach time, exactly like `nbits` —
  * [[Codebook.fromIndex]] reads the one a [[graft.operators
  * .PqSemDedupIndex.build]] persisted (≤256·4 codewords, ~130 KB,
  * closure-shipped), [[Codebook.train]] derives it from a corpus
  * sample with the SAME integer math (orthant seeds over micro-units,
  * exact int64 sums), so a streamed encode is bit-identical to the
  * batch encode — StreamingSemDedupPqSpec pins the equality. Like the
  * batch codebook, only LINEAR int64 sums exist (csum, n); all
  * squared terms derive from the exact centroid micro-units cbar =
  * csum/n in fixed order, so nothing overflows at any orthant size.
  *
  * Cell keying, probe rings, exactly-once emission, eviction, and TTL
  * are [[StreamingSemDedup]]'s verbatim: only the home cell stores a
  * member, probe rows query without inserting, the newer vector's
  * unique matching probe emits the pair once. */
object StreamingSemDedupPq {

  /** One incoming embedding row. */
  final case class Vec(vecId: Long, embedding: Array[Float])

  /** One SCREEN candidate: `vecId` arrived and its approximate cosine
    * against stored `matchId`'s reconstruction cleared the floor —
    * confirm downstream with the exact vectors. */
  final case class SemDupCand(vecId: Long, matchId: Long, adcCos: Double)

  /** A member's compressed state row: 4 code indexes + its
    * reconstruction norm √Σrpart (q178's denominator factor,
    * precomputed at insert). */
  private[graft] final case class Member(
      vecId: Long, codes: Array[Int], rdenom: Double)

  private[streaming] final case class Probe(
      pcell: Long, home: Boolean, vecId: Long, u: Array[Long], nrm: Double,
      codes: Array[Int], rdenom: Double)

  /** The deployed per-subspace codebooks, exact-integer form: for
    * subspace `s`, codeword `i` has seed `seeds(s)(i)` (ascending —
    * the argmin tiebreak order), per-dim micro-unit sums
    * `csum(s)(i)(0..15)`, and member count `n(s)(i)`. The score
    * inputs (`cbar`, `rpart`) derive deterministically. */
  final case class Codebook(seeds: Array[Array[Long]],
      csum: Array[Array[Array[Long]]], n: Array[Array[Long]]) {

    /** Exact centroid micro-units cbar = csum/n (the batch `cwb`). */
    private[graft] val cbar: Array[Array[Array[Double]]] =
      Array.tabulate(4)(s => Array.tabulate(seeds(s).length)(i =>
        csum(s)(i).map(c => c.toDouble / n(s)(i).toDouble)))

    /** ‖recon_sub‖² numerators, left-to-right like the batch pivot. */
    private[graft] val rpart: Array[Array[Double]] =
      Array.tabulate(4)(s => Array.tabulate(seeds(s).length) { i =>
        var acc = 0.0
        var d = 0
        while (d < 16) { acc += cbar(s)(i)(d) * cbar(s)(i)(d); d += 1 }
        acc
      })

    /** The ADC dot part Σ u·cbar for codeword (s, i) — fixed dim
      * order, the batch `dots` pivot. */
    private[graft] def dpart(u: Array[Long], s: Int, i: Int): Double = {
      val cb = cbar(s)(i)
      var acc = 0.0
      var d = 0
      val base = s * 16
      while (d < 16 && base + d < u.length) {
        acc += u(base + d).toDouble * cb(d)
        d += 1
      }
      acc
    }

    /** q126's encode: per subspace the argmin of rpart − 2·dpart
      * (score ties break on the smaller seed — the batch struct-min
      * order). Returns code INDEXES into `seeds`. */
    private[graft] def encode(u: Array[Long]): Array[Int] = {
      val out = new Array[Int](4)
      var s = 0
      while (s < 4) {
        var best = 0
        var bestScore = Double.MaxValue
        var i = 0
        while (i < seeds(s).length) {
          val score = rpart(s)(i) - dpart(u, s, i) * 2
          if (score < bestScore) { bestScore = score; best = i }
          i += 1
        }
        out(s) = best
        s += 1
      }
      out
    }

    /** A code vector's reconstruction norm √Σ_s rpart — the stored
      * member denominator factor. */
    private[graft] def rdenom(codes: Array[Int]): Double = {
      var acc = 0.0
      var s = 0
      while (s < 4) { acc += rpart(s)(codes(s)); s += 1 }
      math.sqrt(acc)
    }

    /** q178's ADC approximate cosine of an arrival (micro-units `u`,
      * float norm `nrm`) against a stored member's codes — the batch
      * association `(nn·1e6)·√Σrpart` mirrored exactly, rounded to 6
      * like the batch screen (Spark `round` HALF_UP semantics). */
    private[graft] def adcCos(u: Array[Long], nrm: Double,
        m: Member): Double = {
      var acc = 0.0
      var s = 0
      while (s < 4) { acc += dpart(u, s, m.codes(s)); s += 1 }
      java.math.BigDecimal.valueOf(acc / ((nrm * 1e6) * m.rdenom))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    }
  }

  object Codebook {

    /** Deploy the codebook a [[graft.operators.PqSemDedupIndex.build]]
      * persisted (`<table>_cb`): one driver-side collect of ≤ 4
      * subspaces × 256 codewords × 16 dims rows — the codebook IS
      * driver-sized by construction. */
    def fromIndex(spark: SparkSession, table: String): Codebook = {
      val rows = Materialize.rows(spark.table(table + "_cb")
        .select("seed", "subsp", "dim", "csum", "n"), "pq.codebook",
        4 * 256 * 16)
        .map(r => (r.getLong(1), r.getLong(0), r.getInt(2) % 16,
          r.getLong(3), r.getLong(4)))
      fromTuples(rows.toIndexedSeq)
    }

    /** Train from a corpus sample with the batch math verbatim:
      * micro-unit quantization (HALF_UP), 8-bit orthant seeds,
      * exact int64 sums. */
    def train(embs: Iterable[Array[Float]]): Codebook = {
      val acc = scala.collection.mutable.Map
        .empty[(Long, Long), (Array[Long], Long)] // (subsp, seed) -> (csum16, n)
      embs.foreach { emb =>
        val u = StreamingSemDedup.microUnits(emb)
        var s = 0
        while (s < 4) {
          var seed = 0L
          var b = 0
          while (b < 8 && s * 16 + b < u.length) {
            if (u(s * 16 + b) >= 0) seed |= (1L << b)
            b += 1
          }
          val (cs, cnt) = acc.getOrElseUpdate((s.toLong, seed),
            (new Array[Long](16), 0L))
          var d = 0
          while (d < 16 && s * 16 + d < u.length) {
            cs(d) += u(s * 16 + d)
            d += 1
          }
          acc((s.toLong, seed)) = (cs, cnt + 1)
          s += 1
        }
      }
      fromTuples(acc.toSeq.flatMap { case ((s, seed), (cs, cnt)) =>
        cs.zipWithIndex.map { case (c, d) => (s, seed, d, c, cnt) }
      })
    }

    private def fromTuples(
        rows: Seq[(Long, Long, Int, Long, Long)]): Codebook = {
      val bySub = rows.groupBy(_._1)
      val seeds = Array.tabulate(4)(s =>
        bySub.getOrElse(s.toLong, Nil).map(_._2).distinct.sorted.toArray)
      val csum = Array.tabulate(4) { s =>
        seeds(s).map { seed =>
          val dimRows = bySub(s.toLong).filter(_._2 == seed)
          val arr = new Array[Long](16)
          dimRows.foreach(t => arr(t._3) = t._4)
          arr
        }
      }
      val n = Array.tabulate(4) { s =>
        seeds(s).map(seed => bySub(s.toLong).find(_._2 == seed).get._5)
      }
      Codebook(seeds, csum, n)
    }
  }

  /** Screen candidates, emitted as each suspect arrives. Same gate
    * semantics as [[StreamingSemDedup.attach]]; state rows hold codes
    * instead of vectors. */
  def attach(vecs: Dataset[Vec], nbits: Int, codebook: Codebook,
      cosThreshold: Double = 0.8, adcMargin: Double = 0.25,
      maxPerCell: Int = 64, stateTtlMs: Long = 0L): Dataset[SemDupCand] = {
    require(nbits >= 0 && nbits <= 16, s"nbits must be in [0,16]: $nbits")
    import vecs.sparkSession.implicits._
    val masks = StreamingSemDedup.probeMasks(nbits)
    val cellMask = (1L << nbits) - 1
    val floor = cosThreshold - adcMargin
    val probes = vecs.flatMap { v =>
      val cell = StreamingSemDedup.signature(v.embedding) & cellMask
      val u = StreamingSemDedup.microUnits(v.embedding)
      val codes = codebook.encode(u)
      val rd = codebook.rdenom(codes)
      val nrm = StreamingSemDedup.norm(v.embedding)
      masks.map(m => Probe(cell ^ m, m == 0L, v.vecId, u, nrm, codes, rd))
        .toIndexedSeq
    }
    BandedGate.attach[Probe, Member, SemDupCand](probes, _.pcell,
      BandedGate.Rule(_.vecId, _.vecId,
        p => Option.when(p.home)(Member(p.vecId, p.codes, p.rdenom)),
        (p, m) => {
          val c = codebook.adcCos(p.u, p.nrm, m)
          Option.when(c >= floor)(SemDupCand(p.vecId, m.vecId, c))
        }),
      maxPerCell, stateTtlMs)
  }
}
