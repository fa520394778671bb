package graft.streaming

import org.apache.spark.sql.Dataset
import scala.util.hashing.MurmurHash3

/** Streaming NEAR-duplicate detection — the stateful front of the batch
  * MinHash-LSH pipeline (q28/q29): every arriving document is checked
  * against the documents already seen whose signatures share an LSH
  * band, and matching pairs stream out the moment the duplicate
  * arrives — the gate a crawl ingest runs before paying for downstream
  * processing, where the batch pass (q29) only finds the dup after the
  * fact.
  *
  * State is keyed by LSH BAND — the key the batch join buckets on —
  * and each band keeps at most `maxPerBand` (docId, signature)
  * entries under [[BandedGate]]'s state rules. Pairs are emitted per
  * matching band; a doc pair sharing BOTH bands emits twice —
  * downstream dedup is one `dropDuplicatesWithinWatermark` on the pair
  * key (kept out of this operator so the spec can observe raw
  * emissions).
  */
object StreamingNearDup {

  /** One incoming document. */
  final case class Doc(docId: Long, text: String)

  private[streaming] final case class BandedDoc(
      band: Long, docId: Long, sig: Array[Int])

  /** One detected near-dup: `docId` arrived and matched `matchId`. */
  final case class DupPair(docId: Long, matchId: Long, estJaccard: Double)

  val K = 8 // minhash permutations; 2 bands x 4 rows (the q28/q78 layout)

  /** k-permutation minhash over 3-word shingles (murmur3 row seeds). */
  private[streaming] def signature(text: String): Array[Int] = {
    val words = text.split(' ')
    val shingles =
      if (words.length < 3) Array(text)
      else words.sliding(3).map(_.mkString(" ")).toArray
    Array.tabulate(K) { i =>
      var min = Int.MaxValue
      shingles.foreach { sh =>
        val h = MurmurHash3.stringHash(sh, i)
        if (h < min) min = h
      }
      min
    }
  }

  private[streaming] def bands(docId: Long, sig: Array[Int]): Seq[BandedDoc] =
    (0 until 2).map { b =>
      var acc = (b + 1).toLong
      var i = 4 * b
      while (i < 4 * b + 4) { acc = acc * 1000003L + sig(i); i += 1 }
      BandedDoc(acc, docId, sig)
    }

  private[streaming] def estJaccard(a: Array[Int], b: Array[Int]): Double = {
    var m = 0; var i = 0
    while (i < K) { if (a(i) == b(i)) m += 1; i += 1 }
    m.toDouble / K
  }

  /** Matching pairs, emitted as each duplicate arrives. Without
    * `stateTtlMs`, a mostly-unique stream grows two band keys per
    * document forever. */
  def attach(docs: Dataset[Doc], threshold: Double = 0.5,
      maxPerBand: Int = 64, stateTtlMs: Long = 0L): Dataset[DupPair] = {
    import docs.sparkSession.implicits._
    BandedGate.attach[BandedDoc, (Long, Array[Int]), DupPair](
      docs.flatMap(d => bands(d.docId, signature(d.text))), _.band,
      BandedGate.Rule(_.docId, _._1, bd => Some((bd.docId, bd.sig)),
        { case (bd, (id, sig)) =>
          val j = estJaccard(sig, bd.sig)
          Option.when(j >= threshold)(DupPair(bd.docId, id, j))
        }),
      maxPerBand, stateTtlMs)
  }
}
