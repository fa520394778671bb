package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.unsafe.types.UTF8String

import graft.expressions.Md5Hashes
import graft.queries.TextQueries

/** Streaming CONTAINMENT gate — the last member of the streaming dedup
  * family (exact [[StreamingDedup]], near-dup [[StreamingNearDup]],
  * semantic [[StreamingSemDedup]], eval-overlap [[StreamingDecontam]]):
  * surfaces quote-and-extend pairs — an arriving document that CONTAINS
  * (or is contained in) an already-seen one — the case LSH banding
  * structurally misses (band collision probability collapses like
  * ~2·J⁴ with asymmetry while containment stays 1; q170's measured
  * curve).
  *
  * Detection is q168's containment-native probe, streamed: state is an
  * inverted shingle index keyed by 32-bit md5 TRIGRAM hash (identical
  * kernel constants to the batch operator, spec-pinned); every seen doc
  * is indexed under its trigram keys (df-capped at `maxPerShingle` —
  * q168's stop-shingle discipline, which both bounds per-key state AND
  * is what makes a shared common trigram non-evidence), and an arriving
  * doc PROBES only its 4 per-perm ARGMIN trigrams — the rare-shingle
  * rule whose per-perm hit probability IS the containment C, so a
  * contained doc finds its already-seen container with prob
  * 1−(1−C)⁴ ≈ 1 no matter how asymmetric the pair. The reverse
  * arrival order (container arrives after the contained doc) hits with
  * per-perm prob |A|/|B| — near-certain at mild asymmetry, partial at
  * extreme asymmetry — which is the honest streaming bound: the batch
  * q168 pass (both generators, exact verify) closes that direction at
  * the next corpus build.
  *
  * This gate SCREENS; the batch pass confirms. Stored entries are O(1)
  * per (doc, key): (docId, nw, 8-perm word-hash MinHash signature —
  * q28's exact constants), and the emitted `estContainment` derives
  * from the signature-estimated Jaccard and the exact sizes
  * (Ĉ = Ĵ·(na+nb) / ((1+Ĵ)·min) — unbiased-in-expectation 1.0 for true
  * containment at ANY asymmetry, since J = min/max makes the algebra
  * cancel). Exact verification is the batch q168 run (the
  * [[StreamingDecontam]] screen-then-confirm contract). A pair sharing
  * several argmin probes may emit once per probing key (the NearDup
  * per-band precedent) — downstream dedup is one
  * `dropDuplicatesWithinWatermark` on the pair key.
  *
  * State is keyed by trigram hash — the shuffle key the batch inverted
  * index joins on — under [[BandedGate]]'s state rules: per-key
  * membership ≤ `maxPerShingle` entries of ~80 B. Every shingle row
  * stores; only the argmin rows probe.
  */
object StreamingContainment {

  /** One incoming document. */
  final case class Doc(docId: Long, text: String)

  /** One surfaced candidate: `docId` arrived and probe-hit `matchId`.
    * `estContainment` is the signature estimate (screen-grade; the
    * batch q168 pass is the exact confirm). */
  final case class ContainPair(docId: Long, matchId: Long,
      estContainment: Double)

  private[streaming] final case class ShingleRow(
      th: Long, probe: Boolean, docId: Long, nw: Long, sig: Array[Long])

  /** Entries stored per shingle key: (docId, distinct-word count,
    * 8-perm word minhash). */
  private type Entry = (Long, Long, Array[Long])

  /** The repo-wide 32-bit token hash (first 8 md5 hex chars as a long)
    * — bit-identical to CoreFunctions.hash32 / the batch oracles. */
  private[graft] def hash32(s: String): Long =
    Md5Hashes.prefixLong(UTF8String.fromString(s), 8)

  /** Distinct 32-bit trigram hashes — q168's shingle universe. */
  private[graft] def triHashes(words: Array[String]): Array[Long] =
    if (words.length < 3) Array.empty
    else words.sliding(3).map(t => hash32(t.mkString(" ")))
      .toArray.distinct

  /** q28's 8-perm MinHash over distinct word hashes — the same
    * (a, b, P) constants as the batch signature. */
  private[graft] def wordSig(wordHashes: Array[Long]): Array[Long] =
    TextQueries.perms.map { case (a, b) =>
      var m = Long.MaxValue
      wordHashes.foreach { h =>
        val v = (h * a + b) % TextQueries.P
        if (v < m) m = v
      }
      m
    }.toArray

  /** The 4 per-perm argmin trigram hashes — q168's probe set. */
  private[graft] def argminProbes(tri: Array[Long]): Array[Long] =
    TextQueries.perms.take(4).map { case (a, b) =>
      var best = tri(0)
      var bestV = Long.MaxValue
      tri.foreach { h =>
        val v = (h * a + b) % TextQueries.P
        if (v < bestV) { bestV = v; best = h }
      }
      best
    }.toArray.distinct

  /** Ĉ from the signature-estimated Jaccard and exact sizes:
    * |∩| = Ĵ/(1+Ĵ)·(na+nb), Ĉ = |∩|/min — exact algebra, estimated
    * only through Ĵ. */
  private[streaming] def estContainment(sigA: Array[Long], na: Long,
      sigB: Array[Long], nb: Long): Double = {
    var m = 0
    var i = 0
    while (i < sigA.length && i < sigB.length) {
      if (sigA(i) == sigB(i)) m += 1
      i += 1
    }
    val j = m.toDouble / math.max(1, math.min(sigA.length, sigB.length))
    val inter = j / (1.0 + j) * (na + nb)
    math.min(1.0, inter / math.max(1L, math.min(na, nb)))
  }

  /** Candidate pairs, surfaced as each document arrives. `minEst`
    * filters emissions by estimated containment (0.0 = every probe
    * hit — the probe itself is the evidence at high asymmetry, where
    * an 8-perm Ĵ can estimate 0). */
  def attach(docs: Dataset[Doc], minEst: Double = 0.0,
      maxPerShingle: Int = 16, stateTtlMs: Long = 0L)
      : Dataset[ContainPair] = {
    import docs.sparkSession.implicits._
    val shingles = docs.flatMap { d =>
      val words = d.text.split(' ')
      val tri = triHashes(words)
      if (tri.isEmpty) Iterator.empty
      else {
        val sig = wordSig(words.distinct.map(hash32))
        val nw = words.distinct.length.toLong
        // argmin trigrams are elements of tri, so every probe key is
        // also an index key — the flag marks which rows also query
        val probes = argminProbes(tri).toSet
        tri.iterator.map(th =>
          ShingleRow(th, probes.contains(th), d.docId, nw, sig))
      }
    }
    // every row indexes under its own trigram key, df-capped
    // newest-first — the stop-shingle rule: a key at cap is common, not
    // evidence
    BandedGate.attach[ShingleRow, Entry, ContainPair](shingles, _.th,
      BandedGate.Rule(_.docId, _._1, r => Some((r.docId, r.nw, r.sig)),
        { case (r, (id, nw2, sig2)) =>
          val c = estContainment(r.sig, r.nw, sig2, nw2)
          Option.when(c >= minEst)(ContainPair(r.docId, id, c))
        },
        _.probe),
      maxPerShingle, stateTtlMs)
  }
}
