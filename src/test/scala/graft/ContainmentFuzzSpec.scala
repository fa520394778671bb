package graft

import graft.queries.TextQueries
import graft.expressions.Registration

/** Fuzz oracle for the q168 containment kernel: random diverse-vocab
  * corpora with PLANTED quote-and-extend pairs are scored by the
  * distributed two-generator operator and by an independent naive
  * reference — full minhash/band/argmin-probe/df-cap/verify semantics
  * reimplemented from scratch on the driver — and the output pair sets
  * must agree exactly. Also asserts the operator-level recall property
  * the probe path exists for: every planted short-in-long pair (whose
  * argmin shingle stays under the df cap) IS in the output, which the
  * corpus parity run cannot show because the synthetic corpus has no
  * such pairs.
  *
  * The minhash constants below intentionally DUPLICATE the shipped
  * ones — they pin them: if the operator's permutations, band folds,
  * df cap, or threshold drift, this spec fails. */
class ContainmentFuzzSpec extends SparkSpec {

  private val P = 2147483647L
  private val Perms = Seq(
    (824633721L, 97L), (592397613L, 1031L), (405187081L, 65537L),
    (975319753L, 257L), (163841233L, 8209L), (741002381L, 12289L),
    (318271183L, 524287L), (662551321L, 2053L))
  private val DfCap = 16L

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def hash32(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).take(8), 16)

  private case class Pair(a: Long, b: Long, na: Long, nb: Long, inter: Long)

  /** The whole operator, naively: band pairs by first-matching-band,
    * probe pairs from per-perm argmin shingles vs a df-capped index,
    * probe pairs with matching bands excluded, all verified at
    * round(containment, 6) >= 0.9. */
  private def reference(docs: Seq[(Long, Vector[String])])
      : (Set[Pair], Set[(Long, Long)]) = {
    val wsets = docs.map { case (id, w) => id -> w.map(hash32).toSet }.toMap
    val sigs = docs.map { case (id, w) =>
      val hs = w.map(hash32)
      id -> Perms.map { case (a, b) => hs.map(h => (h * a + b) % P).min }
    }.toMap
    def fold(seed: Long, ms: Seq[Long]): Long =
      ms.foldLeft(seed)((acc, m) => (acc * 127 + m) % P)
    val bands = sigs.map { case (id, ms) =>
      id -> (fold(1L, ms.take(4)), fold(2L, ms.drop(4)))
    }
    val ids = docs.map(_._1).sorted
    val bandPairs = for {
      a <- ids; b <- ids if a < b
      if bands(a)._1 == bands(b)._1 || bands(a)._2 == bands(b)._2
    } yield (a, b)
    val tris = docs.filter(_._2.length >= 3).map { case (id, w) =>
      id -> w.sliding(3).map(t => hash32(t.mkString(" "))).toSet
    }.toMap
    val df = tris.values.flatten.groupBy(identity).map { case (t, o) =>
      t -> o.size.toLong
    }
    val probes = tris.map { case (id, ts) =>
      id -> Perms.take(4).flatMap { case (a, b) =>
        val mn = ts.map(t => (t * a + b) % P).min
        ts.filter(t => (t * a + b) % P == mn)
      }.toSet
    }
    val probePairs = (for {
      (pa, pts) <- probes.toSeq
      t <- pts if df(t) <= DfCap
      pb <- tris.keys if pb != pa && tris(pb).contains(t)
    } yield (math.min(pa, pb), math.max(pa, pb))).distinct
      .filterNot { case (a, b) =>
        bands(a)._1 == bands(b)._1 || bands(a)._2 == bands(b)._2
      }
    def verify(a: Long, b: Long): Option[Pair] = {
      val (wa, wb) = (wsets(a), wsets(b))
      val inter = (wa & wb).size.toLong
      val c = BigDecimal(inter.toDouble / math.min(wa.size, wb.size))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      if (c >= BigDecimal("0.9"))
        Some(Pair(a, b, wa.size.toLong, wb.size.toLong, inter))
      else None
    }
    val out = (bandPairs ++ probePairs)
      .flatMap { case (a, b) => verify(a, b) }.toSet
    (out, bandPairs.toSet)
  }

  test("distributed two-generator kernel == naive reference; planted pairs found") {
    Registration.install(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    val vocab = Vector.tabulate(150)(i => f"w$i%03d")
    val baseDocs = (0L until 40L).map { id =>
      val n = 3 + rnd.nextInt(22)
      (id, Vector.fill(n)(vocab(rnd.nextInt(vocab.length))))
    }
    // planted quote-and-extend: doc 100+i swallows doc i whole
    val planted = (0L until 8L).map { i =>
      val extra = Vector.fill(6 + rnd.nextInt(20))(
        vocab(rnd.nextInt(vocab.length)))
      (100L + i, baseDocs(i.toInt)._2 ++ extra)
    }
    val docs = baseDocs ++ planted
    val df = docs.map { case (id, t) => (id, t.mkString(" ")) }
      .toDF("doc_id", "text")

    val got = TextQueries.containmentNearDup(spark, df)
      .collect()
      .map(r => Pair(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .toSet
    val (want, bandPairs) = reference(docs)
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")

    // recall property: every planted pair whose probe survives the df
    // cap ships (with this seed/vocab that is all of them)
    val plantedFound = (0L until 8L).map(i =>
      got.exists(p => p.a == i && p.b == 100L + i))
    assert(plantedFound.forall(identity),
      s"planted short-in-long pairs missed: ${plantedFound.zipWithIndex
        .filterNot(_._1).map(_._2)}")
    // and the probe path did the work: at least one planted pair must
    // NOT be band-reachable, otherwise this corpus proves nothing about
    // the path under test
    val probeOnly = (0L until 8L).count(i => !bandPairs.contains((i, 100L + i)))
    assert(probeOnly > 0, "every planted pair was band-reachable — " +
      "the fuzz corpus stopped exercising the probe path")
  }
}
