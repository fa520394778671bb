package graft

import org.apache.spark.sql.functions._
import graft.queries.TextQueries
import graft.expressions.Registration

/** Fuzz oracle for the q167 intra-document repeated-span removal
  * kernel: random small-vocabulary corpora (forcing dense window
  * collisions) are cleaned by the distributed chain and by an
  * independent naive per-doc reference — seen-window scan → covered
  * token positions → rewrite — and every (n_tokens, n_removed,
  * clean_text) triple must agree. Exercises window sizes 2/3/5 and the
  * no-repeat and all-repeat edges the corpus parity run can't isolate.
  */
class IntraDocDedupFuzzSpec extends SparkSpec {

  /** Naive reference: mark every window whose token sequence occurred
    * earlier in the doc (any earlier start index, overlap allowed),
    * union the covered positions, keep the rest. Mirrors q167's
    * semantics by construction, shares no code with it. */
  private def reference(tokens: Vector[String], k: Int): (Int, Int, String) = {
    val n = tokens.length
    val seen = collection.mutable.Map[Seq[String], Int]()
    val covered = Array.fill(n)(false)
    for (i <- 0 to n - k) {
      val w = tokens.slice(i, i + k)
      if (seen.contains(w)) (i until i + k).foreach(covered(_) = true)
      else seen(w) = i
    }
    val kept = tokens.indices.filterNot(covered).map(tokens)
    (n, n - kept.length, kept.mkString(" "))
  }

  test("distributed chain == naive reference on random dense corpora") {
    Registration.install(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(20260813L)
    val vocab = Vector("a", "b", "c", "d")
    for (k <- Seq(2, 3, 5)) {
      val docs = (0L until 60L).map { id =>
        val n = 1 + rnd.nextInt(40)
        val toks = Vector.fill(n)(vocab(rnd.nextInt(vocab.length)))
        (id, toks)
      }
      val df = docs.map { case (id, t) => (id, t.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = TextQueries.intraDocDedup(spark, df, k)
        .collect()
        .map(r => r.getLong(0) ->
          (r.getInt(1), r.getInt(2), r.getString(3)))
        .toMap
      docs.foreach { case (id, toks) =>
        val want = reference(toks, k)
        assert(got(id) == want,
          s"k=$k doc=$id toks=${toks.mkString(" ")}: got ${got(id)}, want $want")
      }
    }
  }

  test("hand-pinned edges: all-repeat collapses, short docs untouched") {
    Registration.install(spark)
    import spark.implicits._
    val df = Seq(
      (1L, "x x x x x x"), // every window after the first repeats
      (2L, "a b"),         // shorter than k: no windows, untouched
      (3L, "p q p q p q")  // period-2 repetition
    ).toDF("doc_id", "text")
    val out = TextQueries.intraDocDedup(spark, df, k = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(out(1L) == ((6, 5, "x")),
      s"run of identical tokens must collapse to the first window's " +
        s"uncovered prefix: ${out(1L)}")
    assert(out(2L) == ((2, 0, "a b")))
    assert(out(3L) == ((6, 4, "p q")))
  }
}
