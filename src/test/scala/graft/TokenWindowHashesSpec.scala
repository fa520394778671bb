package graft

import org.apache.spark.sql.functions._
import graft.expressions.Registration

/** Native sliding-window token hasher (the q115 exact-substring
  * candidate generator): rolling update == direct fold, window count,
  * degenerate inputs, and duplicate-span detection end-to-end. */
class TokenWindowHashesSpec extends SparkSpec {

  private val P = 2147483647L
  private val B = 131L
  private val B2 = 1000003L

  private def tokenHash(t: String): Long =
    t.codePoints().toArray.foldLeft(0L)((a, c) => (a * B + c) % P)

  private def directWindow(tokens: Seq[String], i: Int, k: Int): Long =
    tokens.slice(i, i + k).foldLeft(0L)((a, t) => (a * B2 + tokenHash(t)) % P)

  test("rolling hashes equal the direct fold at every position") {
    import spark.implicits._
    Registration.install(spark)
    val tokens = (0 until 200).map(i => s"w${i % 37}x${(i * 7) % 11}")
    val k = 50
    val got = Seq(tokens).toDF("w")
      .select(expr(s"token_window_hashes(w, $k)").as("h"))
      .head().getSeq[Long](0)
    assert(got.length == tokens.length - k + 1)
    got.zipWithIndex.foreach { case (h, i) =>
      assert(h == directWindow(tokens, i, k), s"window $i")
    }
  }

  test("fewer than k tokens -> empty array; null -> null; empty token -> 0 hash") {
    import spark.implicits._
    Registration.install(spark)
    val df = Seq(
      (1, Seq("a", "b")), // < k
      (2, Seq("", "", "")) // empty tokens, k=3 window of zeros
    ).toDF("id", "w")
    val r = df.select(col("id"), expr("token_window_hashes(w, 3)").as("h"))
      .orderBy("id").collect()
    assert(r(0).getSeq[Long](1).isEmpty)
    // window of three empty tokens: fold of zeros stays 0
    assert(r(1).getSeq[Long](1) == Seq(0L))
    val n = df.select(expr("token_window_hashes(CAST(NULL AS ARRAY<STRING>), 3)"))
      .head()
    assert(n.isNullAt(0))
  }

  test("q115 end-to-end: a shared 50-token span is cut from the later doc") {
    import spark.implicits._
    val base = (0 until 60).map(i => s"tok$i")
    val shared = (0 until 50).map(i => s"dup$i")
    val docA = (base ++ shared).mkString(" ") // first occurrence: kept
    val docB = (shared ++ base.map(_ + "z")).mkString(" ") // later: cut
    val docC = base.mkString(" ") // untouched
    val dir = java.nio.file.Files.createTempDirectory("q115").toString
    Seq((1L, docA, "en", "t", docA.length.toLong),
      (2L, docB, "en", "t", docB.length.toLong),
      (3L, docC, "en", "t", docC.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q115_exact_substring_dedup")(spark, dir)
      .orderBy("doc_id").collect()
    // doc 1: no earlier occurrence anywhere -> untouched
    assert(out(0).getAs[Int]("n_removed") == 0)
    assert(out(0).getAs[String]("clean_text") == docA)
    // doc 2: exactly the 50 shared tokens cut, suffix intact
    assert(out(1).getAs[Int]("n_removed") == 50, out(1).toString)
    assert(out(1).getAs[String]("clean_text") ==
      base.map(_ + "z").mkString(" "))
    // doc 3 is a verbatim copy of doc 1's 60-token prefix: all 11 of
    // its windows are rk>1, the islands merge to [0, 59], and the doc
    // dedups to nothing — the full-duplicate degenerate case
    assert(out(2).getAs[Int]("n_removed") == 60)
    assert(out(2).getAs[String]("clean_text") == "")
  }
}
