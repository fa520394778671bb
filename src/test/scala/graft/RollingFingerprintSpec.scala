package graft

import org.apache.spark.sql.functions._
import graft.expressions.{Registration, RollingFingerprint}
import org.apache.spark.unsafe.types.UTF8String

class RollingFingerprintSpec extends SparkSpec {

  private val P = 2147483647L
  private val B = 131L

  /** Brute-force reference: fold every k-window independently. */
  private def brute(s: String, k: Int): Option[(Long, Long, Long, Long)] = {
    val cps = s.codePoints().toArray
    if (cps.length < k) return None
    def fold(a: Array[Int]): Long = a.foldLeft(0L)((acc, c) => (acc * B + c) % P)
    val grams = cps.sliding(k).map(fold).toSeq
    Some((fold(cps), grams.min, grams.max, grams.distinct.size.toLong))
  }

  test("matches the brute-force window fold on varied inputs") {
    val inputs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaaa", // all-identical grams -> n_distinct 1
      "abcdefgh", // exactly k chars -> 1 gram
      "ab" * 500,
      "héllo wörld ünïcode çhars repeated héllo wörld", // multibyte
      (0 until 97).map(i => ('a' + i % 26).toChar).mkString)
    for (s <- inputs) {
      val Some((p0, mn, mx, nd)) = brute(s, 8)
      val r = RollingFingerprint.compute(UTF8String.fromString(s), 8)
      assert(r != null, s"null for: $s")
      assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
        ((p0, mn, mx, nd)), s"mismatch for: $s")
    }
  }

  test("short input yields null; k=1 counts distinct codepoints") {
    assert(RollingFingerprint.compute(UTF8String.fromString("1234567"), 8) == null)
    val r = RollingFingerprint.compute(UTF8String.fromString("abcabc"), 1)
    assert(r.getLong(3) == 3L) // a, b, c
  }

  test("SQL surface works and stays inside whole-stage codegen") {
    Registration.install(spark)
    import spark.implicits._
    val local = Seq("the quick brown fox", "tiny", "abcdefghij").toDF("text")
      .select(expr("rolling_fingerprint(text, 8)").as("fp"))
    val rows = local.collect()
    assert(rows.length == 3)
    assert(rows.map(_.isNullAt(0)).count(identity) == 1) // "tiny" < 8 cps
    // codegen check needs a real scan (a local relation constant-folds
    // away to LocalTableScan before any codegen stage exists)
    val df = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(expr("rolling_fingerprint(text, 8)").as("fp"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1)"), s"no codegen span:\n$p")
  }

  test("non-constant / non-integral k raises a clear analysis error") {
    Registration.install(spark)
    import spark.implicits._
    val df = Seq(("abcdefghij", 4)).toDF("text", "n")
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(expr("rolling_fingerprint(text, n)")).collect()
    }
    assert(e1.getMessage.contains("must be a constant"), e1.getMessage)
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(expr("rolling_fingerprint(text, 'x')")).collect()
    }
    assert(e2.getMessage.contains("integral"), e2.getMessage)
    val e3 = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(expr("rolling_fingerprint(text, 0)")).collect()
    }
    assert(e3.getMessage.contains("must be in [1"), e3.getMessage)
  }

  test("q72 query agrees with per-doc brute force on real docs") {
    val out = SparkEntry.queries("q72_rolling_fingerprint")(spark, sf0001)
      .orderBy("doc_id").limit(20).collect()
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .orderBy("doc_id").limit(20).select("doc_id", "text").collect()
    val byId = docs.map(r => r.getLong(0) -> r.getString(1)).toMap
    for (r <- out) {
      val Some((p0, mn, mx, nd)) = brute(byId(r.getLong(0)), 8)
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
        ((p0, mn, mx, nd)), s"doc ${r.getLong(0)} mismatch")
    }
  }
}
