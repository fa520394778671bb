package graft

import org.apache.spark.sql.functions._
import graft.expressions.Registration

/** Pins the fused sign-LSH signature expression against the literal
  * 1,024-term SQL form it replaced (r17): same ±1 plane matrix, same
  * integer adds in the same order, so the signatures must be
  * bit-identical — this is what keeps the Spark side in lockstep with
  * the DuckDB oracle's inlined-literal form. */
class SignLshSigSpec extends SparkSpec {

  private val Planes = 16
  private val Dim = 64

  /** The pre-r17 inlined SQL form, reproduced from the plane matrix. */
  private def literalSql: String =
    (0 until Planes).map { j =>
      val body = (0 until Dim).map { i =>
        (if (graft.expressions.SignLshSig.planeSign(j)(i) > 0) "+ "
         else "- ") + s"u[$i]"
      }.mkString(" ")
      s"(CASE WHEN (0 $body) >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  test("fused expression equals the literal 1,024-term form") {
    Registration.install(spark)
    val rnd = new scala.util.Random(7)
    import spark.implicits._
    val rows = Seq.tabulate(500) { k =>
      // micro-unit magnitudes like the real pipeline (±1e6 scale),
      // plus adversarial near-zero sums at k % 7 == 0
      val scale = if (k % 7 == 0) 1L else 1000000L
      (k.toLong, Array.fill(Dim)((rnd.nextLong() % scale)))
    }.toDF("id", "u")
    val got = rows
      .select(col("id"), expr("sign_lsh_sig(u)").as("a"),
        expr(literalSql).as("b"))
      .filter(col("a") =!= col("b"))
      .count()
    assert(got == 0L, s"$got rows diverge from the literal form")
  }

  test("short and null arrays are total") {
    Registration.install(spark)
    import spark.implicits._
    val rows = Seq(
      (1L, Array(5L, -3L)),           // shorter than Dim
      (2L, Array.empty[Long])
    ).toDF("id", "u")
    val out = rows.select(expr("sign_lsh_sig(u)").as("s")).collect()
    assert(out.length == 2 && out.forall(!_.isNullAt(0)))
    val nulls = spark.sql("SELECT sign_lsh_sig(CAST(NULL AS ARRAY<BIGINT>)) AS s")
      .collect()
    assert(nulls.head.isNullAt(0))
  }
}
