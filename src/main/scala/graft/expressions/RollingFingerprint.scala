package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass rolling-hash document fingerprint (reference: document
  * fingerprinting north star; Rabin-Karp / winnowing family):
  *
  *   - `poly_hash`   = fold(acc·131 + codepoint) mod (2³¹−1) over the
  *     whole text — the Rabin-Karp accumulator;
  *   - `min/max_gram_hash`, `n_distinct_grams` — the k-gram sketch,
  *     where each gram hash is the SAME fold over a k-codepoint window,
  *     maintained in O(1) per position by the rolling subtract-shift-add
  *     update (g' = (g − c_out·131^(k−1))·131 + c_in mod p).
  *
  * Returns NULL when the text has fewer than k codepoints. vs the HOF
  * formulation (split per char + one md5 per gram): no per-character
  * string allocation, no cryptographic hash per window — one linear scan
  * inside whole-stage codegen (the generated code calls the static
  * kernel; the loop itself is compiled Scala, not interpreted
  * expressions).
  */
case class RollingFingerprint(child: Expression, k: Int = 8)
    extends UnaryExpression {

  require(k >= 1, "k must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${dt.catalogString}")
  }

  override def dataType: DataType = RollingFingerprint.schema

  override def nullable: Boolean = true

  override def prettyName: String = "rolling_fingerprint"

  override protected def nullSafeEval(input: Any): Any =
    RollingFingerprint.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val r = ctx.freshName("fp")
      s"""
         |org.apache.spark.sql.catalyst.InternalRow $r =
         |  graft.expressions.RollingFingerprint$$.MODULE$$.compute($s, $k);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingFingerprint {

  val schema: StructType = StructType(Seq(
    StructField("poly_hash", LongType, nullable = false),
    StructField("min_gram_hash", LongType, nullable = false),
    StructField("max_gram_hash", LongType, nullable = false),
    StructField("n_distinct_grams", LongType, nullable = false)))

  private val P = 2147483647L // 2^31 - 1
  private val B = 131L

  /** The kernel: codepoint decode + full-text fold + rolling k-gram
    * min/max/distinct, one scan. Codepoints (not bytes) so the result
    * matches `ascii(c)`-based folds in any engine (DuckDB `ascii`
    * returns the Unicode code point). All intermediates < 2⁵³. */
  def compute(s: UTF8String, k: Int): InternalRow = {
    val str = s.toString
    val len = str.length
    // decode codepoints once
    var n = 0
    var i = 0
    while (i < len) { i += Character.charCount(str.codePointAt(i)); n += 1 }
    if (n < k) return null
    val cps = new Array[Int](n)
    i = 0
    var ci = 0
    while (i < len) {
      val cp = str.codePointAt(i)
      cps(ci) = cp
      ci += 1
      i += Character.charCount(cp)
    }
    var poly = 0L
    i = 0
    while (i < n) { poly = (poly * B + cps(i)) % P; i += 1 }
    var powK1 = 1L
    i = 0
    while (i < k - 1) { powK1 = powK1 * B % P; i += 1 }
    var g = 0L
    i = 0
    while (i < k) { g = (g * B + cps(i)) % P; i += 1 }
    var minG = g
    var maxG = g
    // open-addressing distinct set (values in [0, P) — -1 is free)
    val m = n - k + 1
    var cap = 4
    while (cap < m * 2) cap <<= 1
    val table = new Array[Long](cap)
    java.util.Arrays.fill(table, -1L)
    var nDistinct = 0L
    def add(v: Long): Unit = {
      var idx = (v & (cap - 1)).toInt
      while (table(idx) != -1L && table(idx) != v) idx = (idx + 1) & (cap - 1)
      if (table(idx) == -1L) { table(idx) = v; nDistinct += 1L }
    }
    add(g)
    i = k
    while (i < n) {
      g = ((g - cps(i - k) * powK1) % P + P) % P
      g = (g * B + cps(i)) % P
      if (g < minG) minG = g
      if (g > maxG) maxG = g
      add(g)
      i += 1
    }
    new GenericInternalRow(Array[Any](poly, minG, maxG, nDistinct))
  }

  private def fail(msg: String): org.apache.spark.sql.AnalysisException =
    new org.apache.spark.sql.AnalysisException(
      errorClass = "USER_RAISED_EXCEPTION",
      messageParameters = Map("errorMessage" -> msg))

  /** Extract the constant k argument, with a clear error instead of an
    * NPE/cast failure when a caller passes a non-constant or
    * non-integral expression. */
  def kFrom(kExpr: Expression, fn: String = "rolling_fingerprint"): Int = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    if (!kExpr.foldable)
      throw fail(
        s"$fn: k must be a constant (foldable) expression, got ${kExpr.sql}")
    kExpr.dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case dt => throw fail(
        s"$fn: k must be an integral constant, got ${dt.catalogString}")
    }
    val v = kExpr.eval()
    if (v == null) throw fail(s"$fn: k must not be NULL")
    val k = v.asInstanceOf[Number].longValue()
    if (k < 1 || k > Int.MaxValue)
      throw fail(s"$fn: k must be in [1, ${Int.MaxValue}], got $k")
    k.toInt
  }

  /** The builder [[Registration.natives]] registers. */
  def build(exprs: Seq[Expression]): RollingFingerprint = exprs match {
    case Seq(c) => RollingFingerprint(c)
    case Seq(c, kLit) => RollingFingerprint(c, kFrom(kLit))
    case _ => throw new IllegalArgumentException(
      "rolling_fingerprint(text[, k])")
  }
}
