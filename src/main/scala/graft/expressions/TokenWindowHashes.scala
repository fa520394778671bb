package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** One-pass sliding-window hashes over a token array — the candidate
  * generator for exact-substring cross-document dedup (the
  * RefinedWeb/Gopher `ExactSubstr` step: find 50-token spans shared
  * across documents, keep the first occurrence, cut the rest).
  *
  * For tokens t₀..tₙ₋₁ emits n−k+1 longs, the i-th being the
  * polynomial hash of the k-token window starting at i:
  *
  *   wh(i) = fold over j∈[i, i+k): (acc·B₂ + tokenHash(tⱼ)) mod P
  *
  * where tokenHash is [[RollingFingerprint]]'s codepoint fold
  * (acc·131 + cp mod P, P = 2³¹−1) and B₂ = 1 000 003. Each token is
  * hashed ONCE and the window fold is maintained by the rolling
  * subtract-shift-add update (O(n) total, not O(n·k)); all
  * intermediates stay below 2⁶³ (tₒᵤₜ·B₂^(k−1) < P² < 2⁶²). The
  * per-window recomputation from scratch gives the identical value, so
  * a SQL oracle can replay it by direct folding.
  *
  * NULL input → NULL; fewer than k tokens → empty array (no windows);
  * a NULL or empty token hashes to 0 (the empty fold).
  */
case class TokenWindowHashes(child: Expression, k: Int = 50)
    extends UnaryExpression {

  require(k >= 1, "k must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${dt.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "token_window_hashes"

  override protected def nullSafeEval(input: Any): Any =
    TokenWindowHashes.compute(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      s"""
         |${ev.value} =
         |  graft.expressions.TokenWindowHashes$$.MODULE$$.compute($s, $k);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenWindowHashes {

  private val P = 2147483647L // 2^31 - 1
  private val B = 131L // codepoint base, same as RollingFingerprint
  private val B2 = 1000003L // token base

  private def tokenHash(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    if (s == null) return 0L
    val str = s.toString
    val len = str.length
    var h = 0L
    var i = 0
    while (i < len) {
      val cp = str.codePointAt(i)
      h = (h * B + cp) % P
      i += Character.charCount(cp)
    }
    h
  }

  def compute(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      th(i) = tokenHash(arr.getUTF8String(i))
      i += 1
    }
    var powK1 = 1L
    i = 0
    while (i < k - 1) { powK1 = powK1 * B2 % P; i += 1 }
    val out = new Array[Long](n - k + 1)
    var g = 0L
    i = 0
    while (i < k) { g = (g * B2 + th(i)) % P; i += 1 }
    out(0) = g
    i = k
    while (i < n) {
      g = ((g - th(i - k) * powK1) % P + P) % P
      g = (g * B2 + th(i)) % P
      out(i - k + 1) = g
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The builder [[Registration.natives]] registers. */
  def build(exprs: Seq[Expression]): TokenWindowHashes = exprs match {
    case Seq(c) => TokenWindowHashes(c)
    case Seq(c, kLit) =>
      TokenWindowHashes(c, RollingFingerprint.kFrom(kLit, "token_window_hashes"))
    case _ => throw new IllegalArgumentException(
      "token_window_hashes(tokens[, k]) takes 1 or 2 arguments")
  }
}
