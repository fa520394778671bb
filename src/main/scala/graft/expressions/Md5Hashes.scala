package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused md5-prefix hashing for the text-dedup / retrieval hot paths.
  *
  * Every token/shingle key in the suite is defined as the first N hex
  * chars of md5 parsed base-16 — `conv(substring(md5(x), 1, N), 16,
  * 10)` on Spark, `CAST(('0x' || substr(md5(x),1,N)) AS BIGINT)` on
  * DuckDB (N = 8 for 32-bit shingle keys, 15 for 60-bit content keys).
  * The composed built-in form pays, PER TOKEN: a fresh MessageDigest
  * (Spark's `Md5` goes through DigestUtils.md5Hex which allocates one
  * per call), a 32-char hex UTF8String, a substring copy, and a
  * base-16 NumberConverter parse — all to recover an integer that is
  * just the digest's leading bytes. These expressions compute the
  * identical value directly: thread-reused digest, first ⌈N/2⌉ digest
  * bytes folded big-endian (odd N keeps the high nibble of the last
  * byte — exactly the hex-prefix value, which is unsigned and < 2⁶⁰
  * for N ≤ 15, so the BIGINT parse can never differ). The n-gram form
  * additionally streams `wᵢ ‖ ' ' ‖ wᵢ₊₁ ‖ …` through the digest
  * without materializing the concatenated string (UTF-8 is
  * context-free, so concatenating the byte arrays IS the encoding of
  * the concatenated string). The DuckDB oracles keep the literal
  * md5-substring form — parity across all scales is the equivalence
  * proof, plus Md5HashesSpec pins each expression against its
  * composed-builtin twin on randomized input.
  *
  * Null semantics mirror the composed forms exactly: null input →
  * null; a null array element (or any null word inside an n-gram
  * window) → null element, because `md5(null)`/`concat(null, …)` are
  * null.
  */
object Md5Hashes {

  private val tl = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  private val Space = Array[Byte](' '.toByte)

  /** First `nHex` hex chars of the digest as an unsigned value (nHex ≤
    * 15 keeps it positive in a long — exactly conv(..,16,10)::long). */
  private def fold(dig: Array[Byte], nHex: Int): Long = {
    var v = 0L
    var i = 0
    val full = nHex >> 1
    while (i < full) { v = (v << 8) | (dig(i) & 0xffL); i += 1 }
    if ((nHex & 1) == 1) v = (v << 4) | ((dig(full) & 0xf0L) >>> 4)
    v
  }

  def prefixLong(s: UTF8String, nHex: Int): Long = {
    val d = tl.get()
    d.update(s.getBytes)
    fold(d.digest(), nHex)
  }

  def prefixLongs(arr: ArrayData, nHex: Int): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    val d = tl.get()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        d.update(arr.getUTF8String(i).getBytes)
        out(i) = fold(d.digest(), nHex)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Hash of every size-`n` window `w(i) ‖ ' ' ‖ … ‖ w(i+n-1)`;
    * windows containing a null word yield a null element (concat
    * semantics). Fewer than `n` words → empty array (call sites guard
    * size ≥ n; the composed sequence() form is undefined below it). */
  def ngramLongs(arr: ArrayData, n: Int, nHex: Int): ArrayData = {
    val len = arr.numElements()
    if (len < n) return new GenericArrayData(Array.emptyLongArray)
    val m = len - n + 1
    val out = new Array[Any](m)
    val d = tl.get()
    var i = 0
    while (i < m) {
      var nulls = false
      var j = 0
      while (j < n && !nulls) {
        if (arr.isNullAt(i + j)) nulls = true
        j += 1
      }
      if (!nulls) {
        j = 0
        while (j < n) {
          if (j > 0) d.update(Space)
          d.update(arr.getUTF8String(i + j).getBytes)
          j += 1
        }
        out(i) = fold(d.digest(), nHex)
      } else d.reset()
      i += 1
    }
    new GenericArrayData(out)
  }

  /** MinHash permutation constants: h_i(x) = (a_i·h + b_i) mod P over
    * the 32-bit md5-prefix token hash. a_i·h < 1e9 · 2³² < 2⁶³ — no
    * overflow. THE canonical definition (TextQueries aliases these and
    * inlines the same constants into the DuckDB oracle SQL). */
  val MinHashP = 2147483647L
  val MinHashPerms: Seq[(Long, Long)] = Seq(
    (824633721L, 97L), (592397613L, 1031L), (405187081L, 65537L),
    (975319753L, 257L), (163841233L, 8209L), (741002381L, 12289L),
    (318271183L, 524287L), (662551321L, 2053L))

  private val permA = MinHashPerms.map(_._1).toArray
  private val permB = MinHashPerms.map(_._2).toArray

  /** The 8 permutation minima over the 32-bit md5-prefix hashes of the
    * words — `min((hash32(w) * a_i + b_i) % P) GROUP BY doc` fused
    * into one pass over the doc's word array (null words skipped, the
    * aggregate-min semantics; all-null → all-null mins). */
  def minhash8(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val mins = new Array[Long](8)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var any = false
    val d = tl.get()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        any = true
        d.update(arr.getUTF8String(i).getBytes)
        val h = fold(d.digest(), 8)
        var k = 0
        while (k < 8) {
          val v = (h * permA(k) + permB(k)) % MinHashP
          if (v < mins(k)) mins(k) = v
          k += 1
        }
      }
      i += 1
    }
    if (!any) new GenericArrayData(new Array[Any](8))
    else new GenericArrayData(mins)
  }
}

/** `md5_prefix_long(str, nHex)`: first `nHex` hex chars of md5(str)
  * as BIGINT — bit-identical to conv(substring(md5(str),1,nHex),16,10)
  * cast to long, minus the hex-string round-trip. */
case class Md5PrefixLong(child: Expression, nHex: Int)
    extends UnaryExpression {

  require(nHex >= 1 && nHex <= 15, "nHex must be in [1, 15]")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${dt.catalogString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix_long"

  override protected def nullSafeEval(input: Any): Any =
    Md5Hashes.prefixLong(input.asInstanceOf[UTF8String], nHex)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.expressions.Md5Hashes$$.MODULE$$" +
        s".prefixLong($s, $nHex);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5PrefixLong {
  def build(exprs: Seq[Expression]): Md5PrefixLong = exprs match {
    case Seq(c, nLit) =>
      Md5PrefixLong(c, RollingFingerprint.kFrom(nLit, "md5_prefix_long"))
    case _ => throw new IllegalArgumentException(
      "md5_prefix_long(str, nHex) takes 2 arguments")
  }
}

/** `md5_prefix_longs(arr, nHex)`: elementwise [[Md5PrefixLong]] over
  * an array of strings (null elements stay null) — the fused form of
  * transform(arr, w -> conv(substring(md5(w),1,nHex),16,10)). */
case class Md5PrefixLongs(child: Expression, nHex: Int)
    extends UnaryExpression {

  require(nHex >= 1 && nHex <= 15, "nHex must be in [1, 15]")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${dt.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "md5_prefix_longs"

  override protected def nullSafeEval(input: Any): Any =
    Md5Hashes.prefixLongs(input.asInstanceOf[ArrayData], nHex)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.Md5Hashes$$.MODULE$$" +
        s".prefixLongs($a, $nHex);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5PrefixLongs {
  def build(exprs: Seq[Expression]): Md5PrefixLongs = exprs match {
    case Seq(c, nLit) =>
      Md5PrefixLongs(c, RollingFingerprint.kFrom(nLit, "md5_prefix_longs"))
    case _ => throw new IllegalArgumentException(
      "md5_prefix_longs(arr, nHex) takes 2 arguments")
  }
}

/** `ngram_md5_longs(arr, n, nHex)`: md5-prefix hash of every size-`n`
  * space-joined window of `arr` — the fused form of
  * transform(transform(sequence(0, size(arr)-n), i -> concat(arr[i],
  * ' ', …)), t -> conv(substring(md5(t),1,nHex),16,10)). Call sites
  * must guarantee size(arr) ≥ n (the sequence() form is undefined
  * below it; this form returns an empty array). */
case class NgramMd5Longs(child: Expression, n: Int, nHex: Int)
    extends UnaryExpression {

  require(n >= 1, "n must be >= 1")
  require(nHex >= 1 && nHex <= 15, "nHex must be in [1, 15]")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${dt.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "ngram_md5_longs"

  override protected def nullSafeEval(input: Any): Any =
    Md5Hashes.ngramLongs(input.asInstanceOf[ArrayData], n, nHex)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.Md5Hashes$$.MODULE$$" +
        s".ngramLongs($a, $n, $nHex);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NgramMd5Longs {
  def build(exprs: Seq[Expression]): NgramMd5Longs = exprs match {
    case Seq(c, nLit, hLit) =>
      NgramMd5Longs(c, RollingFingerprint.kFrom(nLit, "ngram_md5_longs"),
        RollingFingerprint.kFrom(hLit, "ngram_md5_longs"))
    case _ => throw new IllegalArgumentException(
      "ngram_md5_longs(arr, n, nHex) takes 3 arguments")
  }
}

/** `minhash_sig(words)`: the 8 MinHash permutation minima over the
  * 32-bit md5-prefix hashes of `words`, as one array — the fused form
  * of explode + `min((hash32(w)·a_i + b_i) % P) GROUP BY doc_id`
  * (TextQueries.minhashAgg): same per-word hash, same modular
  * arithmetic, min instead of aggregate-min, so the signature is
  * bit-identical and the explode+shuffle disappears. */
case class MinHashSig(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${dt.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    Md5Hashes.minhash8(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.Md5Hashes$$.MODULE$$" +
        s".minhash8($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {
  def build(exprs: Seq[Expression]): MinHashSig = exprs match {
    case Seq(c) => MinHashSig(c)
    case _ => throw new IllegalArgumentException(
      "minhash_sig(words) takes 1 argument")
  }
}
