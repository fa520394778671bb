package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The 16-bit sign-LSH signature over a micro-unit vector (array of
  * longs): bit j is set when Σ_i planeSign(j,i)·u(i) ≥ 0, with the
  * deterministic ±1 hyperplane matrix shared with the DuckDB oracle
  * (VectorQueries inlines the same matrix as literals into the SQL
  * side).
  *
  * Replaces a 1,024-term inlined CASE/add expression on the semantic-
  * dedup hot path (q172/q175/q176/q178/q179 + the delta/streaming
  * grids): the generated code is two short loops over a referenced
  * int[] instead of ~16 giant expression trees — far less Janino
  * source to compile per stage and a tighter inner loop, with
  * bit-identical results (same integer adds in the same order; the
  * sign threshold never sees floats). */
case class SignLshSig(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${other.catalogString}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "sign_lsh_sig"

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = math.min(SignLshSig.Dim, a.numElements())
    val planes = SignLshSig.flatPlanes
    var sig = 0L
    var j = 0
    while (j < SignLshSig.Planes) {
      var acc = 0L
      val base = j * SignLshSig.Dim
      var i = 0
      while (i < n) {
        acc += planes(base + i) * a.getLong(i)
        i += 1
      }
      if (acc >= 0L) sig |= 1L << j
      j += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val planes = ctx.addReferenceObj("signLshPlanes",
        SignLshSig.flatPlanes, "int[]")
      val n = ctx.freshName("n")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val base = ctx.freshName("base")
      s"""
         |final int $n = java.lang.Math.min(${SignLshSig.Dim}, $a.numElements());
         |${ev.value} = 0L;
         |for (int $j = 0; $j < ${SignLshSig.Planes}; $j++) {
         |  long $acc = 0L;
         |  final int $base = $j * ${SignLshSig.Dim};
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $planes[$base + $i] * $a.getLong($i);
         |  }
         |  if ($acc >= 0L) ${ev.value} |= 1L << $j;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SignLshSig {
  val Planes = 16
  val Dim = 64

  /** Deterministic ±1 hyperplane matrix (splitmix64 bit per (j,i)) —
    * THE canonical definition; VectorQueries inlines these same signs
    * as literals into the oracle SQL. */
  val planeSign: Array[Array[Int]] =
    Array.tabulate(Planes, Dim) { (j, i) =>
      val z0 = (j * Dim + i + 1).toLong * 0x9E3779B97F4A7C15L
      val z1 = (z0 ^ (z0 >>> 30)) * 0xBF58476D1CE4E5B9L
      val z2 = (z1 ^ (z1 >>> 27)) * 0x94D049BB133111EBL
      if ((((z2 ^ (z2 >>> 31)) >>> 17) & 1L) == 1L) 1 else -1
    }

  private[expressions] val flatPlanes: Array[Int] = planeSign.flatten
}
