package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{EvalMode, Expression, GenericInternalRow, IntegralDivide, Literal, NumericEvalContext}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructField, StructType}

/** The maximal-marginal-relevance greedy (Carbonell & Goldstein 1998)
  * over ONE query's candidates: `mmr_select(cs, topK, lambdaMilli)`.
  *
  * `cs` is the query's candidates as `array<struct<…, doc_id, rel_bp,
  * tset>>` in rank order (the sorted `collect_list` of
  * [[graft.queries.RetrievalQueries.mmrFold]]); the result is the picks
  * as `array<struct<pick, doc_id, rel_bp, div_bp>>`. Pick 1 is `cs[0]`
  * with `div_bp` 0. Each later pick `t ≤ topK`, while candidates remain,
  * is the remaining candidate with the highest
  * `v = λ·rel_bp − (1000 − λ)·m`, ties to the lower `doc_id`, where `m`
  * (its `div_bp`) is the candidate's max token-set Jaccard, in basis
  * points, to the picks so far:
  * `10000·|A∩B| div (size A + size B − |A∩B|)`, the intersection
  * distinct (`array_intersect`) and the sizes counting duplicates
  * (`size`). A pick removes every remaining candidate with its doc_id.
  *
  * Each `tset` is copied once into a sorted, de-duplicated `long[]`,
  * and after each pick only the new pick is merge-intersected with the
  * remaining candidates, updating their running max: O(k·F)
  * intersections per query where re-scoring every pick each round is
  * O(k²·F). The pairs intersected are exactly those the round-by-round
  * greedy scores, so a zero denominator (two empty token sets) raises
  * `DIVIDE_BY_ZERO` under ANSI and is null otherwise, as `div` is. Null
  * operands follow the SQL it replaces: a null Jaccard (a null `tset`
  * under ANSI; `size(null)` is −1 under the legacy setting) is skipped
  * by the max, a null `v` neither wins nor is overtaken, a null doc_id
  * never ties lower and its pick removes every remaining candidate, and
  * a null `cs` gives `topK` picks of null fields. An empty `cs`, which
  * `collect_list` never yields, gives no picks.
  *
  * `eval` and the generated code call the same [[MmrKernel.select]]
  * (held by reference), so the two paths cannot diverge. `ansi` and
  * `legacySizeOfNull` are read from the session's conf when the
  * expression is built, as Spark's own `div` and `size` do. */
case class MmrSelect(cs: Expression, topK: Expression, lambdaMilli: Expression,
    ansi: Boolean = SQLConf.get.ansiEnabled,
    legacySizeOfNull: Boolean = SQLConf.get.legacySizeOfNull)
    extends Expression {

  override def children: Seq[Expression] = Seq(cs, topK, lambdaMilli)

  override def nullable: Boolean = true

  override def dataType: DataType = MmrSelect.PicksType

  override def prettyName: String = "mmr_select"

  override def checkInputDataTypes(): TypeCheckResult = {
    val csOk = cs.dataType match {
      case ArrayType(st: StructType, _) => MmrSelect.fieldsOk(st)
      case _ => false
    }
    if (csOk && topK.dataType == IntegerType && lambdaMilli.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires (array<struct<…, " +
      "doc_id: bigint, rel_bp: bigint, tset: array<bigint>>>, int, bigint), got " +
      children.map(_.dataType.catalogString).mkString("(", ", ", ")"))
  }

  @transient private lazy val kernel: MmrKernel = {
    val st = cs.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    new MmrKernel(st.length, st.fieldIndex("doc_id"), st.fieldIndex("rel_bp"),
      st.fieldIndex("tset"), ansi, legacySizeOfNull)
  }

  override def eval(input: InternalRow): Any = {
    val k = topK.eval(input)
    val lam = lambdaMilli.eval(input)
    if (k == null || lam == null) null
    else kernel.select(cs.eval(input).asInstanceOf[ArrayData],
      k.asInstanceOf[Int], lam.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mmrKernel", kernel, classOf[MmrKernel].getName)
    val c = cs.genCode(ctx)
    val k = topK.genCode(ctx)
    val lam = lambdaMilli.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${k.code}
      |${lam.code}
      |boolean ${ev.isNull} = ${k.isNull} || ${lam.isNull};
      |ArrayData ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  ${ev.value} = $ref.select(${c.isNull} ? null : ${c.value},
      |    ${k.value}, ${lam.value});
      |}
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(cs = newChildren(0), topK = newChildren(1), lambdaMilli = newChildren(2))
}

object MmrSelect {

  val PicksType: ArrayType = ArrayType(StructType(Seq(
    StructField("pick", LongType, nullable = false),
    StructField("doc_id", LongType),
    StructField("rel_bp", LongType),
    StructField("div_bp", LongType))), containsNull = false)

  private def fieldsOk(st: StructType): Boolean = {
    def has(name: String, dt: DataType): Boolean =
      st.fields.exists(f => f.name == name && f.dataType == dt)
    has("doc_id", LongType) && has("rel_bp", LongType) &&
      st.fields.exists(f => f.name == "tset" && (f.dataType match {
        case ArrayType(LongType, _) => true
        case _ => false
      }))
  }

  def build(args: Seq[Expression]): Expression = args match {
    case Seq(cs, topK, lambdaMilli) => MmrSelect(cs, topK, lambdaMilli)
    case _ => throw new IllegalArgumentException(
      "mmr_select(cs, topK, lambdaMilli)")
  }
}

/** The greedy itself, over `cs` elements of `nFields` fields with
  * doc_id, rel_bp and tset at the given ordinals (see [[MmrSelect]]). */
final class MmrKernel(nFields: Int, docOrd: Int, relOrd: Int, tsetOrd: Int,
    ansi: Boolean, legacySizeOfNull: Boolean) extends Serializable {
  import MmrKernel.Null

  /** `size()` of a null array: −1 under the legacy setting, else null. */
  private val NullSize: Long = if (legacySizeOfNull) -1L else Null

  /** Spark's own `div` by zero: raises DIVIDE_BY_ZERO under ANSI, else
    * evaluates to null. */
  @transient private lazy val divByZero = IntegralDivide(Literal(0L), Literal(0L),
    NumericEvalContext(EvalMode.fromBoolean(ansi)))

  def select(cs: ArrayData, topK: Int, lam: Long): ArrayData = {
    if (cs == null) {
      return new GenericArrayData(Array.tabulate[Any](math.max(topK, 1))(t =>
        pick(t + 1, null, null, if (t == 0) 0L else null)))
    }
    val n = cs.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val doc = new Array[Any](n) // boxed: null stays null
    val rel = new Array[Any](n)
    val size = new Array[Long](n) // size(tset); NullSize for a null tset
    val set = new Array[Array[Long]](n) // sorted distinct non-null hashes
    val hasNullHash = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      val c = if (cs.isNullAt(i)) null else cs.getStruct(i, nFields)
      doc(i) = if (c == null || c.isNullAt(docOrd)) null else c.getLong(docOrd)
      rel(i) = if (c == null || c.isNullAt(relOrd)) null else c.getLong(relOrd)
      val ts = if (c == null || c.isNullAt(tsetOrd)) null else c.getArray(tsetOrd)
      if (ts == null) size(i) = NullSize
      else {
        size(i) = ts.numElements()
        val hs = new Array[Long](ts.numElements())
        var nonNull = 0
        var j = 0
        while (j < hs.length) {
          if (ts.isNullAt(j)) hasNullHash(i) = true
          else { hs(nonNull) = ts.getLong(j); nonNull += 1 }
          j += 1
        }
        java.util.Arrays.sort(hs, 0, nonNull)
        var d = 0
        j = 0
        while (j < nonNull) {
          if (d == 0 || hs(j) != hs(d - 1)) { hs(d) = hs(j); d += 1 }
          j += 1
        }
        set(i) = java.util.Arrays.copyOf(hs, d)
      }
      i += 1
    }

    val picks = new java.util.ArrayList[Any](math.max(topK, 1))
    picks.add(pick(1, doc(0), rel(0), 0L))
    val alive = Array.tabulate(n)(_ > 0)
    var remaining = n - 1
    val m = Array.fill(n)(Null) // running max Jaccard-bp to the picks
    var last = 0
    var t = 2
    while (t <= topK && remaining > 0) {
      var best = -1
      var bestV = 0L
      var bestVNull = true
      i = 0
      while (i < n) {
        if (alive(i)) {
          val jac = jaccard(i, last, size, set, hasNullHash)
          if (jac != Null && (m(i) == Null || jac > m(i))) m(i) = jac
          val vNull = m(i) == Null || rel(i) == null
          val v = if (vNull) 0L else lam * rel(i).asInstanceOf[Long] - (1000L - lam) * m(i)
          if (best < 0 ||
              (!vNull && !bestVNull && (v > bestV || (v == bestV &&
                doc(i) != null && doc(best) != null &&
                doc(i).asInstanceOf[Long] < doc(best).asInstanceOf[Long])))) {
            best = i
            bestV = v
            bestVNull = vNull
          }
        }
        i += 1
      }
      picks.add(pick(t, doc(best), rel(best), if (m(best) == Null) null else m(best)))
      // the SQL filter keeps c iff c.doc_id != pick.doc_id is TRUE
      i = 0
      while (i < n) {
        if (alive(i) && (doc(best) == null || doc(i) == null ||
            doc(i).asInstanceOf[Long] == doc(best).asInstanceOf[Long])) {
          alive(i) = false
          remaining -= 1
        }
        i += 1
      }
      last = best
      t += 1
    }
    new GenericArrayData(picks.toArray)
  }

  /** Jaccard-bp of candidates `a` and `b`, or [[MmrKernel.Null]]. */
  private def jaccard(a: Int, b: Int, size: Array[Long], set: Array[Array[Long]],
      hasNullHash: Array[Boolean]): Long = {
    val inter =
      if (set(a) == null || set(b) == null) NullSize
      else {
        val x = set(a)
        val y = set(b)
        var i = 0
        var j = 0
        var common = if (hasNullHash(a) && hasNullHash(b)) 1L else 0L
        while (i < x.length && j < y.length) {
          if (x(i) == y(j)) { common += 1; i += 1; j += 1 }
          else if (x(i) < y(j)) i += 1
          else j += 1
        }
        common
      }
    if (inter == Null || size(a) == Null || size(b) == Null) Null
    else {
      val den = size(a) + size(b) - inter
      if (den != 0) 10000L * inter / den
      else { divByZero.eval(); Null }
    }
  }

  private def pick(t: Int, doc: Any, rel: Any, div: Any): InternalRow =
    new GenericInternalRow(Array[Any](t.toLong, doc, rel, div))
}

private object MmrKernel {

  /** Stands for SQL NULL in the kernel's Jaccard-bp values, which lie in
    * [−10000·F, 10000] for token sets of at most F hashes. */
  val Null: Long = Long.MinValue
}
