package graft.expressions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, col, typedLit}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

import graft.Materialize

/** Nearest-centroid cell of a micro-unit vector (array of longs) under
  * a FIXED centroid matrix — the IVF coarse-quantizer assignment rule
  * that [[graft.operators.AnnIvfIndex]] admits and retrains with and
  * that q197's Lloyd rounds iterate:
  *
  *   score(c) = (double) Σ_i u(i)·cbarq(c)(i) / sqrt((double) greatest(cnormsq(c), 1))
  *
  * over the dims both arrays hold; the highest score wins and ties go
  * to the LOWER cell id. A null or empty vector (no dim in common with
  * any centroid) has no cell: the result is null. Null vector elements
  * add nothing. `cbarq` entries are occupancy-bounded means (|cbarq| ≤
  * 10⁶), so every dot product stays ≤ dims·10¹² and the long sum never
  * wraps.
  *
  * Replaces the (vec, dim) ⋈ broadcast(cell, dim) → (vec, cell)
  * aggregate → max(struct) form of the same rule: a narrow per-row
  * loop instead of a dims-fold row explosion and two shuffles. The
  * centroid arguments must be foldable (literals built from a
  * collected k·dims centroid frame, see [[NearestCentroid.assign]]);
  * they are evaluated once and held BY REFERENCE in generated code,
  * never inlined (the SignLshSig pattern). */
case class NearestCentroid(u: Expression, cells: Expression,
    cbarq: Expression, cnormsq: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(u, cells, cbarq, cnormsq)

  override def nullable: Boolean = true

  override def dataType: DataType = LongType

  override def prettyName: String = "nearest_centroid"

  override def checkInputDataTypes(): TypeCheckResult = {
    def longs(e: Expression): Boolean = e.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    val matrixType = cbarq.dataType match {
      case ArrayType(ArrayType(LongType, _), _) => true
      case _ => false
    }
    if (!longs(u) || !longs(cells) || !matrixType || !longs(cnormsq))
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires (array<bigint>, " +
        "array<bigint>, array<array<bigint>>, array<bigint>), got " +
        children.map(_.dataType.catalogString).mkString("(", ", ", ")"))
    else if (!Seq(cells, cbarq, cnormsq).forall(_.foldable))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires foldable centroid arguments (cells, cbarq, cnormsq)")
    else NearestCentroid.Centroids.check(
        cells.eval(), cbarq.eval(), cnormsq.eval()) match {
      case Some(err) => TypeCheckResult.TypeCheckFailure(s"$prettyName: $err")
      case None => TypeCheckResult.TypeCheckSuccess
    }
  }

  @transient private lazy val centroids: NearestCentroid.Centroids =
    NearestCentroid.Centroids.of(cells.eval(), cbarq.eval(), cnormsq.eval())

  override def eval(input: InternalRow): Any = {
    val a = u.eval(input)
    if (a == null) null else nullSafeEval(a.asInstanceOf[ArrayData])
  }

  private def nullSafeEval(a: ArrayData): Any = {
    val cs = centroids
    val n = a.numElements()
    var best = -1
    var bestScore = 0.0
    var c = 0
    while (c < cs.cells.length) {
      val w = cs.cbarq(c)
      val m = math.min(n, w.length)
      if (m > 0) {
        var dot = 0L
        var i = 0
        while (i < m) {
          dot += a.getLong(i) * w(i)
          i += 1
        }
        val score = dot.toDouble / cs.denom(c)
        if (best < 0 || score > bestScore ||
            (score == bestScore && cs.cells(c) < cs.cells(best))) {
          best = c
          bestScore = score
        }
      }
      c += 1
    }
    if (best < 0) null else cs.cells(best)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cs = centroids
    val cellsRef = ctx.addReferenceObj("ncCells", cs.cells, "long[]")
    val cbarqRef = ctx.addReferenceObj("ncCbarq", cs.cbarq, "long[][]")
    val denomRef = ctx.addReferenceObj("ncDenom", cs.denom, "double[]")
    val a = u.genCode(ctx)
    val n = ctx.freshName("n")
    val best = ctx.freshName("best")
    val bestScore = ctx.freshName("bestScore")
    val c = ctx.freshName("c")
    val w = ctx.freshName("w")
    val m = ctx.freshName("m")
    val dot = ctx.freshName("dot")
    val i = ctx.freshName("i")
    val score = ctx.freshName("score")
    ev.copy(code = code"""
      |${a.code}
      |boolean ${ev.isNull} = ${a.isNull};
      |long ${ev.value} = -1L;
      |if (!${ev.isNull}) {
      |  final int $n = ${a.value}.numElements();
      |  int $best = -1;
      |  double $bestScore = 0.0;
      |  for (int $c = 0; $c < $cellsRef.length; $c++) {
      |    final long[] $w = $cbarqRef[$c];
      |    final int $m = java.lang.Math.min($n, $w.length);
      |    if ($m == 0) continue;
      |    long $dot = 0L;
      |    for (int $i = 0; $i < $m; $i++) {
      |      $dot += ${a.value}.getLong($i) * $w[$i];
      |    }
      |    final double $score = (double) $dot / $denomRef[$c];
      |    if ($best < 0 || $score > $bestScore ||
      |        ($score == $bestScore && $cellsRef[$c] < $cellsRef[$best])) {
      |      $best = $c;
      |      $bestScore = $score;
      |    }
      |  }
      |  if ($best < 0) {
      |    ${ev.isNull} = true;
      |  } else {
      |    ${ev.value} = $cellsRef[$best];
      |  }
      |}
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(u = newChildren(0), cells = newChildren(1),
      cbarq = newChildren(2), cnormsq = newChildren(3))
}

object NearestCentroid {

  /** A centroid matrix: row `c` is cell `cells(c)` with mean `cbarq(c)`
    * (micro-units, one entry per dim) and squared norm `cnormsq(c)`.
    * `denom(c)` is the score divisor sqrt((double) greatest(cnormsq, 1)). */
  final case class Centroids(cells: Array[Long], cbarq: Array[Array[Long]],
      cnormsq: Array[Long]) {
    val denom: Array[Double] =
      cnormsq.map(q => math.sqrt(math.max(q, 1L).toDouble))
  }

  object Centroids {
    private[expressions] def check(cells: Any, cbarq: Any,
        cnormsq: Any): Option[String] = {
      val args = Seq(cells, cbarq, cnormsq).map(_.asInstanceOf[ArrayData])
      if (args.contains(null)) Some("centroid arguments must not be null")
      else if (args.map(_.numElements()).distinct.size != 1)
        Some("cells, cbarq and cnormsq must have one entry per cell, got " +
          args.map(_.numElements()).mkString(" / "))
      else if (args.exists(a => (0 until a.numElements()).exists(a.isNullAt)))
        Some("centroid arguments must not contain nulls")
      else None
    }

    private[expressions] def of(cells: Any, cbarq: Any,
        cnormsq: Any): Centroids = {
      val m = cbarq.asInstanceOf[ArrayData]
      Centroids(cells.asInstanceOf[ArrayData].toLongArray(),
        Array.tabulate(m.numElements())(c => m.getArray(c).toLongArray()),
        cnormsq.asInstanceOf[ArrayData].toLongArray())
    }
  }

  def build(args: Seq[Expression]): Expression = args match {
    case Seq(u, cells, cbarq, cnormsq) => NearestCentroid(u, cells, cbarq, cnormsq)
    case _ => throw new IllegalArgumentException(
      "nearest_centroid(u, cells, cbarq, cnormsq)")
  }

  /** Largest cell count and vector width a centroid matrix may have:
    * the matrix rides generated code by reference, so k·dims stays a
    * few MB (the testdata's is 10 × 64). */
  val MaxCells = 1024
  val MaxDims = 1024

  /** Collect a centroid frame (`cell`, `dim`, `cbarq`) — k·dims rows,
    * the quantizer artifact, bounded by [[MaxCells]]·[[MaxDims]] and
    * never by the corpus — into a matrix. `cnormsq` = Σ cbarq² folds on
    * the driver over the collected rows; a dim a cell lacks reads 0. */
  def collect(cent: DataFrame): Centroids = {
    val rows = Materialize.rows(cent.select(col("cell").cast("long"),
      col("dim").cast("int"), col("cbarq").cast("long")),
      "centroids", MaxCells * MaxDims)
    val byCell = rows.groupBy(_.getLong(0)).toArray.sortBy(_._1)
    val cbarq = byCell.map { case (_, rs) =>
      val v = new Array[Long](rs.map(_.getInt(1)).max + 1)
      rs.foreach(r => v(r.getInt(1)) = r.getLong(2))
      v
    }
    Centroids(byCell.map(_._1), cbarq, cbarq.map(_.map(b => b * b).sum))
  }

  /** The `nearest_centroid` column of micro-unit vector `u` under `c`,
    * with the matrix passed as literals (the caller's session has the
    * natives installed, see [[Registration.install]]). */
  def assign(u: Column, c: Centroids): Column =
    call_function("nearest_centroid", u, typedLit(c.cells),
      typedLit(c.cbarq), typedLit(c.cnormsq))
}
