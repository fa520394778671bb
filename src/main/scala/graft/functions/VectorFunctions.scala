package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector math as higher-order column expressions — stays in
  * whole-stage codegen (no UDFs). Elements are cast FLOAT→DOUBLE before
  * any arithmetic so both the engine and the DuckDB oracle accumulate in
  * double; sums are sequential left-folds on both sides, and cosine
  * outputs are rounded(6) which absorbs any residual summation-order
  * noise (< 1e-13 for 64-dim unit-scale vectors).
  */
object VectorFunctions {

  /** Σ a_i·b_i over two float arrays, in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def dotSql(a: String, b: String): String =
    s"list_dot_product(list_transform($a, x -> CAST(x AS DOUBLE)), " +
      s"list_transform($b, x -> CAST(x AS DOUBLE)))"

  /** A float vector in exact-integer micro-units (round(v·10⁶) as
    * BIGINT per element) — the IVF/PQ quantization. */
  def microUnits(a: Column): Column =
    transform(a, v => round(v.cast("double") * 1e6).cast("long"))

  /** L2 norm in double. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  def normSql(a: String): String = s"sqrt(${dotSql(a, a)})"

  /** Cosine similarity in double (callers round). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)}))"
}
