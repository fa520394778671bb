package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** One native SQL function: its name, implementing expression class,
  * usage line, and builder over the call's argument expressions. */
final case class NativeFunction(name: String, cls: Class[_ <: Expression],
    usage: String, build: Seq[Expression] => Expression) {
  def info: ExpressionInfo =
    new ExpressionInfo(cls.getName, null, name, s"$name$usage", "")
}

/** The engine's native functions, and their session-scoped, truly
  * idempotent temp-function install.
  *
  * [[natives]] is the ONE list, installed on two paths that read it
  * whole: `graft.GraftExtensions` injects it into sessions built with
  * the extensions (the cluster path), and [[install]] registers it in
  * any other session where that session enters the engine — each
  * query `SparkEntry.queries` hands out, and each operator or streaming
  * entry point whose plan calls a native by name. No plan-building site
  * registers a single function.
  *
  * `createOrReplaceTempFunction` logs a "replaced a previously registered
  * function" WARN on every call after the first; checking
  * `functionExists` first keeps a repeated install a no-op.
  */
object Registration {

  val natives: Seq[NativeFunction] = Seq(
    NativeFunction("sorted_long_intersect_count",
      classOf[SortedLongIntersectCount],
      "(a, b) - |A ∩ B| of two ascending sorted BIGINT arrays (merge scan, codegen).",
      exprs => SortedLongIntersectCount(exprs(0), exprs(1))),
    NativeFunction("float_vector_dot", classOf[FloatVectorDot],
      "(a, b) - fused dot product of two FLOAT arrays accumulated in DOUBLE (codegen).",
      exprs => FloatVectorDot(exprs(0), exprs(1))),
    NativeFunction("rolling_fingerprint", classOf[RollingFingerprint],
      "(text[, k]) - struct(poly_hash, min_gram_hash, max_gram_hash, n_distinct_grams): Rabin-Karp fold + rolling k-gram sketch in one codegen'd scan.",
      RollingFingerprint.build),
    NativeFunction("token_window_hashes", classOf[TokenWindowHashes],
      "(tokens[, k]) - array of polynomial hashes of every sliding k-token window (O(n) rolling scan, codegen).",
      TokenWindowHashes.build),
    NativeFunction("opt_barrier", classOf[OptimizerBarrier],
      "(expr) - expr, hidden from predicate pushdown (identity at run time).",
      {
        case Seq(c) => OptimizerBarrier(c)
        case _ => throw new IllegalArgumentException("opt_barrier(expr)")
      }),
    NativeFunction("sign_lsh_sig", classOf[SignLshSig],
      "(u) - 16-bit sign-LSH signature of a 64-dim micro-unit BIGINT vector (codegen).",
      exprs => SignLshSig(exprs(0))),
    NativeFunction("nearest_centroid", classOf[NearestCentroid],
      "(u, cells, cbarq, cnormsq) - the IVF cell of a micro-unit BIGINT vector under a foldable centroid matrix: max dot/sqrt(greatest(cnormsq, 1)), ties to the lower cell (codegen).",
      NearestCentroid.build),
    NativeFunction("mmr_select", classOf[MmrSelect],
      "(cs, topK, lambdaMilli) - the MMR picks of one query's rank-sorted candidates array<struct<…, doc_id, rel_bp, tset>>: max λ·rel_bp − (1000−λ)·maxJaccardBp, ties to the lower doc_id.",
      MmrSelect.build),
    NativeFunction("md5_prefix_long", classOf[Md5PrefixLong],
      "(str, nHex) - the first nHex hex digits of md5(str) as a BIGINT (codegen).",
      Md5PrefixLong.build),
    NativeFunction("md5_prefix_longs", classOf[Md5PrefixLongs],
      "(arr, nHex) - md5_prefix_long over each element of a string array.",
      Md5PrefixLongs.build),
    NativeFunction("ngram_md5_longs", classOf[NgramMd5Longs],
      "(arr, n, nHex) - md5_prefix_long of every space-joined n-token window.",
      NgramMd5Longs.build),
    NativeFunction("minhash_sig", classOf[MinHashSig],
      "(words) - the 8 MinHash permutation minima over the words' 32-bit md5-prefix hashes.",
      MinHashSig.build))

  /** Register every [[natives]] entry `spark`'s session lacks. The
    * registry's lock makes check-then-register one step, so entries
    * called from concurrent threads (serving clients) never both
    * register a name. */
  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.synchronized {
      natives.foreach { f =>
        if (!registry.functionExists(FunctionIdentifier(f.name)))
          registry.createOrReplaceTempFunction(f.name, f.build, "built-in")
      }
    }
  }
}
