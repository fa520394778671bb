package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, ArrayTransform, BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

import graft.expressions.{MmrSelect, OptimizerBarrier, Registration}
import graft.operators.InvertedTextIndex
import graft.queries.RetrievalQueries

/** Pins the `mmr_select` kernel against the array-HOF fold it replaced
  * in [[RetrievalQueries.mmrFold]]: the same greedy unrolled as
  * `topK` − 1 `transform`/`aggregate`/`filter` rounds, each behind
  * `opt_barrier`, re-scoring every remaining candidate against every
  * pick with `array_intersect` Jaccard. */
class MmrSelectSpec extends SparkSpec {
  import spark.implicits._

  private val CandType = StructType(Seq(StructField("rk", LongType),
    StructField("doc_id", LongType), StructField("rel_bp", LongType),
    StructField("tset", ArrayType(LongType))))

  /** The HOF fold, over (q_doc, cs) rows → (q_doc, pick, doc_id,
    * rel_bp, div_bp). */
  private def referenceSelect(grouped: DataFrame, topK: Int): DataFrame = {
    val lam = RetrievalQueries.MmrLambdaMilli
    val lam1 = 1000L - lam
    def jacSql(c: String, s: String): String =
      s"(10000L * cast(size(array_intersect($c.tset, $s.tset)) as bigint)) div " +
        s"(cast(size($c.tset) as bigint) + cast(size($s.tset) as bigint) - " +
        s"cast(size(array_intersect($c.tset, $s.tset)) as bigint))"
    val scoredSql =
      "transform(st.rem, c -> transform(array(" +
        s"array_max(transform(st.sel, s -> ${jacSql("c", "s")}))), " +
        s"m -> named_struct('v', ${lam}L * c.rel_bp - ${lam1}L * m, " +
        "'d', m, 'c', c))[0])"
    val bestSql =
      s"transform(array($scoredSql), ss -> " +
        "aggregate(slice(ss, 2, size(ss) - 1), element_at(ss, 1), " +
        "(acc, x) -> IF(x.v > acc.v OR (x.v = acc.v AND " +
        "x.c.doc_id < acc.c.doc_id), x, acc)))[0]"
    def roundSql(t: Int): String =
      "CASE WHEN size(st.rem) = 0 THEN st ELSE " +
        s"transform(array($bestSql), b -> named_struct(" +
        "'sel', concat(st.sel, array(named_struct(" +
        s"'pick', ${t}L, 'doc_id', b.c.doc_id, 'rel_bp', b.c.rel_bp, " +
        "'div_bp', b.d, 'tset', b.c.tset))), " +
        "'rem', filter(st.rem, c -> c.doc_id != b.c.doc_id)))[0] END"
    var st = grouped.withColumn("st", expr(
      "named_struct(" +
        "'sel', array(named_struct('pick', 1L, " +
        "'doc_id', element_at(cs, 1).doc_id, " +
        "'rel_bp', element_at(cs, 1).rel_bp, 'div_bp', 0L, " +
        "'tset', element_at(cs, 1).tset)), " +
        "'rem', transform(slice(cs, 2, size(cs) - 1), " +
        "c -> named_struct('doc_id', c.doc_id, 'rel_bp', c.rel_bp, " +
        "'tset', c.tset)))"))
    Registration.install(spark)
    for (t <- 2 to topK)
      st = st.withColumn("st", expr(s"opt_barrier(${roundSql(t)})"))
    st.select(col("q_doc"), explode(col("st.sel")).as("s"))
      .select(col("q_doc"), col("s.pick").as("pick"),
        col("s.doc_id").as("doc_id"), col("s.rel_bp").as("rel_bp"),
        col("s.div_bp").as("div_bp"))
  }

  private def grouped(cands: DataFrame): DataFrame =
    cands.groupBy(col("q_doc"))
      .agg(sort_array(collect_list(struct(col("rk"), col("doc_id"),
        col("rel_bp"), col("tset")))).as("cs"))

  private def kernelSelect(g: DataFrame, topK: Int): DataFrame = {
    Registration.install(spark)
    g.select(col("q_doc"), explode(call_function("mmr_select", col("cs"),
        lit(topK), lit(RetrievalQueries.MmrLambdaMilli))).as("s"))
      .select(col("q_doc"), col("s.pick"), col("s.doc_id"), col("s.rel_bp"),
        col("s.div_bp"))
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(1)))

  /** Fails with the first few differing rows, not both whole results. */
  private def assertSameRows(got: Seq[Row], want: Seq[Row], what: String): Unit = {
    val diff = got.zipAll(want, null, null).filter { case (g, w) => g != w }
    assert(diff.isEmpty, s"$what: kernel diverged from the fold on " +
      s"${diff.size} of ${want.size} rows, first (kernel, fold): ${diff.take(3)}")
  }

  /** One candidate: (rk, doc_id, rel_bp, tset). */
  private type Cand = (Long, java.lang.Long, java.lang.Long, Seq[java.lang.Long])

  /** Rows (q_doc, rk, doc_id, rel_bp, tset) of per-query candidate sets. */
  private def candFrame(sets: Seq[Seq[Cand]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(sets.zipWithIndex.flatMap { case (cs, q) =>
        cs.map { case (rk, d, r, ts) =>
          Row(q.toLong, rk, d, r, if (ts == null) null else ts.toArray)
        }
      }, 4),
      StructType(StructField("q_doc", LongType) +: CandType.fields.toSeq))

  /** Seeded candidate sets over a small doc-id and hash universe, so
    * equal `rel_bp`, equal similarities and ties in `v` are common;
    * token sets carry duplicate hashes, and at most one per set is
    * empty (two empty sets are a zero denominator, pinned separately).
    * With `nullTsets`, some token sets are null. */
  private def randomSets(seed: Int, n: Int, nullTsets: Boolean): Seq[Seq[Cand]] = {
    val rnd = new scala.util.Random(seed)
    Seq.tabulate(n) { q =>
      val size = q % 6 match {
        case 0 => 1
        case 1 => 2 + rnd.nextInt(3) // fewer than TopK
        case _ => 1 + rnd.nextInt(14)
      }
      val docs = rnd.shuffle((0L until 40L).toList).take(size)
      var emptyUsed = false
      docs.zipWithIndex.map { case (d, i) =>
        val rel = if (rnd.nextBoolean()) 10000L - 1000L * rnd.nextInt(4)
          else 10000L - rnd.nextInt(10000)
        val len = if (!emptyUsed && rnd.nextInt(12) == 0) { emptyUsed = true; 0 }
          else 1 + rnd.nextInt(8)
        val ts: Seq[java.lang.Long] =
          if (nullTsets && rnd.nextInt(10) == 0) null
          else Seq.fill(len)(java.lang.Long.valueOf(rnd.nextInt(12).toLong))
        ((i + 1).toLong, java.lang.Long.valueOf(d), java.lang.Long.valueOf(rel), ts)
      }
    }
  }

  private def withAnsi[T](on: Boolean)(f: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, on)
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("mmrFold equals the HOF fold on 240 seeded candidate sets, topK 1 to 6") {
    Registration.install(spark)
    val sets = randomSets(7, 240, nullTsets = false)
    assert(sets.count(_.size == 1) >= 20 && sets.count(_.size < RetrievalQueries.TopK) >= 60)
    assert(sets.exists(_.exists(c => c._4.distinct.size < c._4.size)))
    val cands = candFrame(sets)
    for (k <- Seq(1, 2, RetrievalQueries.TopK, 6)) {
      val got = rows(RetrievalQueries.mmrFold(cands, k))
      assertSameRows(got, rows(referenceSelect(grouped(cands), k)), s"topK $k")
      if (k == 1) assert(got.size == sets.size)
    }
  }

  test("null token sets follow the fold under ANSI and under the legacy setting") {
    Registration.install(spark)
    for (ansi <- Seq(true, false)) withAnsi(ansi) {
      val cands = candFrame(randomSets(11, 200, nullTsets = true))
      assertSameRows(rows(RetrievalQueries.mmrFold(cands, RetrievalQueries.TopK)),
        rows(referenceSelect(grouped(cands), RetrievalQueries.TopK)), s"ansi=$ansi")
    }
  }

  test("ties in v go to the lower doc_id, equal rel_bp included") {
    Registration.install(spark)
    // docs 9, 4 and 6 have the same rel_bp and token set: once 1 is
    // picked they tie in v, and the lower doc_id goes first
    val ts = Seq[java.lang.Long](1L, 2L, 3L)
    def c(rk: Long, d: Long, rel: Long, t: Seq[java.lang.Long]): Cand =
      (rk, java.lang.Long.valueOf(d), java.lang.Long.valueOf(rel), t)
    val cands = candFrame(Seq(Seq(c(1, 1, 10000, Seq[java.lang.Long](7L, 8L)),
      c(2, 9, 8000, ts), c(3, 4, 8000, ts), c(4, 6, 8000, ts))))
    val want = rows(referenceSelect(grouped(cands), 4))
    val got = rows(RetrievalQueries.mmrFold(cands, 4))
    assert(got == want)
    assert(got.map(_.getLong(2)) == Seq(1L, 4L, 6L, 9L))
  }

  test("a null cs gives what the fold gives") {
    val g = Seq((1L, null.asInstanceOf[Array[Long]])).toDF("q_doc", "x")
      .select(col("q_doc"), lit(null).cast(ArrayType(CandType)).as("cs"))
    for (k <- Seq(1, RetrievalQueries.TopK)) {
      val want = rows(referenceSelect(g, k))
      assert(rows(kernelSelect(g, k)) == want)
      assert(want.size == k && want.forall(_.isNullAt(2)))
    }
  }

  test("two empty token sets: the fold's zero denominator, under either ANSI setting") {
    Registration.install(spark)
    val empty = Seq.empty[java.lang.Long]
    val cands = candFrame(Seq(Seq(
      (1L, java.lang.Long.valueOf(3L), java.lang.Long.valueOf(10000L), empty),
      (2L, java.lang.Long.valueOf(5L), java.lang.Long.valueOf(9000L), empty))))
    val sessionAnsi = spark.conf.get("spark.sql.ansi.enabled").toBoolean
    for (ansi <- Seq(sessionAnsi, !sessionAnsi)) withAnsi(ansi) {
      if (ansi) {
        val ref = intercept[Exception](referenceSelect(grouped(cands), 2).collect())
        val ker = intercept[Exception](RetrievalQueries.mmrFold(cands, 2).collect())
        for (e <- Seq(ref, ker))
          assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .exists(_.getMessage.contains("DIVIDE_BY_ZERO")), e.toString)
      } else {
        val want = rows(referenceSelect(grouped(cands), 2))
        assert(rows(RetrievalQueries.mmrFold(cands, 2)) == want)
        assert(want.map(r => (r.getLong(2), Option(r.get(4)))) ==
          Seq((3L, Some(0L)), (5L, None)))
      }
    }
  }

  test("codegen and interpreted evaluation agree") {
    val e = MmrSelect(BoundReference(0, ArrayType(CandType), nullable = true),
      Literal(RetrievalQueries.TopK), Literal(RetrievalQueries.MmrLambdaMilli))
    assert(e.checkInputDataTypes().isSuccess)
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(ArrayType(CandType))
    val sets = randomSets(5, 200, nullTsets = true).map(s =>
      s.map { case (rk, d, r, ts) => Row(rk, d, r, if (ts == null) null else ts.toArray) })
    for (s <- sets :+ null) {
      val row = org.apache.spark.sql.catalyst.InternalRow(toCatalyst(s))
      def scala(v: Any) = CatalystTypeConverters.convertToScala(v, MmrSelect.PicksType)
      assert(scala(proj(row).getArray(0)) == scala(e.eval(row)))
    }
    // the generated code references the kernel, not an inlined loop
    val ctx = new org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
    assert(e.genCode(ctx).code.toString.contains(".select("))
  }

  test("q186 and mmrSearch plans run the kernel, with no array-HOF rounds") {
    val table = "mmr_select_spec_idx"
    def drop(): Unit = GraftSession.dropTables(spark, table, s"${table}_meta",
      s"${table}_fwd")
    drop()
    try {
      InvertedTextIndex.build(Tables.documents(spark, sf0001), table, forward = true)
      val docs = Tables.documents(spark, sf0001)
      val queries = RetrievalQueries.queryDocs(spark, sf0001)
        .join(docs, col("q_doc") === col("doc_id")).select(col("q_doc"), col("text"))
      for ((name, df) <- Seq(
          "q186" -> SparkEntry.queries("q186_mmr_diversify")(spark, sf0001),
          "mmrSearch" -> InvertedTextIndex.mmrSearch(queries, table))) {
        val exprs = df.queryExecution.optimizedPlan
          .collectWithSubqueries { case p => p.expressions }.flatten
          .flatMap(_.collect { case x => x })
        val banned = exprs.collect {
          case _: ArrayTransform => "ArrayTransform"
          case _: ArrayIntersect => "ArrayIntersect"
          case _: OptimizerBarrier => "opt_barrier"
        }.distinct
        assert(banned.isEmpty, s"$name plan still holds ${banned.mkString(", ")}")
        assert(exprs.exists(_.isInstanceOf[MmrSelect]), s"$name plan has no mmr_select")
      }
    } finally drop()
  }
}
