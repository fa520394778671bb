package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

import graft.expressions.{NearestCentroid, Registration}
import graft.operators.AnnIvfIndex

/** Pins the `nearest_centroid` kernel against the join form of the IVF
  * assignment rule it replaced in q197 and AnnIvfIndex: explode the
  * vector to (vec, dim) rows, join the (cell, dim, cbarq) centroid
  * rows on dim, sum u·cbarq per (vec, cell), and keep the max
  * dot/sqrt(greatest(cnormsq, 1)) with ties to the lower cell. */
class NearestCentroidSpec extends SparkSpec {
  import spark.implicits._

  /** The reference rule over vectors (`vec_id`, `u`) and a centroid
    * frame (`cell`, `dim`, `cbarq`, `cnormsq`); a vector with no dim in
    * common with any centroid has no row. */
  private def reference(vecs: DataFrame, cent: DataFrame): DataFrame =
    vecs.select(col("vec_id"), posexplode(col("u")).as(Seq("dim", "u")))
      .join(broadcast(cent.select(col("cell"), col("dim"), col("cbarq"))),
        "dim")
      .groupBy(col("vec_id"), col("cell"))
      .agg(sum(col("u") * col("cbarq")).as("dotnum"))
      .join(broadcast(cent.select(col("cell"), col("cnormsq")).distinct()),
        "cell")
      .groupBy(col("vec_id"))
      .agg(max(struct(
        (col("dotnum").cast("double") /
          sqrt(greatest(col("cnormsq"), lit(1L)).cast("double"))).as("score"),
        (-col("cell")).as("negCell"))).as("best"))
      .select(col("vec_id"), (-col("best.negCell")).as("cell"))

  private def viaKernel(vecs: DataFrame, cent: DataFrame): DataFrame = {
    Registration.install(spark)
    vecs.select(col("vec_id"), NearestCentroid.assign(col("u"),
        NearestCentroid.collect(cent)).as("cell"))
      .filter(col("cell").isNotNull)
  }

  /** Centroid frame rows from per-cell mean vectors, cnormsq = Σ cbarq². */
  private def centFrame(cents: Seq[(Long, Array[Long])]): DataFrame =
    cents.flatMap { case (cell, v) =>
      val nsq = v.map(b => b * b).sum
      v.zipWithIndex.map { case (b, dim) => (cell, dim, b, nsq) }
    }.toDF("cell", "dim", "cbarq", "cnormsq")

  private def assertSameCells(vecs: DataFrame, cent: DataFrame): Unit = {
    val want = reference(vecs, cent).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = viaKernel(vecs, cent).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"kernel diverged from the join rule on " +
      s"${(got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))} vectors")
  }

  test("seeded random vectors and centroid sets match the join rule") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val dims = 64
      val k = 3 + rnd.nextInt(14)
      // non-contiguous cell ids, micro-unit magnitudes like the real data
      val cents = (0 until k).map(c =>
        (3L * c + 5L, Array.fill(dims)(rnd.nextLong() % 1000000L)))
      val vecs = Seq.tabulate(400)(i =>
        (i.toLong, Array.fill(dims)(rnd.nextLong() % 1000000L))).toDF("vec_id", "u")
      assertSameCells(vecs, centFrame(cents))
    }
  }

  test("identical centroids tie to the lower cell") {
    val v = Array(3L, -1L, 4L, 1L)
    val cent = centFrame(Seq(9L -> v, 2L -> v, 7L -> v))
    val vecs = Seq((1L, Array(5L, 9L, 2L, 6L)), (2L, Array(-5L, -3L, 5L, 8L)))
      .toDF("vec_id", "u")
    assertSameCells(vecs, cent)
    assert(viaKernel(vecs, cent).collect().forall(_.getLong(1) == 2L))
  }

  test("a zero-norm cell scores 0 through the greatest(1) guard") {
    val cent = centFrame(Seq(0L -> Array(0L, 0L, 0L), 1L -> Array(-2L, -2L, -2L)))
    // all-positive vectors: the negative cell scores < 0, so the zero
    // cell (score exactly 0, not NaN) wins; the all-negative vector
    // prefers cell 1
    val vecs = Seq((1L, Array(1L, 2L, 3L)), (2L, Array(-1L, -2L, -3L)))
      .toDF("vec_id", "u")
    assertSameCells(vecs, cent)
    assert(viaKernel(vecs, cent).orderBy("vec_id").collect()
      .map(_.getLong(1)).toSeq == Seq(0L, 1L))
  }

  test("vectors and centroids of different lengths use the dims they share") {
    val rnd = new scala.util.Random(11)
    val cents = (0 until 6).map(c =>
      (c.toLong, Array.fill(1 + rnd.nextInt(8))(rnd.nextLong() % 1000L)))
    val vecs = Seq.tabulate(200)(i =>
      (i.toLong, Array.fill(rnd.nextInt(10))(rnd.nextLong() % 1000L)))
      .toDF("vec_id", "u")
    assertSameCells(vecs, centFrame(cents))
    // an empty or null vector has no cell
    val none = Seq((1L, Array.empty[Long]), (2L, null.asInstanceOf[Array[Long]]))
      .toDF("vec_id", "u")
      .select(NearestCentroid.assign(col("u"),
        NearestCentroid.collect(centFrame(cents))))
      .collect()
    assert(none.forall(_.isNullAt(0)))
  }

  test("codegen and interpreted evaluation agree") {
    val rnd = new scala.util.Random(5)
    val cells = Array.tabulate(9)(c => 10L - c)
    val cbarq = Array.tabulate(9)(c =>
      Array.fill(if (c == 4) 0 else 1 + rnd.nextInt(16))(rnd.nextLong() % 1000L))
    cbarq(6) = cbarq(2).clone() // a tie
    val e = NearestCentroid(BoundReference(0, ArrayType(LongType), nullable = true),
      Literal(cells), Literal(cbarq), Literal(cbarq.map(_.map(b => b * b).sum)))
    assert(e.checkInputDataTypes().isSuccess)
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    val inputs = Seq.fill(300)(
      InternalRow(new GenericArrayData(Array.fill(rnd.nextInt(18))(
        (rnd.nextLong() % 1000L): Any)))) :+ InternalRow(null)
    inputs.foreach { row =>
      val out = proj(row)
      val generated = if (out.isNullAt(0)) null else out.getLong(0)
      assert(generated == e.eval(row), s"codegen/interpreted differ on $row")
    }
  }

  test("non-foldable centroid arguments are rejected") {
    Registration.install(spark)
    val vecs = Seq((1L, Array(1L, 2L))).toDF("vec_id", "u")
    val err = intercept[AnalysisException](vecs.select(
      expr("nearest_centroid(u, array(vec_id), array(u), array(vec_id))"))
      .schema)
    assert(err.getMessage.contains("foldable"), err.getMessage)
  }

  test("AnnIvfIndex.append places every vector in the cell the join rule picks") {
    val table = "nc_ann_append"
    def cleanup(): Unit = GraftSession.dropTables(spark, table, table + "_cent")
    cleanup()
    try {
      val emb = Tables.embeddings(spark, sf0001)
      AnnIvfIndex.build(emb.filter(col("vec_id") % 4 =!= 0)
        .select(col("vec_id"), col("label").cast("long").as("cell"),
          col("embedding")), table)
      val delta = emb.filter(col("vec_id") % 4 === 0)
        .select(col("vec_id"), col("embedding"))
      AnnIvfIndex.append(delta, table)
      val want = reference(
        delta.select(col("vec_id"), transform(col("embedding"),
          v => round(v.cast("double") * 1e6).cast("long")).as("u")),
        spark.table(table + "_cent"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = spark.table(table).join(delta.select("vec_id"), "vec_id")
        .select(col("vec_id"), col("cell"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(want.nonEmpty && got.size == want.size, s"${got.size} vs ${want.size}")
      assert(got == want, "appended vectors landed outside their nearest cell")
    } finally cleanup()
  }
}
