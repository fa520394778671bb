package graft

import org.apache.spark.sql.functions._
import graft.expressions.Registration

class SortedLongIntersectCountSpec extends SparkSpec {

  private def count(a: Seq[Long], b: Seq[Long]): Long = {
    Registration.install(spark)
    import spark.implicits._
    Seq((a, b)).toDF("a", "b")
      .select(expr("sorted_long_intersect_count(a, b)").as("c"))
      .head().getLong(0)
  }

  test("counts common elements of sorted distinct arrays") {
    assert(count(Seq(1L, 3L, 5L, 7L), Seq(3L, 4L, 5L, 9L)) == 2L)
  }

  test("disjoint arrays give zero") {
    assert(count(Seq(1L, 2L), Seq(3L, 4L)) == 0L)
  }

  test("identical arrays give full length") {
    assert(count(Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)) == 3L)
  }

  test("empty side gives zero") {
    assert(count(Seq.empty, Seq(1L)) == 0L)
  }

  test("matches array_intersect semantics on random sorted sets") {
    Registration.install(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = (1 to 200).map { _ =>
      val a = rnd.shuffle((0L to 60L).toList).take(30).distinct.sorted
      val b = rnd.shuffle((0L to 60L).toList).take(30).distinct.sorted
      (a, b)
    }
    val df = rows.toDF("a", "b").select(
      expr("sorted_long_intersect_count(a, b)").as("fast"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
    assert(df.filter(col("fast") =!= col("ref")).count() == 0L)
  }
}
