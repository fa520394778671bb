package graft

import org.apache.spark.sql.functions._
import graft.expressions.Registration
import graft.functions.VectorFunctions

class FloatVectorDotSpec extends SparkSpec {

  test("fused dot is bit-identical to the HOF formulation") {
    Registration.install(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val rows = (1 to 200).map { _ =>
      (Array.fill(64)(rnd.nextFloat() - 0.5f).toSeq,
        Array.fill(64)(rnd.nextFloat() - 0.5f).toSeq)
    }
    val df = rows.toDF("a", "b").select(
      expr("float_vector_dot(a, b)").as("fused"),
      VectorFunctions.dot(col("a"), col("b")).as("hof"))
    // exact equality: both are ascending-index double accumulation
    assert(df.filter(col("fused") =!= col("hof")).count() == 0)
  }

  test("empty and mismatched lengths behave") {
    Registration.install(spark)
    import spark.implicits._
    val df = Seq((Seq.empty[Float], Seq(1.0f)),
      (Seq(2.0f, 3.0f), Seq(4.0f))).toDF("a", "b")
      .select(expr("float_vector_dot(a, b)").as("d"))
    val vals = df.collect().map(_.getDouble(0)).toSeq
    assert(vals == Seq(0.0, 8.0)) // min-length semantics
  }
}
