package graft

import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType}

import graft.observability.JobWatch

/** Pins [[Tables.tbl]]'s schema cache: a warm read of an unchanged table
  * starts no job, and a table rewritten at the same path with different
  * types reads its new schema in the same session. */
class TablesSchemaSpec extends SparkSpec {

  test("a table rewritten at the same path with other types reads the new schema") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tables-schema").toString
    val path = s"$dir/t.parquet"
    Seq((1, "a"), (2, "b")).toDF("id", "v").write.parquet(path)
    assert(Tables.tbl(spark, dir, "t").schema("id").dataType == IntegerType)

    Seq(("x", 1.5)).toDF("id", "v").write.mode("overwrite").parquet(path)
    val t = Tables.tbl(spark, dir, "t")
    assert(t.schema("id").dataType == StringType)
    assert(t.schema("v").dataType == DoubleType)
    assert(t.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("x", 1.5)))
  }

  test("a warm read of an unchanged table starts no job") {
    Tables.lineitem(spark, sf0001).schema
    val (schema, jobs) = JobWatch.during(spark)(Tables.lineitem(spark, sf0001).schema)
    assert(jobs.isEmpty, jobs.map(_.stages).mkString("; "))
    assert(schema == spark.read.parquet(s"$sf0001/lineitem.parquet").schema)
  }
}
