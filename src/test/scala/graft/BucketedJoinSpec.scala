package graft

import org.apache.spark.sql.functions._

/** Scale-path evidence: bucketing both fact tables on the join key
  * makes the join shuffle-free (SortMergeJoin over pre-bucketed scans,
  * no Exchange on either side). This is the layout a 100 TB deployment
  * uses for the recurring orderkey joins (PLANS.md). */
class BucketedJoinSpec extends SparkSpec {

  test("join on the bucket key plans without a shuffle exchange") {
    // default warehouse dir (spark.sql.warehouse.dir is static config);
    // tables are dropped at the end and the dir is gitignored.
    // Disable auto-broadcast: at sf0.001 the dimension fits under the
    // threshold and would hide the bucketed-join path this test proves.
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    GraftSession.dropTables(spark, "li_b", "ord_b")

    spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_b")
    spark.read.parquet(s"$sf0001/orders.parquet")
      .select("o_orderkey", "o_orderdate")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_b")

    val joined = spark.table("li_b")
      .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderdate"))
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))

    val plan = joined.queryExecution.executedPlan.toString
    // the JOIN itself must not shuffle: no Exchange between the bucketed
    // scans and the join (the groupBy after it may still exchange)
    val joinPart = plan.split("HashAggregate").last
    assert(joinPart.contains("SortMergeJoin") || joinPart.contains("ShuffledHashJoin"),
      s"expected a non-broadcast join over bucketed scans:\n$plan")
    assert(!joinPart.contains("Exchange"),
      s"bucketed join should not shuffle either side:\n$plan")
    // and it still returns the right rows
    assert(joined.count() > 0)
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }
}
