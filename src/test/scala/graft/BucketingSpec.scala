package graft

import org.apache.spark.sql.functions._

/** Bucketing: the co-located-join layout decision that matters at
  * 100 TB — two tables bucketed on the join key join WITHOUT a shuffle
  * exchange on either side.
  */
class BucketingSpec extends SparkSpec {

  test("bucketed tables join without exchanges") {
    val wh = tempDir("wh")
    val orders = graft.sources.Tables.orders(spark, sf)
    val customer = graft.sources.Tables.customer(spark, sf)
    orders.write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .option("path", s"$wh/orders_b").saveAsTable("orders_b")
    customer.write.mode("overwrite")
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .option("path", s"$wh/customer_b").saveAsTable("customer_b")

    // broadcast would bypass bucketing; force the sort-merge path
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("orders_b")
        .join(spark.table("customer_b"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      val plan = j.queryExecution.executedPlan.toString
      // co-located: the join reads bucket files directly — no shuffle
      // exchange below the SortMergeJoin
      val joinSection = plan.substring(plan.indexOf("SortMergeJoin"))
      assert(!joinSection.contains("Exchange hashpartitioning"), plan)
      assert(j.agg(sum("n")).head().getLong(0) === orders.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10 * 1024 * 1024)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }
}
