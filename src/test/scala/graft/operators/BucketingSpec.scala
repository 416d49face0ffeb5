package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed join plans without shuffle exchanges and matches plain join") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the issue
    try {
      val li = graft.Tables.lineitem(spark, sf001)
      val ord = graft.Tables.orders(spark, sf001)
      Bucketing.writeBucketed(li.select(col("l_orderkey"), col("l_quantity")),
        "b_lineitem", "l_orderkey", 8)
      Bucketing.writeBucketed(ord.select(col("o_orderkey").as("l_orderkey"), col("o_totalprice")),
        "b_orders", "l_orderkey", 8)
      val joined = spark.table("b_lineitem").join(spark.table("b_orders"), Seq("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), plan)
      val expected = li.join(ord, col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      spark.sql("DROP TABLE IF EXISTS b_orders")
    }
  }
}
