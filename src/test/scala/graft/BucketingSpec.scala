package graft

import org.apache.spark.sql.functions._
import graft.core.Tables

/** Co-located joins via bucketing — the 100 TB join strategy SURVEY.md §2.3
  * calls for: both sides bucketed on the join key join WITHOUT a shuffle
  * exchange (only the one-time bucketed write pays the partitioning).
  */
class BucketingSpec extends SparkSpec {

  test("join of two tables bucketed on the key plans no shuffle exchange") {
    val sf = "/root/testdata/sf0.001"
    def dropTables(): Unit = {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      ()
    }
    dropTables()
    try bucketedJoin(sf) finally dropTables()
  }

  private def bucketedJoin(sf: String): Unit = {
    Tables.orders(spark, sf)
      .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("b_orders")
    Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity"))
      .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("b_lineitem")

    // tiny test tables would broadcast; force the shuffle-join path the
    // planner would take at real scale so the bucketing effect is visible
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan = try {
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      joined.collect().map(_.getLong(1)).sum shouldBe
        Tables.lineitem(spark, sf).count()
      joined.queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    // co-located: SortMergeJoin directly over the bucketed scans — the only
    // exchange permitted is the post-join aggregation shuffle
    plan should include("SortMergeJoin")
    val joinPart = plan.split("SortMergeJoin")(1) // children of the join
    joinPart should not include "Exchange hashpartitioning(l_orderkey"
    joinPart should not include "Exchange hashpartitioning(o_orderkey"
  }
}
