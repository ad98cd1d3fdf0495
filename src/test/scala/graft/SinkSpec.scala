package graft

import org.apache.spark.sql.functions._
import graft.core.Tables

/** §2.1 S4 sinks at scale: partitioned parquet writes and partition
  * pruning on read-back — the storage layout that makes 100 TB scans
  * skip data instead of reading it. */
class SinkSpec extends SparkSpec {

  test("partitioned write + partition-pruned read-back") {
    val dir = tempDir("graft-sink").toString
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    orders.write.mode("overwrite")
      .partitionBy("o_orderstatus")
      .parquet(s"$dir/orders_by_status")

    // layout: one directory per status value
    val sub = new java.io.File(s"$dir/orders_by_status").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    sub.toSeq shouldBe Seq("o_orderstatus=F", "o_orderstatus=O", "o_orderstatus=P")

    val back = spark.read.parquet(s"$dir/orders_by_status")
      .filter(col("o_orderstatus") === "F")
    back.collect().length should be > 0
    val plan = back.queryExecution.executedPlan.toString
    // the filter became a PartitionFilter: non-F directories are never read
    plan should include("PartitionFilters: [isnotnull(o_orderstatus")
  }

  test("CTAS materialization round-trips exactly (S4)") {
    val dir = tempDir("graft-ctas").toString
    val agg = Tables.orders(spark, "/root/testdata/sf0.001")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"))
    agg.write.mode("overwrite").parquet(s"$dir/t")
    val back = spark.read.parquet(s"$dir/t")
    back.collect().map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe
      agg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }
}
