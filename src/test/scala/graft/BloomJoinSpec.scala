package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.BloomJoin

/** Bloom-pruned join (q96): the prune is visible in the physical plan on
  * the fact side, never drops a matching row (bloom has no false
  * negatives), and the pruned join's result equals the plain join's.
  */
class BloomJoinSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("q96 equals the plain (unpruned) join bit-for-bit") {
    val pruned = BloomJoin.q96.build(spark, sf).collect().toSeq
    val urgent = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val plain = Tables.lineitem(spark, sf)
      .join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(18,2)")
          * (lit(1) - col("l_discount").cast("decimal(18,4)")))
          .cast("decimal(38,6)").cast("double").as("revenue"))
      .orderBy("l_returnflag")
      .collect().toSeq
    pruned shouldBe plain
  }

  test("the bloom prune sits on the fact side of the plan") {
    val plan = BloomJoin.q96.build(spark, sf)
      .queryExecution.executedPlan.toString
    plan should include("might_contain") // BloomFilterMightContain.prettyName
  }

  test("prunePredicate keeps every true match and actually prunes") {
    val fact = Tables.lineitem(spark, sf).select("l_orderkey")
    val dim = Tables.orders(spark, sf)
      .filter(col("o_orderkey") % 100 === 0).select("o_orderkey")
    val pred = BloomJoin.prunePredicate(dim, col("l_orderkey"), 10000L).get

    val trueMatches = fact.join(dim, col("l_orderkey") === col("o_orderkey")).count()
    val kept = fact.filter(pred)
    // no false negatives: every matching fact row survives the prune
    kept.join(dim, col("l_orderkey") === col("o_orderkey")).count() shouldBe trueMatches
    // and the prune does real work: most non-matching rows are gone
    val total = fact.count()
    kept.count().toDouble should be < total * 0.2
  }

  test("an empty build side disables the prune instead of dropping rows") {
    val dim = Tables.orders(spark, sf).filter(lit(false)).select("o_orderkey")
    BloomJoin.prunePredicate(dim, col("l_orderkey"), 10000L) shouldBe None
  }
}
