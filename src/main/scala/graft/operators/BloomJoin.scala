package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Tables}
import graft.functions.Dec._

/** Bloom-filter-pruned join (SURVEY.md §2.11 scale posture).
  *
  * The 100 TB problem: a selective dimension (here: urgent orders) joins a
  * huge fact table, but the dimension is too large to broadcast its *rows*
  * and the fact side would shuffle every row — matching or not — into the
  * join. A bloom filter over the dimension's join keys is a few hundred KB
  * regardless of dimension row width, broadcasts everywhere, and drops the
  * non-matching fact rows BEFORE the shuffle. False positives only cost
  * wasted shuffle bytes — the exact join behind the prune keeps the result
  * exact, so the oracle is simply the plain join.
  *
  * This is the same mechanism as Spark's AQE runtime row-level filtering
  * (`spark.sql.optimizer.runtime.bloomFilter.enabled`, which injects
  * BloomFilterAggregate/BloomFilterMightContain pairs), exposed as an
  * explicit operator for plans the optimizer's injection heuristics miss —
  * e.g. when the filter must cross a materialization boundary or a
  * non-join operator. We reuse Spark's own expressions (registered by
  * [[graft.plans.GraftExtensions]]), so the sketch build is a codegen'd
  * hash aggregate with map-side partials and the probe is a codegen'd
  * scan-level filter.
  *
  * Reference anchor: the reference's selective-join reports (e.g.
  * All-Tasks-of-SQL.sql Task 10's joins) are the query shape this
  * accelerates; the reference itself (PostgreSQL) relies on index scans,
  * which don't exist for distributed parquet scans — the bloom prune is
  * the Spark-native equivalent.
  */
object BloomJoin {

  /** Build a bloom sketch over `keys`'s single LONG column and return a
    * prune predicate for `probe`. The sketch is collected to the driver
    * (bounded: `spark.sql.optimizer.runtime.bloomFilter.maxNumBits`, 8 MB
    * default) and shipped as a literal — exactly how AQE ships it, minus
    * the subquery wrapper. Returns None when the build side is empty (a
    * bloom over nothing prunes everything; callers keep the plain join). */
  def prunePredicate(keys: DataFrame, probeKey: Column, estItems: Long): Option[Column] = {
    val bytes = keys
      .agg(call_function("bloom_agg", xxhash64(keys.columns.map(col): _*), lit(estItems)))
      .head.getAs[Array[Byte]](0)
    Option(bytes).map(b => call_function("bloom_might_contain", lit(b), xxhash64(probeKey)))
  }

  /** q96: revenue by return flag for urgent orders — lineitem is pruned by a
    * bloom over the urgent orderkeys before the exact join. ~80% of fact
    * rows never reach the join shuffle (urgent ≈ 1/5 of orders); the
    * result is bit-identical to the plain join (the oracle). */
  val q96 = QueryDef(
    "q96_bloom_pruned_join",
    """SELECT l.l_returnflag,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
      |           * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
      |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      |WHERE o.o_orderpriority = '1-URGENT'
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    val fact = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_returnflag"),
        d2(col("l_extendedprice")).as("price"), d4(col("l_discount")).as("disc"))
    val pruned = prunePredicate(urgent, col("l_orderkey"), estItems = 100000L)
      .map(fact.filter)
      .getOrElse(fact)
    pruned
      .join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        out(sum(col("price") * (lit(1) - col("disc"))), 6).as("revenue"))
      .orderBy("l_returnflag")
  }

  val all: Seq[QueryDef] = Seq(q96)
}
