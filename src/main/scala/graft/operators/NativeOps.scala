package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Tables}
import graft.functions.CleanFunctions

/** Queries exercising the native Catalyst expressions and the skew-safe
  * aggregation pattern.
  */
object NativeOps {

  /** Native codegen `uuid5` via spark.sql — same bits as the
    * built-in-composition form (proved by the shared oracle). */
  val q56 = QueryDef(
    "q56_native_uuid5",
    s"""SELECT o_orderkey, ${CleanFunctions.uuid5Sql("order", "o_orderkey")} AS order_uuid
       |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d).createOrReplaceTempView("orders")
    s.sql("SELECT o_orderkey, uuid5('order', CAST(o_orderkey AS STRING)) AS order_uuid " +
      "FROM orders ORDER BY o_orderkey")
  }

  /** Brute-force cosine top-k on the native fused `dot_f64` kernel — the
    * throughput variant of q50. The kernel does float→double math, so the
    * cosine *bits* differ from the exact-decimal path, but the *ranking* is
    * identical (asserted in ExpressionSpec); the gate therefore compares
    * the integer projection (query_id, neighbor_id, rk) against the
    * exact-decimal DuckDB oracle. */
  val q57 = QueryDef(
    "q57_native_cosine_topk",
    Similarity.topkIdsOracleSql(k = 5, nQueries = 10)) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", expr("dot_f64(v, v)"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    broadcast(q)
      .join(e.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm")),
        col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (expr("dot_f64(qv, v)") / (sqrt(col("qn")) * sqrt(col("nrm")))).as("cosine"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))).cast("int"))
      .filter(col("rk") <= 5)
      .select("query_id", "neighbor_id", "rk")
      .orderBy("query_id", "rk")
  }

  /** ANN top-k through the custom bounded [[graft.functions.TopKAggregator]]
    * — partial top-k with map-side combine instead of a window that sorts
    * every candidate per query. Same exact-decimal cosine as q50, so the
    * q50-shaped oracle verifies the aggregator's ordering bit-for-bit. */
  val q69 = QueryDef(
    "q69_topk_aggregator",
    Similarity.topkOracleSql(k = 5, nQueries = 10)) { (s, d) =>
    import graft.functions.TopKAggregator._
    val topk = udaf(TopK(5))
    Similarity.scoredPairs(s, d, nQueries = 10)
      .groupBy("query_id")
      .agg(topk(col("neighbor_id"), col("cosine")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        col("col.score").as("cosine"), (col("pos") + 1).cast("int").as("rk"))
      .orderBy("query_id", "rk")
  }

  /** Skew-safe two-phase aggregation (SURVEY.md §7.4 scale posture): the
    * group key is heavily skewed (5 event types over the whole table), so
    * phase 1 pre-aggregates on (key, salt) spreading each hot key over 16
    * reducers, phase 2 merges the 16 partials per key. Result is provably
    * identical to the direct groupBy (the oracle is the direct form). */
  val q58 = QueryDef(
    "q58_salted_skew_agg",
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    val salted = Tables.events(s, d)
      .withColumn("salt", (col("event_id") % 16).cast("int"))
      .groupBy("event_type", "salt")
      .agg(count(lit(1)).as("pn"), sum(col("value").cast("decimal(18,4)")).as("ps"))
    salted.groupBy("event_type")
      .agg(sum(col("pn")).cast("bigint").as("n"),
        sum(col("ps")).cast("decimal(38,4)").cast("double").as("value_sum"))
      .orderBy("event_type")
  }

  /** Salted skew JOIN (q95) — the join-side sibling of q58's salted
    * aggregation: when one hot key would funnel a shuffle join through a
    * single task, salt the fact side (deterministic salt from a row id)
    * and replicate the other side once per salt value, joining on
    * (key, salt) so each hot key spreads over `Salts` tasks. Results are
    * provably identical to the unsalted join (the oracle IS the plain
    * join). The replicated side carries a shuffle_hash hint — the
    * mechanism targets the case where it is too big to broadcast, so the
    * demonstration must not silently degrade into a broadcast join
    * (plan-asserted). */
  val q95 = {
    val Salts = 8
    QueryDef(
      "q95_salted_skew_join",
      """WITH tiers AS (SELECT DISTINCT user_id, user_id % 5 AS tier FROM events)
        |SELECT t.tier, COUNT(*) AS n,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
        |FROM events e JOIN tiers t ON t.user_id = e.user_id
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
        .withColumn("salt", (col("event_id") % Salts).cast("int"))
      val tiers = ev.select(col("user_id")).distinct()
        .withColumn("tier", col("user_id") % 5)
        .withColumn("salt", explode(sequence(lit(0), lit(Salts - 1))))
      ev.join(tiers.hint("shuffle_hash"), Seq("user_id", "salt"))
        .groupBy("tier")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("value_sum"))
        .orderBy("tier")
    }
  }

  val all: Seq[QueryDef] = Seq(q56, q57, q58, q69, q95)
}
