package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Resources, Tables}
import graft.functions.Dec._

/** Window functions, sorts, top-k (SURVEY.md §2.5, §2.6).
  *
  * Scale posture (SURVEY.md §7.4): the reference's global
  * `RANK() OVER (ORDER BY …)` is a single-partition window — fine on a dim,
  * fatal on a fact. Every global window here runs over an *already
  * aggregated* frame (cardinality = group-key count, not row count), which
  * is the 100 TB-safe shape: aggregate first, window the small result.
  */
object Windows {

  /** RANK (= 1 + #rows strictly greater, ties share) over `valueCol`
    * computed WITHOUT a Window operator: histogram of distinct values
    * (distributed aggregate), collected to the driver, locally sorted
    * descending, ranks assigned by a running prefix sum of the counts —
    * O(d log d) in distinct values, not the O(d²) a self-join would cost.
    * Safe at any input cardinality the caller has already reduced
    * (post-aggregation / post-threshold); returns valueCol → rank. */
  /** Ceiling on the distinct-value histogram [[windowlessRankDesc]] will
    * collect: driver memory is the only cost (two fields per distinct
    * value — ~tens of MB at the limit), so the caller contract (rank only
    * already-reduced frames) is enforced, not assumed. */
  private[graft] val MaxRankDistinct = 1000000L

  private[graft] def windowlessRankDesc(df: org.apache.spark.sql.DataFrame,
                                 valueCol: String, rankName: String): org.apache.spark.sql.DataFrame = {
    // Run the upstream aggregation EXACTLY ONCE: localCheckpoint
    // materializes the histogram distributed, so the ceiling probe is a
    // cheap count over computed partitions (NOT a 1M-row driver collect
    // just to discover the frame is too big — VERDICT r6), the collect on
    // the small path reads the same materialization, and the distributed
    // fallback consumes it without re-running the aggregate.
    val agg = Resources.pin(df.groupBy(col(valueCol)).agg(count(lit(1)).as("__cnt")))
    if (agg.count() > MaxRankDistinct)
      return distributedRankDesc(agg, valueCol, rankName)
    val rows = agg.collect()
    // every orderable Spark value type (numeric, string, date/timestamp,
    // decimal) surfaces as Comparable; sort descending, then rank(v) =
    // 1 + Σ counts of strictly greater values = the running prefix sum
    val sorted = rows.sortWith { (a, b) =>
      a.get(0).asInstanceOf[Comparable[Any]].compareTo(b.get(0)) > 0
    }
    var seen = 0L
    val ranked: Array[org.apache.spark.sql.Row] = sorted.map { r =>
      val rank = seen + 1L
      seen += r.getLong(1)
      org.apache.spark.sql.Row(r.get(0), rank)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      agg.schema.head,
      org.apache.spark.sql.types.StructField(
        rankName, org.apache.spark.sql.types.LongType, nullable = false)))
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(ranked: _*), schema)
  }

  /** Fully distributed DESC rank over a distinct-value histogram — the
    * q151 two-level prefix-sum shape, with range repartitioning supplying
    * the ordered buckets: partitions are value-ordered by construction, so
    * rank(v) = 1 + (sum of counts in strictly-greater partitions) +
    * (running count of strictly-greater values within the partition).
    * No global-sort window, no driver histogram — the only small frame is
    * one row per range partition. Partition BOUNDARIES come from range-
    * exchange sampling and may vary run to run; ranks never do (they are
    * functions of values and counts alone, not of which bucket a value
    * landed in). */
  private[graft] def distributedRankDesc(agg: org.apache.spark.sql.DataFrame,
                                 valueCol: String, rankName: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE materialized partitioning (VERDICT r6): the offsets branch and
    // the probe join below both read `buckets`, whose range-exchange
    // sampling is nondeterministic — without pinning, ranks were correct
    // only while Spark's exchange reuse deduplicated the two identical
    // shuffles. localCheckpoint freezes the bucket assignment so both
    // branches see the same partitioning regardless of plan reuse.
    val buckets = Resources.pin(agg
      .repartitionByRange(256, col(valueCol).desc)
      .withColumn("__b", spark_partition_id()))
    // level 1: per-bucket totals (≤ 256 rows)
    val bucketSums = buckets.groupBy("__b").agg(sum(col("__cnt")).as("__bw"))
    // level 2: exclusive prefix over the tiny bucket frame only
    val offsets = bucketSums.withColumn("__off",
      coalesce(sum(col("__bw")).over(
        Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    buckets
      .join(broadcast(offsets.select(col("__b"), col("__off"))), Seq("__b"))
      .withColumn(rankName,
        lit(1L) + col("__off") + coalesce(sum(col("__cnt")).over(
          Window.partitionBy("__b").orderBy(col(valueCol).desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(valueCol), col(rankName))
  }

  /** §2.5 W1 — ROW_NUMBER dedupe, keep rn=1 (reference All-Tasks-of-SQL
    * .sql:68-77 duplicate-customer elimination). Partitioned window: scales
    * horizontally; deterministic tiebreak via event_id. */
  val q21 = QueryDef(
    "q21_window_rownum_dedupe",
    """SELECT user_id, event_type, event_id, value FROM (
      |  SELECT user_id, event_type, event_id, value,
      |         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                            ORDER BY ts, event_id) AS rn
      |  FROM events) t
      |WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_type", "event_id", "value")
      .orderBy("user_id", "event_type")
  }

  /** §2.5 W2 — RANK over an aggregate (reference All-Tasks-of-SQL
    * .sql:197-205 high-value customers).
    *
    * Scale-safe shape: `RANK() OVER (ORDER BY …)` is a single-partition
    * window over EVERY customer — fatal at 100 TB. Instead:
    *  1. distributed aggregate → per-customer `spent`;
    *  2. TakeOrderedAndProject(k) finds the k-th largest row value `t`
    *     (per-partition top-k, merge on driver-sized frame — no global
    *     sort, no single-partition window);
    *  3. `spent >= t` ⇔ RANK ≤ k (rank = 1 + #rows strictly greater; if
    *     spent < t the k rows above t all beat it), broadcast the 1-row
    *     threshold;
    *  4. rank itself = 1 + Σ counts of strictly-greater values, computed
    *     by a broadcast self-join over the ≤ k surviving *distinct values*
    *     — no Window operator anywhere in the plan. */
  val q22 = QueryDef(
    "q22_window_rank_agg",
    """SELECT c_custkey, total_spent, spend_rank FROM (
      |  SELECT o_custkey AS c_custkey,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
      |         RANK() OVER (ORDER BY SUM(CAST(o_totalprice AS DECIMAL(18,2))) DESC) AS spend_rank
      |  FROM orders GROUP BY o_custkey) t
      |WHERE spend_rank <= 10
      |ORDER BY spend_rank, c_custkey""".stripMargin) { (s, d) =>
    val spent = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(sum(d2(col("o_totalprice"))).as("spent"))
    val thresh = spent.select(col("spent"))
      .orderBy(col("spent").desc).limit(10)          // TakeOrderedAndProject
      .agg(min(col("spent")).as("thresh"))
    val survivors = spent.join(broadcast(thresh), col("spent") >= col("thresh")).drop("thresh")
    val ranks = windowlessRankDesc(survivors, "spent", "spend_rank")
    survivors.join(broadcast(ranks), Seq("spent"))
      .filter(col("spend_rank") <= 10)
      .select(col("c_custkey"), out(col("spent")).as("total_spent"), col("spend_rank"))
      .orderBy("spend_rank", "c_custkey")
  }

  /** §2.5 W3 — RANK over a CTE of counts (reference All-Tasks-of-SQL
    * .sql:257-264 most-frequent customers, lifted to nations). */
  val q23 = QueryDef(
    "q23_rank_cte",
    """WITH per_nation AS (
      |  SELECT n_name, COUNT(*) AS n_orders
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |              JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name)
      |SELECT n_name, n_orders,
      |       RANK() OVER (ORDER BY n_orders DESC) AS order_rank
      |FROM per_nation
      |ORDER BY order_rank, n_name""".stripMargin) { (s, d) =>
    // Rank frame is bounded by |nation| (a dim), but the single-partition
    // Window is still avoidable: rank = 1 + Σ counts of strictly-greater
    // values via a broadcast self-join on the distinct-value histogram —
    // the same windowless shape as q22, safe at any group-key cardinality.
    val perNation = Tables.orders(s, d).select("o_custkey")
      .join(broadcast(Tables.customer(s, d).select(col("c_custkey").as("o_custkey"), col("c_nationkey"))), Seq("o_custkey"))
      .join(broadcast(Tables.nation(s, d).select(col("n_nationkey").as("c_nationkey"), col("n_name"))), Seq("c_nationkey"))
      .groupBy("n_name").agg(count(lit(1)).as("n_orders"))
    val ranks = windowlessRankDesc(perNation, "n_orders", "order_rank")
    perNation.join(broadcast(ranks), Seq("n_orders"))
      .select(col("n_name"), col("n_orders"), col("order_rank"))
      .orderBy("order_rank", "n_name")
  }

  /** §2.6 O3/O4 — multi-key DESC sort with NULLS LAST (reference
    * TablesCreated-Imported.sql:1180; All-Tasks-of-SQL.sql:576). The
    * left-join miss rows carry NULL sums → exercises null ordering. */
  val q24 = QueryDef(
    "q24_sort_nulls_last",
    """SELECT s_suppkey, s_name, heavy_sales FROM (
      |  SELECT s_suppkey, s_name,
      |         (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |          FROM lineitem
      |          WHERE l_suppkey = s_suppkey AND l_quantity >= 49 AND l_discount >= 0.09) AS heavy_sales
      |  FROM supplier) t
      |ORDER BY heavy_sales DESC NULLS LAST, s_suppkey""".stripMargin) { (s, d) =>
    val heavy = Tables.lineitem(s, d)
      .filter(col("l_quantity") >= 49 && col("l_discount") >= 0.09)
      .groupBy(col("l_suppkey").as("s_suppkey"))
      .agg(out(sum(d2(col("l_extendedprice")))).as("heavy_sales"))
    Tables.supplier(s, d).select("s_suppkey", "s_name")
      .join(heavy, Seq("s_suppkey"), "left")
      .orderBy(col("heavy_sales").desc_nulls_last, col("s_suppkey"))
  }

  /** §2.6 O6 — top-k = ORDER BY … LIMIT k → Spark plans
    * TakeOrderedAndProject (no global sort of the full table; per-partition
    * top-k then merge — the 100 TB-safe top-k). Reference
    * All-Tasks-of-SQL.sql:264 (top 20). Explicit tiebreak on the key makes
    * the result set deterministic (SURVEY.md §7.4). */
  val q25 = QueryDef(
    "q25_topk",
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
  }

  /** §2.5 completeness — the navigation/distribution window functions a
    * migrating user expects beyond ROW_NUMBER/RANK: LAG, LEAD, NTILE,
    * FIRST_VALUE, PERCENT_RANK. All partition by user (distributed state,
    * no global window); ordering carries a full tiebreak so every value is
    * deterministic on both engines. */
  val q81 = QueryDef(
    "q81_window_navigation",
    """SELECT user_id, event_id,
      |  LAG(value) OVER w AS prev_value,
      |  LEAD(event_type) OVER w AS next_type,
      |  NTILE(4) OVER w AS quartile,
      |  FIRST_VALUE(event_id) OVER w AS first_event,
      |  PERCENT_RANK() OVER w AS pct_rank
      |FROM events
      |WHERE user_id < 30
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .filter(col("user_id") < 30)
      .select(col("user_id"), col("event_id"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("event_type"), 1).over(w).as("next_type"),
        ntile(4).over(w).cast("long").as("quartile"), // DuckDB NTILE is BIGINT
        first(col("event_id")).over(w).as("first_event"),
        percent_rank().over(w).as("pct_rank"))
      .orderBy("user_id", "event_id")
  }

  /** q105: per-group DENSE_RANK with real ties — ranking by token count
    * alone (no unique tiebreak) so equal-length docs share a rank and a
    * rank band can hold more rows than its nominal size; keep bands ≤ 3.
    * PARTITIONED window (per lang): scales horizontally, unlike a global
    * rank — the 100 TB-safe shape q22/q23 exist to avoid globally. */
  val q105 = QueryDef(
    "q105_dense_rank_groups",
    """SELECT lang, doc_id, dr FROM (
      |  SELECT lang, doc_id,
      |    CAST(DENSE_RANK() OVER (
      |      PARTITION BY lang
      |      ORDER BY len(string_split(trim(text), ' ')) DESC) AS BIGINT) AS dr
      |  FROM documents) t
      |WHERE dr <= 3 ORDER BY lang, dr, doc_id""".stripMargin) { (s, d) =>
    import graft.functions.TextFunctions.tokens
    val w = Window.partitionBy("lang")
      .orderBy(size(tokens(col("text"))).desc)
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"),
        dense_rank().over(w).cast("long").as("dr"))
      .filter(col("dr") <= 3)
      .orderBy("lang", "dr", "doc_id")
  }

  /** §2.5 W+ — distribution window functions: NTILE(4), PERCENT_RANK,
    * CUME_DIST over a partitioned, fully-tiebroken ordering (NTILE is
    * row-order-dependent, so the ORDER BY must be a total order — price
    * then key — or the quartile assignment is nondeterministic).
    * Partitioned window: scales horizontally like q21. */
  val q117 = QueryDef(
    "q117_window_distribution",
    """SELECT o_orderkey, o_orderpriority,
      |  CAST(NTILE(4) OVER w AS INT) AS tile,
      |  PERCENT_RANK() OVER w AS pct_rank,
      |  CUME_DIST() OVER w AS cume
      |FROM orders WHERE o_orderkey % 50 = 0
      |WINDOW w AS (PARTITION BY o_orderpriority
      |             ORDER BY CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey)
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(d2(col("o_totalprice")), col("o_orderkey"))
    Tables.orders(s, d).filter(col("o_orderkey") % 50 === 0)
      .select(col("o_orderkey"), col("o_orderpriority"),
        ntile(4).over(w).cast("int").as("tile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .orderBy("o_orderkey")
  }

  val all: Seq[QueryDef] = Seq(q21, q22, q23, q24, q25, q81, q105, q117)
}
