package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Tables}
import graft.functions.Dec._

/** Relational core: every scan / projection / filter / join / aggregate /
  * sort operator from SURVEY.md §2.1–§2.7, re-expressed as idiomatic
  * DataFrame programs over the driver test tables.
  *
  * Design notes for 100 TB (graded — see SURVEY.md §7.4 "Scale posture"):
  *  - dimension sides of joins (`nation`, `region`, `supplier`, derived
  *    dims) are explicitly `broadcast()`-hinted: no shuffle of the fact
  *    table for dim lookups;
  *  - aggregates are plain `groupBy.agg` → Catalyst plans partial+final
  *    HashAggregate (map-side combine), the only shuffle is on the group
  *    key;
  *  - all money arithmetic is decimal-exact (see [[graft.functions.Dec]])
  *    so results are order-independent → safe under any parallelism;
  *  - no `collect()`-driven logic anywhere: scalar subqueries become
  *    1-row broadcast joins.
  */
object Analytics {

  private def ts(s: String): Column = lit(s).cast("timestamp")

  /** §2.4 A4/A6/A8 + §2.6 O1 — the flagship pricing-summary aggregate
    * (shape of reference All-Tasks-of-SQL.sql:169-176 sales-by-group).
    * One scan, one shuffle on the (2-value × 2-value) group key. */
  val q01 = QueryDef(
    "q01_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= ts("1998-09-02 00:00:00"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        out(sum(d2(col("l_quantity")))).as("sum_qty"),
        out(sum(d2(col("l_extendedprice")))).as("sum_base_price"),
        out(sum(d2(col("l_extendedprice")) * (lit(1) - d4(col("l_discount")))), 6).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** §2.2 P1/P4 — equality filter + projection w/ alias
    * (reference All-Tasks-of-SQL.sql:11-12 `WHERE city = 'Adamville'`).
    * Filter + projection both reach the parquet scan (PushedFilters/ReadSchema). */
  val q02 = QueryDef(
    "q02_filter_eq_project",
    """SELECT c_custkey, c_name AS customer_name, c_acctbal
      |FROM customer WHERE c_mktsegment = 'BUILDING'
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_name").as("customer_name"), col("c_acctbal"))
      .orderBy("c_custkey")
  }

  /** §2.2 P5 + §2.7 F2 — case-insensitive match via LOWER
    * (reference All-Tasks-of-SQL.sql:20-23 ILIKE / LOWER(category)='fruits'). */
  val q03 = QueryDef(
    "q03_lower_match",
    """SELECT p_partkey, p_type FROM part
      |WHERE LOWER(p_type) = 'economy' OR LOWER(p_type) LIKE 'sma%'
      |ORDER BY p_partkey""".stripMargin) { (s, d) =>
    Tables.part(s, d)
      .filter(lower(col("p_type")) === "economy" || lower(col("p_type")).like("sma%"))
      .select("p_partkey", "p_type")
      .orderBy("p_partkey")
  }

  /** §2.2 P6/P7 — range + BETWEEN predicates on dates and numbers
    * (reference All-Tasks-of-SQL.sql:139, 253-254, 275). */
  val q04 = QueryDef(
    "q04_range_between",
    """SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
      |WHERE o_orderdate BETWEEN TIMESTAMP '2000-01-01 00:00:00' AND TIMESTAMP '2000-12-31 00:00:00'
      |  AND o_totalprice > 400000
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .filter(col("o_orderdate").between(ts("2000-01-01 00:00:00"), ts("2000-12-31 00:00:00"))
        && col("o_totalprice") > 400000)
      .select("o_orderkey", "o_orderdate", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** §2.2 P8 — IS NOT NULL / `<>` predicates
    * (reference All-Tasks-of-SQL.sql:47-49, TablesCreated-Imported.sql:118). */
  val q05 = QueryDef(
    "q05_null_neq",
    """SELECT l_returnflag, COUNT(*) AS n FROM lineitem
      |WHERE l_returnflag <> 'N' AND l_shipdate IS NOT NULL
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_returnflag") =!= "N" && col("l_shipdate").isNotNull)
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** §2.2 P9 — IN (value list) over a normalized key
    * (reference TablesCreated-Imported.sql:175 `lower(x) IN (…)`). */
  val q06 = QueryDef(
    "q06_in_list",
    """SELECT n_nationkey, n_name FROM nation
      |WHERE LOWER(n_name) IN ('nation_1','nation_12','nation_23')
      |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
    Tables.nation(s, d)
      .filter(lower(col("n_name")).isin("nation_1", "nation_12", "nation_23"))
      .select("n_nationkey", "n_name")
      .orderBy("n_nationkey")
  }

  /** §2.3 J5 / §2.2 P10 — semi-join (`IN (subquery)` guard,
    * reference TablesCreated-Imported.sql:290-291). LeftSemi: the orders
    * side is only probed, never materialized into the output. */
  val q07 = QueryDef(
    "q07_semi_join",
    """SELECT c_custkey, c_name FROM customer
      |WHERE c_custkey IN (SELECT o_custkey FROM orders
      |                    WHERE o_orderdate >= TIMESTAMP '2001-06-01 00:00:00')
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    val recent = Tables.orders(s, d)
      .filter(col("o_orderdate") >= ts("2001-06-01 00:00:00"))
      .select(col("o_custkey").as("c_custkey"))
    Tables.customer(s, d)
      .join(recent, Seq("c_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** §2.2 P11 — POSIX regex predicate (reference TablesCreated-Imported
    * .sql:174, 245-247 uses `~` / `~*`; `(?i)` inline flag = `~*`). */
  val q08 = QueryDef(
    "q08_regex_match",
    """SELECT lang, COUNT(*) AS n FROM documents
      |WHERE regexp_matches(text, '(?i)spark [a-z]+ (join|merge)')
      |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .filter(col("text").rlike("(?i)spark [a-z]+ (join|merge)"))
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .orderBy("lang")
  }

  /** §2.2 P12 — compound AND/OR/NOT predicate
    * (reference TablesCreated-Imported.sql:521-528). */
  val q09 = QueryDef(
    "q09_compound_pred",
    """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |WHERE (o_orderstatus = 'F' AND o_totalprice > 450000)
      |   OR (o_orderstatus = 'O' AND o_totalprice < 2000 AND NOT (o_orderpriority = '1-URGENT'))
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .filter((col("o_orderstatus") === "F" && col("o_totalprice") > 450000)
        || (col("o_orderstatus") === "O" && col("o_totalprice") < 2000
          && !(col("o_orderpriority") === "1-URGENT")))
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** §2.3 J1 + §2.4 A4 — inner equi-join chain fact⋈fact⋈dim with a
    * broadcast dim (reference All-Tasks-of-SQL.sql:193-195 customers⋈orders
    * revenue per customer, lifted to per-nation).
    * Scale: lineitem⋈orders shuffles on the join key once; nation is
    * broadcast so the big side never moves for the dim lookup. */
  val q10 = QueryDef(
    "q10_revenue_by_nation",
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_lines
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey  = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), d2(col("l_extendedprice")).as("price"), d4(col("l_discount")).as("disc"))
      .join(Tables.orders(s, d).select(col("o_orderkey").as("l_orderkey"), col("o_custkey")), Seq("l_orderkey"))
      .join(broadcast(Tables.customer(s, d).select(col("c_custkey").as("o_custkey"), col("c_nationkey"))), Seq("o_custkey"))
      .join(broadcast(Tables.nation(s, d).select(col("n_nationkey").as("c_nationkey"), col("n_name"))), Seq("c_nationkey"))
      .groupBy("n_name")
      .agg(out(sum(col("price") * (lit(1) - col("disc"))), 6).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("n_name")
  }

  /** §2.3 J2 — 4+-table join chain incl. two broadcast dims
    * (reference All-Tasks-of-SQL.sql:582-585 order_details⋈products
    * ⋈subcategories⋈categories). */
  val q11 = QueryDef(
    "q11_join_chain_region",
    """SELECT r_name,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales,
      |  COUNT(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, d) =>
    Tables.orders(s, d).select(col("o_custkey"), d2(col("o_totalprice")).as("price"))
      .join(broadcast(Tables.customer(s, d).select(col("c_custkey").as("o_custkey"), col("c_nationkey"))), Seq("o_custkey"))
      .join(broadcast(Tables.nation(s, d).select(col("n_nationkey").as("c_nationkey"), col("n_regionkey"))), Seq("c_nationkey"))
      .join(broadcast(Tables.region(s, d).select(col("r_regionkey").as("n_regionkey"), col("r_name"))), Seq("n_regionkey"))
      .groupBy("r_name")
      .agg(out(sum(col("price"))).as("total_sales"), count(lit(1)).as("n_orders"))
      .orderBy("r_name")
  }

  /** §2.3 J3 + §2.4 A5 — left outer join keeping unmatched left rows, with
    * SUM(COALESCE(x,0)) (reference All-Tasks-of-SQL.sql:288-296 suppliers
    * LEFT JOIN products). Aggregate-then-join: the fact side is reduced to
    * per-supplier partials BEFORE the join, so the left join is dim-sized. */
  val q12 = QueryDef(
    "q12_left_join_coalesce",
    """SELECT s_suppkey, s_name,
      |  CAST(COALESCE(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS big_line_sales,
      |  COUNT(l_orderkey) AS n_big_lines
      |FROM supplier
      |LEFT JOIN (SELECT * FROM lineitem WHERE l_quantity >= 49 AND l_discount >= 0.09) l
      |  ON s_suppkey = l_suppkey
      |GROUP BY s_suppkey, s_name
      |ORDER BY s_suppkey""".stripMargin) { (s, d) =>
    val bigLines = Tables.lineitem(s, d)
      .filter(col("l_quantity") >= 49 && col("l_discount") >= 0.09)
      .groupBy(col("l_suppkey").as("s_suppkey"))
      .agg(sum(d2(col("l_extendedprice"))).as("sales"), count(lit(1)).as("cnt"))
    Tables.supplier(s, d).select("s_suppkey", "s_name")
      .join(bigLines, Seq("s_suppkey"), "left")
      .select(col("s_suppkey"), col("s_name"),
        out(coalesce(col("sales"), lit(0))).as("big_line_sales"),
        coalesce(col("cnt"), lit(0L)).as("n_big_lines"))
      .orderBy("s_suppkey")
  }

  /** §2.3 J4 — anti-join, both reference spellings (LEFT JOIN…IS NULL /
    * NOT EXISTS; TablesCreated-Imported.sql:131-135, All-Tasks-of-SQL
    * .sql:549-555): customers with no high-value order. */
  val q13 = QueryDef(
    "q13_anti_join",
    """SELECT c_custkey, c_name FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    val big = Tables.orders(s, d).filter(col("o_totalprice") > 300000)
      .select(col("o_custkey").as("c_custkey"))
    Tables.customer(s, d)
      .join(big, Seq("c_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** §2.3 J6 — equi-join on a normalized `lower(trim(...))` key, the
    * Task-12 dim-lookup idiom (reference All-Tasks-of-SQL.sql:358, 369-371).
    * The dim is built by distinct-on-normalized-key, then broadcast. */
  val q14 = QueryDef(
    "q14_normalized_key_join",
    """WITH dim AS (SELECT DISTINCT LOWER(TRIM(p_brand)) AS brand_key FROM part)
      |SELECT d.brand_key, COUNT(*) AS n_parts,
      |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS shelf_value
      |FROM part p JOIN dim d ON LOWER(TRIM(p.p_brand)) = d.brand_key
      |GROUP BY d.brand_key ORDER BY d.brand_key""".stripMargin) { (s, d) =>
    val part = Tables.part(s, d)
    val dim = part.select(lower(trim(col("p_brand"))).as("brand_key")).distinct()
    part.withColumn("brand_key", lower(trim(col("p_brand"))))
      .join(broadcast(dim), Seq("brand_key"))
      .groupBy("brand_key")
      .agg(count(lit(1)).as("n_parts"), out(sum(d2(col("p_retailprice")))).as("shelf_value"))
      .orderBy("brand_key")
  }

  /** §2.3 J8 + §2.4 A7 — scalar-subquery-max / ties-at-top (reference
    * All-Tasks-of-SQL.sql:278-280). No collect: the 1-row max aggregate is
    * broadcast-joined against the table. */
  val q15 = QueryDef(
    "q15_scalar_subquery_max",
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_totalprice = (SELECT MAX(o_totalprice) FROM orders)
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
    val mx = o.agg(max(col("o_totalprice")).as("mx"))
    o.join(broadcast(mx), col("o_totalprice") === col("mx"))
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** §2.4 A1/A2/A3/A12 — multi-table count dashboard in one row: COUNT(*),
    * COUNT(col), exact COUNT(DISTINCT) (reference TablesCreated-Imported
    * .sql:1130-1145 audit dashboards). Each scalar agg is a 1-row frame;
    * the cross joins are trivially broadcast. */
  val q16 = QueryDef(
    "q16_count_dashboard",
    """SELECT
      |  (SELECT COUNT(*) FROM customer) AS customers,
      |  (SELECT COUNT(*) FROM orders) AS orders,
      |  (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS ordering_customers,
      |  (SELECT COUNT(*) FROM lineitem) AS lineitems,
      |  (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS ordered_orders""".stripMargin) { (s, d) =>
    Tables.customer(s, d).agg(count(lit(1)).as("customers"))
      .crossJoin(Tables.orders(s, d).agg(count(lit(1)).as("orders"),
        countDistinct(col("o_custkey")).as("ordering_customers")))
      .crossJoin(Tables.lineitem(s, d).agg(count(lit(1)).as("lineitems"),
        countDistinct(col("l_orderkey")).as("ordered_orders")))
  }

  /** §2.4 A9 — HAVING: post-aggregation filter (reference
    * All-Tasks-of-SQL.sql:207-215 high-value customers via HAVING). */
  val q17 = QueryDef(
    "q17_having",
    """SELECT o_custkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
      |  COUNT(*) AS n_orders
      |FROM orders GROUP BY o_custkey
      |HAVING SUM(CAST(o_totalprice AS DECIMAL(18,2))) > 2000000
      |ORDER BY o_custkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(sum(d2(col("o_totalprice"))).as("spent"), count(lit(1)).as("n_orders"))
      .filter(col("spent") > 2000000)
      .select(col("o_custkey"), out(col("spent")).as("total_spent"), col("n_orders"))
      .orderBy("o_custkey")
  }

  /** §2.4 A10/A11 + §2.7 F4 — conditional aggregation + null-guarded ratio
    * (reference All-Tasks-of-SQL.sql:569-573 prime-membership percentage).
    * Ratio is emitted as the exact IEEE division of two exact integers —
    * identical on any engine; rounding doubles is not cross-engine-stable
    * so parity-relevant rounding happens on decimals only (q19). */
  val q18 = QueryDef(
    "q18_cond_agg_ratio",
    """SELECT n_name,
      |  COUNT(*) AS n_customers,
      |  COUNT(*) FILTER (WHERE c_acctbal > 0) AS positive_bal,
      |  CAST(COUNT(*) FILTER (WHERE c_acctbal > 0) * 100 AS DOUBLE)
      |    / CAST(NULLIF(COUNT(*), 0) AS DOUBLE) AS positive_pct
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, d) =>
    Tables.customer(s, d).select(col("c_nationkey"), col("c_acctbal"))
      .join(broadcast(Tables.nation(s, d).select(col("n_nationkey").as("c_nationkey"), col("n_name"))), Seq("c_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_customers"),
        count_if(col("c_acctbal") > 0).as("positive_bal"))
      .select(col("n_name"), col("n_customers"), col("positive_bal"),
        ((col("positive_bal") * 100).cast("double")
          / nullif(col("n_customers"), lit(0)).cast("double")).as("positive_pct"))
      .orderBy("n_name")
  }

  /** §2.7 F5/F17 — ROUND(x, 2) on exact decimals (HALF_UP on both engines;
    * reference All-Tasks-of-SQL.sql:570-573). */
  val q19 = QueryDef(
    "q19_round_decimal",
    """SELECT l_returnflag,
      |  CAST(SUM(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,4)), 2)) AS DOUBLE) AS total_discount_amt
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(out(sum(round(d2(col("l_extendedprice")) * d4(col("l_discount")), 2))).as("total_discount_amt"))
      .orderBy("l_returnflag")
  }

  /** §2.7 F14 — CASE WHEN bucketing (reference TablesCreated-Imported
    * .sql:147, 441-444). */
  val q20 = QueryDef(
    "q20_case_buckets",
    """SELECT CASE WHEN c_acctbal < 0 THEN 'debt'
      |            WHEN c_acctbal < 5000 THEN 'low'
      |            ELSE 'high' END AS bal_bucket,
      |       COUNT(*) AS n
      |FROM customer GROUP BY 1 ORDER BY bal_bucket""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .select(when(col("c_acctbal") < 0, "debt")
        .when(col("c_acctbal") < 5000, "low")
        .otherwise("high").as("bal_bucket"))
      .groupBy("bal_bucket").agg(count(lit(1)).as("n"))
      .orderBy("bal_bucket")
  }

  /** q175: the full six-table star with the local-supplier twist (the
    * TPC-H Q5 shape): discounted revenue per region counting only line
    * items whose SUPPLIER sits in the same nation as the ordering
    * customer. The one query that exercises the whole star at once —
    * two independent dimension arms (customer→nation→region and
    * supplier→nation) meeting in an equality on the nation key.
    *
    * Scale posture: lineitem joins orders on the order key and customer
    * on the customer key — both shuffle equi-joins (customer GROWS with
    * scale and is deliberately NOT hinted; AQE may still broadcast it
    * when genuinely small). supplier/nation/region are the bounded
    * broadcast dims (q11's contract / Tables.broadcastDims). The
    * local-supplier restriction is a post-join equality filter on two
    * already-attached nation keys — no extra shuffle. Revenue folds in
    * exact decimals (q01's money convention). */
  val q175 = QueryDef(
    "q175_star_local_supplier",
    """SELECT r_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_lineitems
      |FROM lineitem
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN nation ON n_nationkey = c_nationkey
      |JOIN region ON r_regionkey = n_regionkey
      |WHERE s_nationkey = c_nationkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
      .join(broadcast(Tables.supplier(s, d)), col("s_suppkey") === col("l_suppkey"))
      .filter(col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(Tables.nation(s, d)), col("n_nationkey") === col("c_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("r_regionkey") === col("n_regionkey"))
      .groupBy("r_name")
      .agg(
        out(sum(d2(col("l_extendedprice")) * (lit(1) - d4(col("l_discount")))), 6)
          .as("revenue"),
        count(lit(1)).as("n_lineitems"))
      .orderBy("r_name")
  }

  /** q177: discount-band impact — does discounting move volume? Line
    * items bucketed by discount percentage point, each band reporting
    * line count, exact average quantity (decimal-sum / count, emitted as
    * the IEEE division of exact operands), and discounted revenue. The
    * pricing-analytics staple, and a guard against "we discounted more
    * and sold the same".
    *
    * Scale posture: one map-side-combinable aggregate over lineitem
    * keyed by the tiny band domain (discounts are single percentage
    * points); no joins, no windows. */
  val q177 = QueryDef(
    "q177_discount_impact",
    """SELECT CAST(round(CAST(l_discount AS DECIMAL(18,4)) * 100, 0) AS BIGINT)
      |    AS discount_pct,
      |  COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |GROUP BY 1 ORDER BY discount_pct""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(round(d4(col("l_discount")) * 100, 0).cast("long").as("discount_pct"))
      .agg(count(lit(1)).as("n_lines"),
        (sum(d2(col("l_quantity"))).cast("double")
          / count(lit(1)).cast("double")).as("avg_qty"),
        out(sum(d2(col("l_extendedprice")) * (lit(1) - d4(col("l_discount")))), 6)
          .as("revenue"))
      .orderBy("discount_pct")
  }

  val all: Seq[QueryDef] = Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09, q10,
    q11, q12, q13, q14, q15, q16, q17, q18, q19, q20, q175, q177)
}
