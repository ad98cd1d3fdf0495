package graft.operators

import graft.core.{QueryDef, Tables}

/** The `spark.sql(...)` entry point (SURVEY.md §3.1: every query is
  * available both as a typed DataFrame builder and as SQL text): test
  * tables registered as temp views, queries written in SQL with CTEs and
  * a correlated scalar subquery in the SELECT list (§2.3 J7, reference
  * All-Tasks-of-SQL.sql:537-539) — Catalyst plans the subquery as a
  * broadcast-friendly aggregate+join, same shape as the DataFrame form.
  */
object SqlEntry {

  /** Correlated scalar subquery in SELECT + CTE via spark.sql. */
  val q54 = QueryDef(
    "q54_sql_scalar_subquery",
    """WITH big AS (SELECT * FROM orders WHERE o_totalprice > 400000)
      |SELECT n_name,
      |  (SELECT COUNT(*) FROM big b
      |     JOIN customer c ON b.o_custkey = c.c_custkey
      |   WHERE c.c_nationkey = n.n_nationkey) AS n_big_orders
      |FROM nation n ORDER BY n_name""".stripMargin) { (s, d) =>
    Seq("orders", "customer", "nation").foreach { t =>
      Tables.load(s, d, t).createOrReplaceTempView(t)
    }
    s.sql(
      """WITH big AS (SELECT * FROM orders WHERE o_totalprice > 400000)
        |SELECT n_name,
        |  (SELECT COUNT(*) FROM big b
        |     JOIN customer c ON b.o_custkey = c.c_custkey
        |   WHERE c.c_nationkey = n.n_nationkey) AS n_big_orders
        |FROM nation n ORDER BY n_name""".stripMargin)
  }

  /** spark.sql over the catalog views with window + HAVING — the “run the
    * reference's SQL text directly” path. */
  val q55 = QueryDef(
    "q55_sql_text_direct",
    """SELECT o_custkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
      |FROM orders
      |GROUP BY o_custkey
      |HAVING COUNT(*) >= 20
      |ORDER BY o_custkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d).createOrReplaceTempView("orders")
    s.sql(
      """SELECT o_custkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
        |FROM orders
        |GROUP BY o_custkey
        |HAVING COUNT(*) >= 20
        |ORDER BY o_custkey""".stripMargin)
  }

  /** q109: correlated LATERAL subquery — top-2 customers by balance per
    * nation, the "for each row, run this parameterized subquery" form.
    * Catalyst decorrelates the LATERAL + LIMIT into a partitioned
    * row_number window (scales per-nation, no per-row re-execution);
    * DuckDB runs the same text natively. Same SQL string on both engines,
    * full ORDER BY tiebreaks. */
  val q109 = QueryDef(
    "q109_sql_lateral",
    """SELECT n.n_name, t.c_custkey, t.c_acctbal
      |FROM nation n, LATERAL (
      |  SELECT c_custkey, c_acctbal FROM customer c
      |  WHERE c.c_nationkey = n.n_nationkey
      |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
      |ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey""".stripMargin) { (s, d) =>
    Seq("nation", "customer").foreach { t =>
      Tables.load(s, d, t).createOrReplaceTempView(t)
    }
    s.sql(
      """SELECT n.n_name, t.c_custkey, t.c_acctbal
        |FROM nation n, LATERAL (
        |  SELECT c_custkey, c_acctbal FROM customer c
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
        |ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey""".stripMargin)
  }

  /** q110: GROUPING() disambiguation — the one thing a ROLLUP output
    * can't express with values alone: whether a NULL group key means "the
    * subtotal row" or "rows whose key IS NULL". Same SQL text on both
    * engines; flags cast to BIGINT for dtype parity. */
  val q110 = QueryDef(
    "q110_grouping_flag",
    """SELECT COALESCE(lang, 'ALL') AS lang_grp,
      |  CAST(GROUPING(lang) AS BIGINT) AS is_total,
      |  COUNT(*) AS n_docs
      |FROM documents GROUP BY ROLLUP(lang)
      |ORDER BY is_total, lang_grp""".stripMargin) { (s, d) =>
    Tables.documents(s, d).createOrReplaceTempView("documents")
    s.sql(
      """SELECT COALESCE(lang, 'ALL') AS lang_grp,
        |  CAST(GROUPING(lang) AS BIGINT) AS is_total,
        |  COUNT(*) AS n_docs
        |FROM documents GROUP BY ROLLUP(lang)
        |ORDER BY is_total, lang_grp""".stripMargin)
  }

  val all: Seq[QueryDef] = Seq(q54, q55, q109, q110)
}
