package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Tables}
import graft.functions.Dec._

/** Engine-completeness operators beyond the reference's surface (SURVEY.md
  * §2 notes these as "not present"): explicit window frames, ROLLUP
  * subtotals, exact interpolated percentiles. A reference user migrating
  * here gains them for free.
  */
object Extras {

  /** Memoized co-purchase graph per (session, dir) — the (order, part)
    * distinct projection and the distinct undirected edge list (u < v),
    * each materialized ONCE as PARQUET in a memo temp dir and shared by
    * the five graph queries (q141 affinity, q154 PageRank, q160 rules,
    * q161 triangles, q164 k-core). Without the memo each query re-runs
    * the two largest shuffles of the family (fact distinct + within-order
    * self-join distinct).
    *
    * The two components build INDEPENDENTLY, on first demand: q141/q160
    * aggregate within-order pairs directly off `items` and never touch
    * the distinct edge list, so a cold q141 was paying the edge
    * self-join — the single most expensive shuffle of the family — for a
    * frame it never read (the r10 100× probes' worst residual row).
    * Edges imply items (they are derived from it), so the dependency
    * only ever runs one way.
    *
    * Parquet, not localCheckpoint (r9 watch item): block-manager blocks
    * for a 100×-corpus edge list sit in MEMORY_AND_DISK executor storage
    * and made the cold q141 probe swing 12.8–22.8× run to run
    * (GC/eviction noise); a parquet round-trip costs one extra encode but
    * reads back through the scan path with sized splits and ZERO
    * long-lived JVM storage — deterministic cost, and release is a
    * directory delete. Weak session keys, same contract as
    * Dedup.lshVerifiedPairs: inputs are immutable driver-generated
    * parquet, so no invalidation beyond session lifetime is needed. */
  private final class GraphMemoEntry(val memoDir: java.nio.file.Path) {
    var items: Option[org.apache.spark.sql.DataFrame] = None
    var edges: Option[org.apache.spark.sql.DataFrame] = None
  }

  private val graphMemo = new java.util.WeakHashMap[
    org.apache.spark.sql.SparkSession,
    scala.collection.mutable.Map[String, GraphMemoEntry]]()

  /** Memo parquet dir for `dir` in session `s`, if built (spec hook). */
  private[graft] def graphMemoDir(s: org.apache.spark.sql.SparkSession,
      d: String): Option[java.nio.file.Path] =
    graphMemo.synchronized {
      Option(graphMemo.get(s)).flatMap(_.get(d)).map(_.memoDir)
    }

  private def memoEntry(s: org.apache.spark.sql.SparkSession, d: String): GraphMemoEntry = {
    val perDir = {
      val cur = graphMemo.get(s)
      if (cur != null) cur
      else {
        val m = scala.collection.mutable.Map[String, GraphMemoEntry]()
        graphMemo.put(s, m); m
      }
    }
    perDir.getOrElseUpdate(d, {
      // deleted at JVM exit unless released first: Bench/Verify/test
      // JVMs never call the lifecycle API (releaseGraphMemo)
      new GraphMemoEntry(Epochs.memoRoot("graft-graph-memo"))
    })
  }

  /** Distinct (order, part) market baskets — what q141/q160 aggregate. */
  private def copurchaseItems(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    graphMemo.synchronized {
      val e = memoEntry(s, d)
      e.items.getOrElse {
        Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
          .distinct().write.mode("overwrite").parquet(s"${e.memoDir}/items.parquet")
        val df = s.read.parquet(s"${e.memoDir}/items.parquet")
        e.items = Some(df)
        df
      }
    }

  /** Distinct undirected co-purchase edges (u < v) — what the iterative
    * graph queries (q154/q161/q164) traverse. */
  private def copurchaseEdges(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    graphMemo.synchronized {
      val e = memoEntry(s, d)
      e.edges.getOrElse {
        val items = copurchaseItems(s, d) // reentrant lock; builds if cold
        items.toDF("k", "u").join(items.toDF("k", "v"), Seq("k"))
          .filter(col("u") < col("v")).select("u", "v").distinct()
          .write.mode("overwrite").parquet(s"${e.memoDir}/edges.parquet")
        val df = s.read.parquet(s"${e.memoDir}/edges.parquet")
        e.edges = Some(df)
        df
      }
    }

  /** Drop the memoized co-purchase graph for `dir` (all sessions) and
    * delete its parquet memo dir — the lifecycle hook a long-lived
    * service session calls when done with a corpus; without it the edge
    * list occupies local disk for the session lifetime. */
  private[graft] def releaseGraphMemo(dir: String): Unit =
    graphMemo.synchronized {
      import scala.jdk.CollectionConverters._
      for (perDir <- graphMemo.values.asScala; e <- perDir.remove(dir))
        EventsOps.rmTree(e.memoDir)
    }

  /** Release every memoized corpus graph (session-shutdown hygiene). */
  private[graft] def clearGraphMemo(): Unit =
    graphMemo.synchronized {
      import scala.jdk.CollectionConverters._
      graphMemo.values.asScala.flatMap(_.keys).toSet[String]
        .foreach(releaseGraphMemo)
    }

  /** Explicit ROWS BETWEEN frame: 4-event moving average per user.
    * Average is decimal-sum / count (exact) — frame-order-proof. */
  val q66 = QueryDef(
    "q66_moving_average",
    """SELECT event_id, user_id,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS frame_sum,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
      |    / CAST(COUNT(*) OVER w AS DOUBLE) AS DOUBLE) AS moving_avg
      |FROM events
      |WHERE user_id < 50
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(-3, Window.currentRow)
    Tables.events(s, d)
      .filter(col("user_id") < 50)
      .select(col("event_id"), col("user_id"),
        sum(d4(col("value"))).over(w).cast("decimal(38,4)").cast("double").as("frame_sum"),
        (sum(d4(col("value"))).over(w).cast("double")
          / count(lit(1)).over(w).cast("double")).cast("double").as("moving_avg"))
      .orderBy("event_id")
  }

  /** ROLLUP subtotals over the region→nation hierarchy (NULLS FIRST sort
    * pinned — Spark and DuckDB default null ordering differs). */
  val q67 = QueryDef(
    "q67_rollup",
    """SELECT r_name, n_name, COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin) { (s, d) =>
    // DataFrame-API rollup over a multi-join plan false-positives Spark's
    // ambiguous-self-join detector (the Expand duplicates attributes), so
    // the rollup runs through the SQL entry point — same Catalyst plan.
    Tables.customer(s, d).createOrReplaceTempView("customer")
    Tables.nation(s, d).createOrReplaceTempView("nation")
    Tables.region(s, d).createOrReplaceTempView("region")
    s.sql(
      """SELECT r_name, n_name, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)
  }

  /** Exact interpolated percentiles (median / p95) — Spark `percentile`
    * and DuckDB `quantile_cont` share the linear-interpolation definition
    * over identical sorted inputs. */
  val q68 = QueryDef(
    "q68_percentiles",
    """SELECT o_orderstatus,
      |  quantile_cont(o_totalprice, 0.5) AS median_price,
      |  quantile_cont(o_totalprice, 0.95) AS p95_price,
      |  COUNT(*) AS n
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(expr("percentile(o_totalprice, 0.5)").as("median_price"),
        expr("percentile(o_totalprice, 0.95)").as("p95_price"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
  }

  /** PIVOT: event-type value sums spread into columns per user bucket —
    * Spark `pivot()` with an explicit value list (no extra distinct scan)
    * against the portable conditional-aggregation oracle (which is the
    * relational meaning of PIVOT). */
  val q77 = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val sqlCols = types.map(t =>
      s"  CAST(SUM(CASE WHEN event_type = '$t' THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS $t")
      .mkString(",\n")
    QueryDef(
      "q77_pivot",
      s"""SELECT user_id % 10 AS bucket,
         |$sqlCols
         |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy((col("user_id") % 10).as("bucket"))
        .pivot("event_type", types)
        .agg(sum(d4(col("value"))))
        .select(col("bucket") +: types.map(t => out(col(t), 4).as(t)): _*)
        .orderBy("bucket")
    }
  }

  /** CUBE: all grouping-set combinations over (status, priority) with the
    * NULLS FIRST sort pinned (Spark and DuckDB default null order differs). */
  val q78 = QueryDef(
    "q78_cube",
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), out(sum(d2(col("o_totalprice")))).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  }

  /** Explicit GROUPING SETS (the general form behind ROLLUP/CUBE):
    * per-status totals, per-priority totals, and a grand total in one
    * pass. Spark's DataFrame API has no grouping-sets call, so this routes
    * through spark.sql — same Expand-based Catalyst plan as q67/q78. */
  val q83 = {
    val sql =
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin
    QueryDef("q83_grouping_sets", sql) { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(sql)
    }
  }

  /** Exact second-moment statistics: stddev and correlation from EXACT
    * decimal moments (Σx, Σx², Σxy …), finished with identical IEEE
    * double ops on both engines. Naive float accumulation (what built-in
    * stddev/corr do) is summation-order-dependent and therefore not
    * reproducible distributed vs single-threaded; exact moments are. The
    * per-group work is one partial+final aggregate. */
  val q85 = QueryDef(
    "q85_exact_moments",
    """WITH m AS (
      |  SELECT event_type,
      |    COUNT(*) AS n,
      |    SUM(CAST(value AS DECIMAL(18,4))) AS sx,
      |    SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS sxx,
      |    SUM(CAST(user_id % 50 AS BIGINT)) AS sy,
      |    SUM(CAST(user_id % 50 AS BIGINT) * CAST(user_id % 50 AS BIGINT)) AS syy,
      |    SUM(CAST(value AS DECIMAL(18,4)) * CAST(user_id % 50 AS BIGINT)) AS sxy
      |  FROM events GROUP BY event_type)
      |SELECT event_type, n,
      |  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_value,
      |  sqrt(CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)) AS stddev_value,
      |  CAST(n * sxy - sx * sy AS DOUBLE)
      |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr_vu
      |FROM m ORDER BY event_type""".stripMargin) { (s, d) =>
    val x = col("value").cast("decimal(18,4)")
    val y = (col("user_id") % 50).cast("long")
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(x * x).as("sxx"),
        sum(y).as("sy"), sum(y * y).as("syy"),
        sum(x * y).as("sxy"))
      .select(col("event_type"), col("n"),
        (col("sx").cast("double") / col("n").cast("double")).as("mean_value"),
        sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
          / (col("n") * (col("n") - 1)).cast("double")).as("stddev_value"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
            * sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double")))).as("corr_vu"))
      .orderBy("event_type")
  }

  /** Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys match
    * each other instead of disappearing — the semantics dimension lookups
    * need when the dimension carries an explicit "unknown" row. The JSON
    * payload extraction supplies genuine NULL keys. */
  val q86 = QueryDef(
    "q86_null_safe_join",
    """WITH e AS (SELECT event_id, json_extract_string(props, '$.k') AS k FROM events),
      |dim AS (SELECT DISTINCT k FROM e)
      |SELECT d.k AS k, COUNT(*) AS n
      |FROM e JOIN dim d ON e.k IS NOT DISTINCT FROM d.k
      |GROUP BY d.k
      |ORDER BY d.k NULLS FIRST""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("event_id"), get_json_object(col("props"), "$.k").as("k"))
    val dim = e.select(col("k").as("dk")).distinct()
    e.join(dim, col("k") <=> col("dk"))
      .groupBy(col("dk").as("k")).agg(count(lit(1)).as("n"))
      .orderBy(col("k").asc_nulls_first)
  }

  /** q100: approximate COUNT(DISTINCT) (HyperLogLog++) gated as an
    * invariant — the 100 TB dashboard variant of q16's exact distinct
    * counts. A sketch's value can't hash-match across engines (Spark HLL++
    * vs DuckDB's HLL differ by design), so — like q89's recall gate — the
    * query emits the EXACT counts plus a boolean asserting the sketch
    * landed within 3× its configured relative standard deviation (5%);
    * the oracle recomputes the exact counts and pins the boolean to TRUE.
    * Scale: approx_count_distinct is a fixed-size sketch with map-side
    * partials — no exact-distinct re-shuffle of every value. */
  val q100 = QueryDef(
    "q100_approx_distinct",
    """WITH tok AS (
      |  SELECT lang, doc_id, unnest(string_split(trim(text), ' ')) AS w
      |  FROM documents)
      |SELECT lang, COUNT(DISTINCT doc_id) AS n_docs,
      |  COUNT(DISTINCT w) AS n_distinct_tokens,
      |  true AS approx_ok
      |FROM tok GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    import graft.functions.TextFunctions.tokens
    val tol = 0.15 // 3 × the 0.05 default rsd
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy("lang")
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        countDistinct(col("w")).as("n_distinct_tokens"),
        approx_count_distinct(col("doc_id")).as("a_docs"),
        approx_count_distinct(col("w")).as("a_toks"))
      .select(col("lang"), col("n_docs"), col("n_distinct_tokens"),
        (abs(col("a_docs") - col("n_docs")) <= col("n_docs") * tol &&
          abs(col("a_toks") - col("n_distinct_tokens")) <= col("n_distinct_tokens") * tol)
          .as("approx_ok"))
      .orderBy("lang")
  }

  /** q106: UNPIVOT — the inverse of q77's PIVOT: a wide per-lang metric
    * row melts into (lang, metric, value) long form via Spark's native
    * `unpivot` (one narrow projection, no shuffle beyond the aggregate);
    * the oracle is the UNION ALL form, which is UNPIVOT's relational
    * meaning. Metrics are exact ints cast to double, so values carry no
    * fp-summation order risk. */
  val q106 = QueryDef(
    "q106_unpivot",
    """SELECT lang, 'max_tokens' AS metric,
      |  CAST(MAX(len(string_split(trim(text), ' '))) AS DOUBLE) AS value
      |FROM documents GROUP BY lang
      |UNION ALL
      |SELECT lang, 'n_docs', CAST(COUNT(*) AS DOUBLE) FROM documents GROUP BY lang
      |UNION ALL
      |SELECT lang, 'n_tokens',
      |  CAST(SUM(len(string_split(trim(text), ' '))) AS DOUBLE)
      |FROM documents GROUP BY lang
      |ORDER BY lang, metric""".stripMargin) { (s, d) =>
    import graft.functions.TextFunctions.tokens
    Tables.documents(s, d)
      .select(col("lang"), size(tokens(col("text"))).as("ntok"))
      .groupBy("lang")
      .agg(max(col("ntok")).cast("double").as("max_tokens"),
        count(lit(1)).cast("double").as("n_docs"),
        sum(col("ntok")).cast("double").as("n_tokens"))
      .unpivot(Array(col("lang")),
        Array(col("max_tokens"), col("n_docs"), col("n_tokens")),
        "metric", "value")
      .orderBy("lang", "metric")
  }

  /** q108: approximate percentile (KLL-style sketch) gated as an
    * invariant — the 100 TB path for q68's exact percentiles (an exact
    * percentile sorts each group; the sketch is a fixed-size mergeable
    * summary with map-side partials). Like q100, a sketch value can't
    * hash-match across engines, so the query emits the EXACT median plus
    * a boolean asserting the sketch landed within 5% of it; the oracle
    * recomputes the exact median and pins the boolean TRUE. At
    * accuracy=10000 and these group sizes the sketch's rank error is
    * ≤ ~1 rank, so the 5% value tolerance is far outside noise. */
  val q108 = QueryDef(
    "q108_approx_percentile",
    """SELECT o_orderstatus,
      |  quantile_cont(o_totalprice, 0.5) AS median_price,
      |  true AS approx_ok
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(expr("percentile(o_totalprice, 0.5)").as("median_price"),
        expr("approx_percentile(o_totalprice, 0.5, 10000)").as("ap"))
      .select(col("o_orderstatus"), col("median_price"),
        (abs(col("ap") - col("median_price")) <= col("median_price") * 0.05)
          .as("approx_ok"))
      .orderBy("o_orderstatus")
  }

  /** §2.3 J+ — FULL OUTER JOIN as a first-class gate: snapshot
    * reconciliation of two derived order sets (simulated deletions on
    * each side + price drift), classified added / removed / changed /
    * same — the "diff two feeds" report every data platform runs.
    * One PK-keyed full-outer join; counts and exact decimal deltas. */
  val q123 = QueryDef(
    "q123_full_outer_reconcile",
    """WITH old AS (
      |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS p
      |  FROM orders WHERE o_orderkey % 97 <> 0),
      |new AS (
      |  SELECT o_orderkey,
      |         CAST(CASE WHEN o_orderkey % 7 = 0
      |              THEN CAST(o_totalprice AS DECIMAL(18,2)) + 10
      |              ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS DECIMAL(18,2)) AS p
      |  FROM orders WHERE o_orderkey % 89 <> 0),
      |d AS (
      |  SELECT CASE WHEN o.o_orderkey IS NULL THEN 'added'
      |              WHEN n.o_orderkey IS NULL THEN 'removed'
      |              WHEN o.p <> n.p THEN 'changed' ELSE 'same' END AS change,
      |         COALESCE(n.p, 0) - COALESCE(o.p, 0) AS delta
      |  FROM old o FULL OUTER JOIN new n ON n.o_orderkey = o.o_orderkey)
      |SELECT change, COUNT(*) AS n, CAST(SUM(delta) AS DOUBLE) AS delta_sum
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    import graft.functions.Dec._
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), d2(col("o_totalprice")).as("p"))
    val oldS = base.filter(col("o_orderkey") % 97 =!= 0)
      .select(col("o_orderkey"), col("p").as("old_p"))
    val newS = base.filter(col("o_orderkey") % 89 =!= 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, col("p") + 10).otherwise(col("p"))
          .cast(Money).as("new_p"))
    oldS.join(newS, Seq("o_orderkey"), "full_outer")
      .select(
        when(col("old_p").isNull, "added")
          .when(col("new_p").isNull, "removed")
          .when(col("old_p") =!= col("new_p"), "changed")
          .otherwise("same").as("change"),
        (coalesce(col("new_p"), lit(BigDecimal(0)).cast(Money)) -
          coalesce(col("old_p"), lit(BigDecimal(0)).cast(Money))).as("delta"))
      .groupBy("change")
      .agg(count(lit(1)).as("n"), out(sum(col("delta"))).as("delta_sum"))
      .orderBy("change")
  }

  /** File-level data skipping on the ORACLE path (DataSkippingSpec proves
    * effectiveness; this gate proves EXACTNESS on real data): events land
    * in a store clustered on user_id, a selective range scan goes through
    * `scanSkipping` (file pruning by footer min/max stats), and the
    * result must equal the oracle's plain filtered aggregate. The builder
    * hard-fails if no file was actually skipped — so a silent stats
    * regression cannot pass as correct. */
  val q127 = QueryDef(
    "q127_skipping_scan",
    """SELECT user_id, COUNT(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
      |FROM events WHERE user_id BETWEEN 40 AND 60
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    import graft.sources.FileStats
    Epochs.scratchStore(s, "graft-skip") { st =>
      st.createClustered("ev",
        Tables.events(s, d).select("event_id", "user_id", "value"),
        Seq("user_id"), files = 16)
      val (scan, rep) = st.scanSkipping("ev",
        Seq(FileStats.ColumnRange("user_id", Some(40L), Some(60L))))
      require(rep.filesRead < rep.filesTotal,
        s"skipping ineffective: read ${rep.filesRead}/${rep.filesTotal} files")
      scan.groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("value_sum"))
        .orderBy("user_id")
    }
  }

  /** Integer-exact equi-width histogram: order totals in cents, 10 equal
    * buckets over the observed [min, max] — bucket index is one integer
    * multiply-divide with non-negative operands, so DuckDB's floor `//`
    * and Spark's truncating `div` agree by construction. The 1-row
    * min/max frame is a broadcast cross join (same shape as the q16/q61
    * dashboards). */
  val q128 = QueryDef(
    "q128_histogram",
    """WITH c AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |           FROM orders),
      |mm AS (SELECT MIN(cents) AS mn, MAX(cents) AS mx FROM c)
      |SELECT CAST(((cents - mn) * 10) // (mx - mn + 1) AS INT) AS bucket,
      |       COUNT(*) AS n
      |FROM c CROSS JOIN mm GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    import graft.functions.Dec._
    val c = Tables.orders(s, d)
      .select((d2(col("o_totalprice")) * 100).cast("long").as("cents"))
    val mm = c.agg(min(col("cents")).as("mn"), max(col("cents")).as("mx"))
    c.crossJoin(broadcast(mm))
      .select(expr("cast(((cents - mn) * 10) div (mx - mn + 1) as int)").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .orderBy("bucket")
  }

  /** IQR robust-outlier bands per order status (the box-plot rule):
    * p25/p75 via the exact interpolated percentile (q68's proven
    * cross-engine convention), Tukey fences at 1.5·IQR, counts of rows
    * outside each fence. Percentiles are per-group sorted-scan work
    * exactly like q68; the fence comparison is a broadcast band join
    * (same shape as q103's winsorize clamp). */
  val q129 = QueryDef(
    "q129_iqr_outliers",
    """WITH b AS (
      |  SELECT o_orderstatus,
      |         quantile_cont(o_totalprice, 0.25) AS p25,
      |         quantile_cont(o_totalprice, 0.75) AS p75
      |  FROM orders GROUP BY 1)
      |SELECT o.o_orderstatus, b.p25, b.p75,
      |  CAST(SUM(CASE WHEN o.o_totalprice < b.p25 - 1.5 * (b.p75 - b.p25)
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
      |  CAST(SUM(CASE WHEN o.o_totalprice > b.p75 + 1.5 * (b.p75 - b.p25)
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
      |  COUNT(*) AS n
      |FROM orders o JOIN b ON b.o_orderstatus = o.o_orderstatus
      |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin) { (s, d) =>
    val b = Tables.orders(s, d).groupBy("o_orderstatus")
      .agg(expr("percentile(o_totalprice, 0.25)").as("p25"),
        expr("percentile(o_totalprice, 0.75)").as("p75"))
    Tables.orders(s, d).select("o_orderstatus", "o_totalprice")
      .join(broadcast(b), Seq("o_orderstatus"))
      .groupBy("o_orderstatus", "p25", "p75")
      .agg(
        sum(when(col("o_totalprice") < col("p25") - lit(1.5) * (col("p75") - col("p25")), 1L)
          .otherwise(0L)).as("n_low"),
        sum(when(col("o_totalprice") > col("p75") + lit(1.5) * (col("p75") - col("p25")), 1L)
          .otherwise(0L)).as("n_high"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
  }

  /** Per-group MODE (most frequent value) with an EXPLICIT deterministic
    * tie-break — engines' built-in mode() leaves ties unspecified, so
    * both sides rank (count DESC, value ASC) and take row 1. Two
    * aggregations, both map-side combinable; the rank runs on the tiny
    * (group × distinct-value) frame. */
  val q133 = QueryDef(
    "q133_mode_per_group",
    """WITH c AS (
      |  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
      |  FROM orders GROUP BY 1, 2)
      |SELECT o_orderpriority, o_orderstatus AS mode_status, n AS n_mode FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |            ORDER BY n DESC, o_orderstatus) AS rn FROM c)
      |WHERE rn = 1 ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val c = Tables.orders(s, d)
      .groupBy("o_orderpriority", "o_orderstatus").agg(count(lit(1)).as("n"))
    c.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("o_orderpriority")
          .orderBy(col("n").desc, col("o_orderstatus"))))
      .filter(col("rn") === 1)
      .select(col("o_orderpriority"), col("o_orderstatus").as("mode_status"),
        col("n").as("n_mode"))
      .orderBy("o_orderpriority")
  }

  /** Ratio-to-report: each nation's share of its REGION's revenue — the
    * percent-of-total window every BI layer ships. Revenue sums are exact
    * decimals aggregated per nation first (the window then runs over 25
    * rows, not the fact table); the share is one double division at the
    * end. */
  val q134 = QueryDef(
    "q134_ratio_to_report",
    """WITH rev AS (
      |  SELECT r.r_name AS region, n.n_name AS nation,
      |         SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS revenue
      |  FROM lineitem l
      |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  JOIN nation n ON n.n_nationkey = s.s_nationkey
      |  JOIN region r ON r.r_regionkey = n.n_regionkey
      |  GROUP BY 1, 2)
      |SELECT region, nation, CAST(revenue AS DOUBLE) AS revenue,
      |       CAST(revenue AS DOUBLE) /
      |         CAST(SUM(revenue) OVER (PARTITION BY region) AS DOUBLE) AS share
      |FROM rev ORDER BY region, nation""".stripMargin) { (s, d) =>
    import graft.functions.Dec._
    val rev = Tables.lineitem(s, d)
      .select(col("l_suppkey"), d2(col("l_extendedprice")).as("p"))
      .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).select("r_regionkey", "r_name")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(sum(col("p")).as("revenue"))
    rev.select(col("region"), col("nation"),
        col("revenue").cast("double").as("revenue"),
        (col("revenue").cast("double") /
          sum(col("revenue")).over(
            org.apache.spark.sql.expressions.Window.partitionBy("region"))
            .cast("double")).as("share"))
      .orderBy("region", "nation")
  }

  /** Exact Gini coefficient of revenue concentration across customers —
    * the inequality/concentration diagnostic (same formula measures
    * source concentration in a training corpus):
    * G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over ascending-sorted totals.
    * Per-customer totals are exact decimals; the rank window runs over
    * the 1,000-row customer rollup (never the fact table); Σ i·xᵢ is an
    * exact decimal sum, and the formula's two divisions happen once, on
    * the 1-row aggregate. Ties in totals are broken by customer key so
    * the ranking — and therefore the bit pattern — is identical on both
    * engines (Gini's VALUE is tie-order-invariant; the gate pins the
    * bits too). */
  val q140 = QueryDef(
    "q140_gini_concentration",
    """WITH rev AS (
      |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
      |  FROM orders GROUP BY 1),
      |ranked AS (
      |  SELECT x, ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS i FROM rev)
      |SELECT
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(x) AS DOUBLE) AS total,
      |  2.0 * CAST(SUM(i * x) AS DOUBLE) / (COUNT(*) * CAST(SUM(x) AS DOUBLE))
      |    - (COUNT(*) + 1.0) / COUNT(*) AS gini
      |FROM ranked""".stripMargin) { (s, d) =>
    import graft.functions.Dec._
    val rev = Tables.orders(s, d)
      .groupBy("o_custkey").agg(sum(d2(col("o_totalprice"))).as("x"))
    val ranked = rev.withColumn("i", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(col("x"), col("o_custkey"))))
    ranked.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("i") * col("x")).as("six"))
      .select(col("n"),
        col("sx").cast("double").as("total"),
        (lit(2.0) * col("six").cast("double") / (col("n") * col("sx").cast("double"))
          - (col("n") + lit(1.0)) / col("n")).as("gini"))
  }

  /** Market-basket co-purchase affinity: the top part PAIRS appearing in
    * the same order — association mining's support count in its exact
    * form. The pair generator is a self-join WITHIN the order key (never
    * across orders), so per-order fan-out is C(basket, 2) — bounded by
    * basket size, the market-basket contract; the global rollup is one
    * map-side-combinable aggregate on the pair key. */
  val q141 = QueryDef(
    "q141_copurchase_affinity",
    """WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS support
      |      FROM d a JOIN d b ON b.l_orderkey = a.l_orderkey
      |                       AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2)
      |SELECT part_a, part_b, support, CAST(rk AS INT) AS rk FROM (
      |  SELECT *, ROW_NUMBER() OVER (ORDER BY support DESC, part_a, part_b) AS rk
      |  FROM p) WHERE rk <= 10 ORDER BY rk""".stripMargin) { (s, d) =>
    val items = copurchaseItems(s, d)
    items.toDF("l_orderkey", "part_a")
      .join(items.toDF("l_orderkey", "part_b"), Seq("l_orderkey"))
      .filter(col("part_a") < col("part_b"))
      .groupBy("part_a", "part_b").agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("part_a"), col("part_b"))
      .limit(10)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("support").desc, col("part_a"), col("part_b"))).cast("int"))
      .orderBy("rk")
  }

  /** RFM customer scoring — recency (days since last order), frequency
    * (order count), monetary (revenue sum) quintiled per dimension with
    * NTILE(5) over TOTAL orders (ties broken by customer key — NTILE is
    * row-order-dependent, q117's lesson). Windows run over the 1,000-row
    * customer rollup, never the fact table. */
  val q143 = QueryDef(
    "q143_rfm_scores",
    """WITH m AS (
      |  SELECT o_custkey,
      |         date_diff('day', MAX(o_orderdate), DATE '2024-12-31') AS recency_days,
      |         COUNT(*) AS frequency,
      |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
      |  FROM orders GROUP BY 1)
      |SELECT o_custkey, CAST(recency_days AS BIGINT) AS recency_days,
      |       frequency, CAST(monetary AS DOUBLE) AS monetary,
      |  CAST(NTILE(5) OVER (ORDER BY recency_days, o_custkey) AS INT) AS r_score,
      |  CAST(NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS INT) AS f_score,
      |  CAST(NTILE(5) OVER (ORDER BY monetary DESC, o_custkey) AS INT) AS m_score
      |FROM m ORDER BY o_custkey""".stripMargin) { (s, d) =>
    import graft.functions.Dec._
    import org.apache.spark.sql.expressions.Window
    val m = Tables.orders(s, d).groupBy("o_custkey")
      .agg(datediff(lit("2024-12-31").cast("date"), max(col("o_orderdate"))).cast("long")
          .as("recency_days"),
        count(lit(1)).as("frequency"),
        sum(d2(col("o_totalprice"))).as("monetary"))
    m.select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("monetary").cast("double").as("monetary"),
        ntile(5).over(Window.orderBy(col("recency_days"), col("o_custkey"))).cast("int").as("r_score"),
        ntile(5).over(Window.orderBy(col("frequency").desc, col("o_custkey"))).cast("int").as("f_score"),
        ntile(5).over(Window.orderBy(col("monetary").desc, col("o_custkey"))).cast("int").as("m_score"))
      .orderBy("o_custkey")
  }

  /** Data-profiling report — the expectation-suite primitives every
    * platform runs before trusting a table: per column, row count, null
    * count, and exact distinct count, emitted as one long-format frame.
    * ONE pass over the table computes every metric (a single aggregate
    * projection), then a constant-width unpivot — no per-column rescans. */
  val q144 = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val sqlMetrics = cols.map(c =>
      s"""  SELECT '$c' AS column_name, COUNT(*) AS n_rows,
         |    COUNT(*) - COUNT($c) AS n_null, COUNT(DISTINCT $c) AS n_distinct
         |  FROM orders""".stripMargin).mkString("\nUNION ALL\n")
    QueryDef(
      "q144_profile_columns",
      s"""$sqlMetrics
         |ORDER BY column_name""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      // one aggregate computes all 6×3 metrics; the union below is over
      // 1-row frames (plan-wise a local unpivot, not 6 table scans —
      // Catalyst reuses the aggregated subplan via the cached frame)
      val agg = o.agg(
        count(lit(1)).as("n_rows"),
        cols.flatMap(c => Seq(
          (count(lit(1)) - count(col(c))).as(s"null_$c"),
          countDistinct(col(c)).as(s"dist_$c"))): _*).cache()
      cols.map { c =>
        agg.select(lit(c).as("column_name"), col("n_rows"),
          col(s"null_$c").as("n_null"), col(s"dist_$c").as("n_distinct"))
      }.reduce(_ unionByName _).orderBy("column_name")
    }
  }

  /** Shipping-SLA report per order priority: days from order date to the
    * FIRST lineitem ship date, average latency (exact integer day sums,
    * one double division) and the fraction meeting a 7-day SLA. The
    * per-order min-ship aggregation combines map-side; the orders join
    * runs on the (orderkey, first_ship) rollup. */
  val q146 = QueryDef(
    "q146_shipping_sla",
    """WITH fs AS (
      |  SELECT l_orderkey, MIN(l_shipdate) AS first_ship FROM lineitem GROUP BY 1),
      |lat AS (
      |  SELECT o.o_orderpriority,
      |         date_diff('day', o.o_orderdate, fs.first_ship) AS days
      |  FROM orders o JOIN fs ON fs.l_orderkey = o.o_orderkey)
      |SELECT o_orderpriority,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(days) AS BIGINT) AS total_days,
      |  CAST(SUM(days) AS DOUBLE) / COUNT(*) AS avg_days,
      |  CAST(SUM(CASE WHEN days <= 7 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*) AS sla_7d_rate
      |FROM lat GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val fs = Tables.lineitem(s, d).groupBy("l_orderkey")
      .agg(min(col("l_shipdate")).as("first_ship"))
    Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
      .join(fs, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("first_ship"), col("o_orderdate")).cast("long").as("days"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("days")).as("total_days"),
        (sum(col("days")).cast("double") / count(lit(1))).as("avg_days"),
        (sum(when(col("days") <= 7, 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("sla_7d_rate"))
      .orderBy("o_orderpriority")
  }

  /** q154: PageRank over the co-purchase graph (q141's edges), 3 fixed
    * power iterations at damping 0.85 — "which products sit at the center
    * of the basket graph". EXACT across engines: scores live in integer
    * fixed-point (scale 10^12) and every step is integer arithmetic on
    * positive operands, where Spark's truncating `div` and DuckDB's
    * flooring `//` agree — no float summation order, no libm (the same
    * discipline as q139's decay weights).
    *
    * Scale posture: the textbook BSP shape — per-round, contributions
    * `pr div deg` flow along edges via ONE shuffle equi-join on the node
    * key and collapse with a map-side-combinable SUM; `deg`/`pr` are
    * node-cardinality frames (never broadcast) and rounds are constant
    * (3). Only the edge list is localCheckpoint-materialized (it feeds
    * the degree count plus every round); the per-round frames stay lazy —
    * unlike q71's data-dependent fixpoint there is no per-round action,
    * so the single terminal job executes the shallow 3-round DAG once and
    * materialization barriers would only add latency. The symmetric edge
    * set guarantees in-degree = out-degree ≥ 1: no dangling-mass term. */
  val q154 = {
    val R = "1000000000000"
    def iterCte(cur: String, prev: String): String =
      s"""$cur AS (SELECT dg.node, dg.deg, bb.base + (85 * SUM(p.pr // p.deg)) // 100 AS pr
         |        FROM e JOIN $prev p ON p.node = e.s
         |        JOIN deg dg ON dg.node = e.t CROSS JOIN bb
         |        GROUP BY dg.node, dg.deg, bb.base)""".stripMargin
    QueryDef(
      "q154_pagerank_copurchase",
      s"""WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |e AS (SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS t
         |      FROM d a JOIN d b ON b.l_orderkey = a.l_orderkey
         |                       AND a.l_partkey <> b.l_partkey),
         |deg AS (SELECT s AS node, COUNT(*) AS deg FROM e GROUP BY 1),
         |nn AS (SELECT COUNT(*) AS n FROM deg),
         |bb AS (SELECT (15 * ($R // n)) // 100 AS base, $R // n AS init FROM nn),
         |pr0 AS (SELECT node, deg, init AS pr FROM deg CROSS JOIN bb),
         |${iterCte("pr1", "pr0")},
         |${iterCte("pr2", "pr1")},
         |${iterCte("pr3", "pr2")}
         |SELECT node AS part_key, deg, CAST(pr AS BIGINT) AS pr_e12
         |FROM pr3 ORDER BY part_key""".stripMargin) { (s, d) =>
      val und = copurchaseEdges(s, d)
      val e = und.select(col("u").as("s"), col("v").as("t"))
        .unionByName(und.select(col("v").as("s"), col("u").as("t")))
      val deg = e.groupBy(col("s").as("node")).agg(count(lit(1)).as("deg"))
      val n = deg.count() // node count: a bounded aggregate scalar (|parts|)
      val init = R.toLong / n
      val base = (15L * init) / 100L
      var pr = deg.withColumn("pr", lit(init))
      for (_ <- 1 to 3) {
        val contrib = e
          .join(pr.select(col("node").as("s"), expr("pr div deg").as("c")), Seq("s"))
          .groupBy(col("t").as("node")).agg(sum(col("c")).as("sc"))
        pr = deg.join(contrib, Seq("node"))
          .select(col("node"), col("deg"),
            (lit(base) + expr("(85 * sc) div 100")).as("pr"))
      }
      pr.select(col("node").as("part_key"), col("deg"), col("pr").as("pr_e12"))
        .orderBy("part_key")
    }
  }

  /** q159: grouped ordinary-least-squares trend — per nation, the slope
    * (cents/day) and intercept of revenue vs order date, from the five
    * classical sufficient statistics (n, Σx, Σy, Σxy, Σx²). The moments
    * are EXACT decimal sums (cents, integer day index), so both engines
    * hold identical rationals; slope/intercept are then the same two
    * trailing IEEE double divisions on both sides (the q140 discipline:
    * exact integers all the way down, floats only at the finish line).
    *
    * Scale posture: one broadcast-dim join chain (q11's shape: customer →
    * nation are the bounded sides) and ONE map-side-combinable aggregate
    * computing all five moments in a single pass over orders — no window,
    * no second scan, per-group state is five numbers. Decimal(38)
    * accumulators give ~1e36 of headroom before any overflow. */
  val q159 = QueryDef(
    "q159_ols_revenue_trend",
    """WITH j AS (
      |  SELECT n.n_name AS nation,
      |    date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)) AS x,
      |    CAST(o.o_totalprice AS DECIMAL(18,2)) AS y
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN nation n ON n.n_nationkey = c.c_nationkey),
      |a AS (
      |  SELECT nation, COUNT(*) AS n,
      |    SUM(CAST(x AS DECIMAL(18,0))) AS sx,
      |    SUM(y) AS sy,
      |    SUM(CAST(x AS DECIMAL(18,0)) * y) AS sxy,
      |    SUM(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0))) AS sxx
      |  FROM j GROUP BY 1)
      |SELECT nation, n,
      |  CAST(n * sxy - sx * sy AS DOUBLE)
      |    / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_per_day,
      |  (CAST(sy AS DOUBLE)
      |     - CAST(n * sxy - sx * sy AS DOUBLE)
      |       / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |    / CAST(n AS DOUBLE) AS intercept
      |FROM a ORDER BY nation""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types.DecimalType
    val dx = col("x").cast(DecimalType(18, 0))
    val j = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("n_nationkey") === col("c_nationkey"))
      .select(col("n_name").as("nation"),
        datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).cast("long").as("x"),
        d2(col("o_totalprice")).as("y"))
    val a = j.groupBy("nation").agg(
      count(lit(1)).as("n"),
      sum(dx).as("sx"),
      sum(col("y")).as("sy"),
      sum(dx * col("y")).as("sxy"),
      sum(dx * dx).as("sxx"))
    a.select(col("nation"), col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("slope_per_day"),
        ((col("sy").cast("double")
          - (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
            * col("sx").cast("double"))
          / col("n").cast("double")).as("intercept"))
      .orderBy("nation")
  }

  /** q160: association rules — q141's co-purchase support completed with
    * the other two classic measures: confidence (P(b|a)) and lift
    * (P(a,b)/(P(a)P(b))), for every pair with support ≥ 3. Both are exact
    * integer ppm — confidence = (nab·10^6) div na, lift = (nab·N·10^6)
    * div (na·nb) — positive int64 operands, where Spark `div` ≡ DuckDB
    * `//` (decimal division is deliberately avoided: Spark rounds decimal
    * quotients to the result scale BEFORE a floor could run, which can
    * disagree with an exact floor at the edge). nab·N·10^6 stays in int64
    * up to ~9e12 basket-pairs; past that both engines fail loudly on
    * overflow rather than silently diverging — recast to DECIMAL(38,0)
    * numerators with an explicit integer quotient if that day comes.
    *
    * Scale posture: q141's shape — per-order pair fan-out bounded by
    * basket size, one map-side-combinable pair rollup — plus a
    * per-item support rollup joined back on each end of the pair (two
    * shuffle equi-joins on item keys; nothing broadcast). */
  val q160 = QueryDef(
    "q160_association_rules",
    """WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |nb AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM d),
      |item AS (SELECT l_partkey, COUNT(*) AS n_item FROM d GROUP BY 1),
      |p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_pair
      |      FROM d a JOIN d b ON b.l_orderkey = a.l_orderkey
      |                       AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2),
      |f AS (SELECT part_a, part_b, n_pair, ia.n_item AS n_a, ib.n_item AS n_b
      |      FROM p JOIN item ia ON ia.l_partkey = p.part_a
      |             JOIN item ib ON ib.l_partkey = p.part_b
      |      WHERE n_pair >= 3)
      |SELECT part_a, part_b, n_pair, n_a, n_b,
      |  CAST((n_pair * 1000000) // n_a AS BIGINT) AS conf_a_to_b_ppm,
      |  CAST((n_pair * 1000000) // n_b AS BIGINT) AS conf_b_to_a_ppm,
      |  CAST((n_pair * nb.n_baskets * 1000000) // (n_a * n_b) AS BIGINT) AS lift_ppm
      |FROM f CROSS JOIN nb
      |ORDER BY part_a, part_b""".stripMargin) { (s, d) =>
    val items = copurchaseItems(s, d)
    val nBaskets = items.agg(countDistinct(col("l_orderkey")).as("n_baskets"))
    val item = items.groupBy("l_partkey").agg(count(lit(1)).as("n_item"))
    val pairs = items.toDF("l_orderkey", "part_a")
      .join(items.toDF("l_orderkey", "part_b"), Seq("l_orderkey"))
      .filter(col("part_a") < col("part_b"))
      .groupBy("part_a", "part_b").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= 3)
    pairs
      .join(item.toDF("part_a", "n_a"), Seq("part_a"))
      .join(item.toDF("part_b", "n_b"), Seq("part_b"))
      .crossJoin(broadcast(nBaskets))
      .select(col("part_a"), col("part_b"), col("n_pair"), col("n_a"), col("n_b"),
        expr("(n_pair * 1000000) div n_a").as("conf_a_to_b_ppm"),
        expr("(n_pair * 1000000) div n_b").as("conf_b_to_a_ppm"),
        expr("(n_pair * n_baskets * 1000000) div (n_a * n_b)").as("lift_ppm"))
      .orderBy("part_a", "part_b")
  }

  /** q161: triangle census of the co-purchase graph — triangle count and
    * the global clustering coefficient ((3·triangles)/wedges, exact ppm).
    * The density diagnostic behind "are baskets cliquey or hub-and-spoke?".
    *
    * Scale posture: the degree-ordered orientation trick — every
    * undirected edge points from its (degree, id)-smaller endpoint to the
    * larger, so per-node out-degree is O(√E) and the wedge join
    * (self-join of the oriented list on its source) generates O(E^1.5)
    * candidates TOTAL regardless of hub skew; a plain neighbor self-join
    * would be Σ deg² and explode on the hottest part. Closure check is
    * one shuffle equi-join of wedges against the canonical (min, max)
    * edge key; every aggregate is single-row. Counting each triangle
    * exactly once is the orientation's gift: its 3 edges form exactly one
    * directed wedge at the (degree, id)-minimum vertex. */
  val q161 = QueryDef(
    "q161_triangle_census",
    """WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |       FROM d a JOIN d b ON b.l_orderkey = a.l_orderkey
      |                        AND a.l_partkey < b.l_partkey),
      |deg AS (SELECT node, COUNT(*) AS dg FROM (
      |          SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
      |        GROUP BY 1),
      |o AS (SELECT CASE WHEN (du.dg, e0.u) < (dv.dg, e0.v) THEN e0.u ELSE e0.v END AS s,
      |             CASE WHEN (du.dg, e0.u) < (dv.dg, e0.v) THEN e0.v ELSE e0.u END AS t
      |      FROM e0 JOIN deg du ON du.node = e0.u JOIN deg dv ON dv.node = e0.v),
      |w AS (SELECT o1.t AS b, o2.t AS c
      |      FROM o o1 JOIN o o2 ON o2.s = o1.s AND o1.t < o2.t),
      |tri AS (SELECT COUNT(*) AS n_tri FROM w
      |        JOIN e0 ON e0.u = least(w.b, w.c) AND e0.v = greatest(w.b, w.c)),
      |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
      |               CAST(SUM(dg * (dg - 1) // 2) AS BIGINT) AS n_wedges
      |        FROM deg),
      |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e0)
      |SELECT agg.n_nodes, ne.n_edges, agg.n_wedges, tri.n_tri AS n_triangles,
      |  CAST((3 * tri.n_tri * 1000000) // greatest(agg.n_wedges, 1) AS BIGINT)
      |    AS clustering_ppm
      |FROM agg CROSS JOIN ne CROSS JOIN tri""".stripMargin) { (s, d) =>
    val e0 = copurchaseEdges(s, d) // memo-materialized: orientation, closure, count
    val deg = e0.select(col("u").as("node"))
      .unionByName(e0.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("dg"))
    val o = e0
      .join(deg.toDF("u", "dgu"), Seq("u")).join(deg.toDF("v", "dgv"), Seq("v"))
      .select(
        when(struct(col("dgu"), col("u")) < struct(col("dgv"), col("v")),
          col("u")).otherwise(col("v")).as("s"),
        when(struct(col("dgu"), col("u")) < struct(col("dgv"), col("v")),
          col("v")).otherwise(col("u")).as("t"))
    val w = o.toDF("s", "b").join(o.toDF("s", "c"), Seq("s"))
      .filter(col("b") < col("c"))
      .select(least(col("b"), col("c")).as("u"), greatest(col("b"), col("c")).as("v"))
    val tri = w.join(e0, Seq("u", "v")).agg(count(lit(1)).as("n_triangles"))
    val agg = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("dg * (dg - 1) div 2")).as("n_wedges"))
    val ne = e0.agg(count(lit(1)).as("n_edges"))
    agg.crossJoin(ne).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        expr("(3 * n_triangles * 1000000) div greatest(n_wedges, 1)")
          .as("clustering_ppm"))
  }

  /** q162: WEIGHTED quantiles (p25/p50/p75 of line price, weighted by
    * quantity) at whole-dollar granularity — "the price point below which
    * half the UNITS sell", which q68's row-weighted percentile cannot
    * answer. Exact by construction: quantities become integer
    * centi-units, the quantile conditions are integer cross-
    * multiplications (4·cum ≥ q·T), and the dollar grid makes the answer
    * discrete — no interpolation, no floats anywhere.
    *
    * Scale posture: the q128 histogram contract — the fact table
    * collapses to a (flag, dollar) frame in ONE map-side-combinable
    * aggregate; windows run over that bounded histogram (price range in
    * dollars × 3 flags), never over lineitem; the final pick is a
    * conditional MIN per flag. */
  val q162 = QueryDef(
    "q162_weighted_quantiles",
    """WITH h AS (
      |  SELECT l_returnflag AS flag,
      |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100
      |           AS dollar,
      |         CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))
      |           AS BIGINT) AS w
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (
      |  SELECT flag, dollar, w,
      |    SUM(w) OVER (PARTITION BY flag ORDER BY dollar
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(w) OVER (PARTITION BY flag) AS t
      |  FROM h)
      |SELECT flag,
      |  CAST(MIN(CASE WHEN 4 * cum >= t THEN dollar END) AS BIGINT) AS p25_dollar,
      |  CAST(MIN(CASE WHEN 2 * cum >= t THEN dollar END) AS BIGINT) AS p50_dollar,
      |  CAST(MIN(CASE WHEN 4 * cum >= 3 * t THEN dollar END) AS BIGINT) AS p75_dollar,
      |  CAST(MAX(t) AS BIGINT) AS total_weight_c
      |FROM c GROUP BY flag ORDER BY flag""".stripMargin) { (s, d) =>
    val h = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag").as("flag"),
        expr("cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint) div 100")
          .as("dollar"))
      .agg(sum(expr("cast(cast(l_quantity as decimal(18,2)) * 100 as bigint)")).as("w"))
    val win = Window.partitionBy("flag").orderBy("dollar")
      .rowsBetween(Window.unboundedPreceding, 0)
    val c = h
      .withColumn("cum", sum(col("w")).over(win))
      .withColumn("t", sum(col("w")).over(Window.partitionBy("flag")))
    c.groupBy("flag").agg(
        min(when(expr("4 * cum >= t"), col("dollar"))).as("p25_dollar"),
        min(when(expr("2 * cum >= t"), col("dollar"))).as("p50_dollar"),
        min(when(expr("4 * cum >= 3 * t"), col("dollar"))).as("p75_dollar"),
        max(col("t")).as("total_weight_c"))
      .orderBy("flag")
  }

  /** q164: k-core peeling (4 fixed rounds) over the co-purchase graph —
    * iteratively drop nodes with fewer than k surviving neighbors; what
    * remains is the graph's dense backbone (the community-detection
    * preprocessing step). k = ⌊0.7 · mean degree⌋, derived from the
    * data, so the peel genuinely bites at every scale (a constant k is
    * either vacuous or total on graphs whose density shifts; this
    * graph's core collapses entirely above ~0.74·mean — the random-graph
    * core-collapse cliff). Six fixed rounds keep both engines on the
    * same deterministic prefix of the fixpoint; the emitted `converged`
    * flag states whether the last round changed anything, so a
    * premature cut can never pass silently as the fixpoint.
    *
    * Scale posture: each round is two semi-joins (edge endpoints against
    * the survivor set) plus one map-side-combinable degree count — the
    * same per-round shuffle shape as q154, constant rounds, node/edge
    * frames only, nothing broadcast. */
  val q164 = {
    // MATERIALIZED: each round reads the previous survivor set twice, so
    // an inlined CTE chain grows 2^rounds-fold in DuckDB (6.5 GB resident
    // and 190 s for this oracle alone at sf0.01, against 0.2 GB and 1 s)
    def roundCtes(i: Int): String = {
      val prev = if (i == 1) "n0" else s"s${i - 1}"
      s"""d$i AS MATERIALIZED (SELECT ed.s AS node, COUNT(*) AS c FROM ed
         |        WHERE ed.s IN (SELECT node FROM $prev)
         |          AND ed.t IN (SELECT node FROM $prev)
         |        GROUP BY 1),
         |s$i AS MATERIALIZED (SELECT node, c FROM d$i WHERE c >= (SELECT k FROM kk))""".stripMargin
    }
    QueryDef(
      "q164_kcore_backbone",
      s"""WITH dd AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |e0 AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
         |       FROM dd a JOIN dd b ON b.l_orderkey = a.l_orderkey
         |                          AND a.l_partkey < b.l_partkey),
         |ed AS MATERIALIZED (SELECT u AS s, v AS t FROM e0 UNION ALL SELECT v, u FROM e0),
         |n0 AS MATERIALIZED (SELECT DISTINCT s AS node FROM ed),
         |kk AS MATERIALIZED (SELECT (7 * ((SELECT COUNT(*) FROM ed) // (SELECT COUNT(*) FROM n0))) // 10 AS k),
         |${roundCtes(1)},
         |${roundCtes(2)},
         |${roundCtes(3)},
         |${roundCtes(4)},
         |${roundCtes(5)},
         |${roundCtes(6)}
         |SELECT s6.node AS part_key, CAST(s6.c AS BIGINT) AS core_deg,
         |  (SELECT COUNT(*) FROM s6) = (SELECT COUNT(*) FROM s5) AS converged
         |FROM s6 ORDER BY part_key""".stripMargin) { (s, d) =>
      val e0 = copurchaseEdges(s, d)
      // feeds every peel round
      val ed = Dedup.pin(e0.select(col("u").as("s"), col("v").as("t"))
        .unionByName(e0.select(col("v").as("s"), col("u").as("t"))))
      var survivors = ed.select(col("s").as("node")).distinct()
      // k = floor(0.7 * mean degree): two bounded aggregate scalars
      val k = 7L * (ed.count() / survivors.count()) / 10L
      var prevCount = -1L
      var lastCount = -1L
      var withDeg: org.apache.spark.sql.DataFrame = null
      for (_ <- 1 to 6) {
        val alive = ed
          .join(survivors.toDF("s"), Seq("s"), "left_semi")
          .join(survivors.toDF("t"), Seq("t"), "left_semi")
        // consumed twice: next round's two semi-joins
        withDeg = Dedup.pin(alive.groupBy(col("s").as("node")).agg(count(lit(1)).as("c"))
          .filter(col("c") >= k))
        survivors = withDeg.select("node")
        prevCount = lastCount
        lastCount = withDeg.count() // bounded scalar: surviving node count
      }
      withDeg
        .select(col("node").as("part_key"), col("c").as("core_deg"),
          lit(lastCount == prevCount).as("converged"))
        .orderBy("part_key")
    }
  }

  /** q166: functional-dependency audit — does column A determine column
    * B? The schema-discovery / data-contract primitive q144's profiler
    * doesn't cover: per candidate FD, the distinct LHS count, distinct
    * (LHS, RHS) pair count, and how many LHS values map to MORE than one
    * RHS (the violators). Five candidates across four tables, two of
    * which are expected to fail — an audit that can only pass is not an
    * audit.
    *
    * Scale posture: each FD is one DISTINCT-pair hash aggregate (map-side
    * combined on the pair key) followed by a per-LHS count — the same
    * two-aggregate shape as q46's exact dedup; the five candidates union
    * into one long-format frame. Nothing is broadcast, no windows. */
  val q166 = {
    val fds = Seq( // (name, table, lhs, rhs)
      ("customer.key->nation", "customer", "c_custkey", "c_nationkey"),
      ("documents.id->lang", "documents", "doc_id", "lang"),
      ("lineitem.order->supp", "lineitem", "l_orderkey", "l_suppkey"),
      ("nation.key->region", "nation", "n_nationkey", "n_regionkey"),
      ("orders.cust->status", "orders", "o_custkey", "o_orderstatus"))
    val sql = fds.map { case (name, t, a, b) =>
      s"""SELECT '$name' AS fd,
         |  CAST(COUNT(*) AS BIGINT) AS n_lhs,
         |  CAST(SUM(c) AS BIGINT) AS n_pairs,
         |  CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_lhs,
         |  SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) = 0 AS holds
         |FROM (SELECT a, COUNT(*) AS c
         |      FROM (SELECT DISTINCT $a AS a, $b AS b FROM $t) GROUP BY a)""".stripMargin
    }.mkString("\nUNION ALL\n")
    QueryDef("q166_fd_audit", sql + "\nORDER BY fd") { (s, d) =>
      fds.map { case (name, t, a, b) =>
        val g = Tables.load(s, d, t)
          .select(col(a).as("a"), col(b).as("b")).distinct()
          .groupBy("a").agg(count(lit(1)).as("c"))
        g.agg(
          count(lit(1)).as("n_lhs"),
          sum(col("c")).as("n_pairs"),
          sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_violating_lhs"))
          .select(lit(name).as("fd"), col("n_lhs"), col("n_pairs"),
            col("n_violating_lhs"), (col("n_violating_lhs") === 0).as("holds"))
      }.reduce(_ unionByName _).orderBy("fd")
    }
  }

  /** q178: join-key skew report — for each candidate join/aggregation
    * key, the group-size distribution (max, p50, p99) and the max/avg
    * skew factor in exact ppm. This is the "should I salt this join?"
    * advisor (q58/q95 are the salting mechanisms; this is the diagnostic
    * that tells you WHEN): a skew_ppm in the millions means one task
    * will eat the partition at 100 TB.
    *
    * Scale posture: per key, ONE map-side-combinable count aggregate
    * (the group-size frame is key-cardinality, not row-cardinality);
    * the percentile pass runs over that frame; three keys union into a
    * long-format report. */
  val q178 = {
    val keys = Seq( // (label, table, key)
      ("events.user_id", "events", "user_id"),
      ("lineitem.l_partkey", "lineitem", "l_partkey"),
      ("orders.o_custkey", "orders", "o_custkey"))
    val sql = keys.map { case (label, t, k) =>
      s"""SELECT '$label' AS key_name,
         |  CAST(COUNT(*) AS BIGINT) AS n_keys,
         |  CAST(SUM(c) AS BIGINT) AS n_rows,
         |  CAST(MAX(c) AS BIGINT) AS max_group,
         |  quantile_cont(c, 0.5) AS p50_group,
         |  quantile_cont(c, 0.99) AS p99_group,
         |  CAST((MAX(c) * COUNT(*) * 1000000) // SUM(c) AS BIGINT) AS skew_ppm
         |FROM (SELECT COUNT(*) AS c FROM $t GROUP BY $k)""".stripMargin
    }.mkString("\nUNION ALL\n")
    QueryDef("q178_skew_report", sql + "\nORDER BY key_name") { (s, d) =>
      keys.map { case (label, t, k) =>
        val g = Tables.load(s, d, t).groupBy(k).agg(count(lit(1)).as("c"))
        g.agg(
          count(lit(1)).as("n_keys"),
          sum(col("c")).as("n_rows"),
          max(col("c")).as("max_group"),
          expr("percentile(c, 0.5)").as("p50_group"),
          expr("percentile(c, 0.99)").as("p99_group"))
          .select(lit(label).as("key_name"), col("n_keys"), col("n_rows"),
            col("max_group"), col("p50_group"), col("p99_group"),
            expr("(max_group * n_keys * 1000000) div n_rows").as("skew_ppm"))
      }.reduce(_ unionByName _).orderBy("key_name")
    }
  }

  /** q180: Pareto concentration — how many customers carry 80% of
    * revenue, and what share the top decile takes. q140's Gini gives the
    * single-number inequality; this gives the operational cut ("talk to
    * these N accounts"). Exact integer cents throughout; the 80% line is
    * the cross-multiplication 5·cum ≥ 4·total, never a float percent.
    *
    * Scale posture: the fact collapses to the customer revenue rollup
    * (one map-side aggregate); the ranked cumulative runs over that
    * bounded rollup (the q140 window contract); output is one row. */
  val q180 = QueryDef(
    "q180_pareto_concentration",
    """WITH rev AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |r AS (SELECT o_custkey, cents,
      |        SUM(cents) OVER (ORDER BY cents DESC, o_custkey
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |        ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey) AS rk
      |      FROM rev),
      |t AS (SELECT CAST(SUM(cents) AS BIGINT) AS total, COUNT(*) AS n FROM rev)
      |SELECT t.n AS n_customers, t.total AS total_cents,
      |  CAST(MIN(CASE WHEN 5 * r.cum >= 4 * t.total THEN r.rk END) AS BIGINT)
      |    AS n_for_80pct,
      |  CAST(MIN(CASE WHEN 5 * r.cum >= 4 * t.total THEN r.rk END) * 1000000 // t.n
      |    AS BIGINT) AS share_for_80pct_ppm,
      |  CAST((SUM(CASE WHEN r.rk <= t.n // 10 THEN r.cents ELSE 0 END) * 1000000)
      |    // t.total AS BIGINT) AS top_decile_share_ppm
      |FROM r CROSS JOIN t GROUP BY t.n, t.total""".stripMargin) { (s, d) =>
    val rev = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"))
        .as("cents"))
    val wCum = Window.orderBy(col("cents").desc, col("o_custkey"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wRk = Window.orderBy(col("cents").desc, col("o_custkey"))
    val r = rev
      .withColumn("cum", sum(col("cents")).over(wCum))
      .withColumn("rk", row_number().over(wRk).cast("long"))
    val t = rev.agg(sum(col("cents")).as("total"), count(lit(1)).as("n"))
    r.crossJoin(broadcast(t))
      .groupBy("n", "total")
      .agg(
        min(when(expr("5 * cum >= 4 * total"), col("rk"))).as("n_for_80pct"),
        sum(when(expr("rk <= n div 10"), col("cents")).otherwise(0L)).as("top_cents"))
      .select(col("n").as("n_customers"), col("total").as("total_cents"),
        col("n_for_80pct"),
        expr("n_for_80pct * 1000000 div n").as("share_for_80pct_ppm"),
        expr("(top_cents * 1000000) div total").as("top_decile_share_ppm"))
  }

  /** q182: single-source supply risk — parts whose entire order volume
    * flows through ONE supplier, and the share of total spend exposed to
    * them. The supply-chain audit every procurement review starts with;
    * the one-row rollup is the dashboard number, the exposure share is
    * exact integer ppm on cents.
    *
    * Scale posture: one map-side-combinable aggregate over lineitem
    * keyed by part (distinct-supplier count + spend per part), then a
    * single-row conditional rollup — no joins, no windows. */
  val q182 = QueryDef(
    "q182_single_source_risk",
    """WITH sp AS (
      |  SELECT l_partkey,
      |    COUNT(DISTINCT l_suppkey) AS n_suppliers,
      |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS spend_c
      |  FROM lineitem GROUP BY 1)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
      |  CAST(SUM(CASE WHEN n_suppliers = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_single_source,
      |  CAST(SUM(spend_c) AS BIGINT) AS total_spend_c,
      |  CAST(SUM(CASE WHEN n_suppliers = 1 THEN spend_c ELSE 0 END) AS BIGINT)
      |    AS spend_at_risk_c,
      |  CAST((SUM(CASE WHEN n_suppliers = 1 THEN spend_c ELSE 0 END) * 1000000)
      |    // greatest(SUM(spend_c), 1) AS BIGINT) AS risk_share_ppm
      |FROM sp""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_partkey")
      .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
        sum(expr("cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)"))
          .as("spend_c"))
      .agg(count(lit(1)).as("n_parts"),
        sum(when(col("n_suppliers") === 1, 1L).otherwise(0L)).as("n_single_source"),
        sum(col("spend_c")).as("total_spend_c"),
        sum(when(col("n_suppliers") === 1, col("spend_c")).otherwise(0L))
          .as("spend_at_risk_c"))
      .select(col("n_parts"), col("n_single_source"), col("total_spend_c"),
        col("spend_at_risk_c"),
        expr("(spend_at_risk_c * 1000000) div greatest(total_spend_c, 1)")
          .as("risk_share_ppm"))
  }

  val all: Seq[QueryDef] = Seq(q66, q67, q68, q77, q78, q83, q85, q86, q100, q106, q108,
    q123, q127, q128, q129, q133, q134, q140, q141, q143, q144, q146, q154, q159, q160,
    q161, q162, q164, q166, q178, q180, q182)
}
