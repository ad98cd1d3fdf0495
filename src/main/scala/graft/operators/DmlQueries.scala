package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Tables}
import graft.functions.Dec._

/** The reference's mutation operators (SURVEY.md §2.9 D1-D6) expressed as
  * pure dataframe transforms, gate-checked against SQL oracles. The
  * engine-side stateful realization (atomic table rewrite, FK cascade)
  * lives in [[graft.sources.TableStore]]; these queries pin the exact
  * row-level semantics the store must produce.
  *
  * Scale: updates/deletes are `when/otherwise` rewrites; the engine-side
  * partition-pruned realization (rewrite ONLY the partitions the predicate
  * touches, reuse every other partition's files across versions) is
  * [[graft.sources.TableStore.updateWherePruned]] /
  * [[graft.sources.TableStore.deleteWherePruned]], spec-proven in
  * TableStoreSpec. Never row-at-a-time.
  */
object DmlQueries {

  /** §2.9 D1 — `UPDATE … SET … WHERE` as when/otherwise column rewrite
    * (reference All-Tasks-of-SQL.sql:51-53 repairs ages; 110-112 stock). */
  val q32 = QueryDef(
    "q32_update_where",
    """SELECT o_orderkey,
      |  CASE WHEN o_totalprice < 2000 THEN 'REPAIRED' ELSE o_orderpriority END AS o_orderpriority,
      |  CAST(CASE WHEN o_totalprice < 2000 THEN 2000.00
      |            ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS DOUBLE) AS o_totalprice
      |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        when(col("o_totalprice") < 2000, "REPAIRED").otherwise(col("o_orderpriority")).as("o_orderpriority"),
        when(col("o_totalprice") < 2000, lit(BigDecimal("2000.00")))
          .otherwise(d2(col("o_totalprice"))).cast(Money).cast("double").as("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** §2.9 D2 / §2.3 J9 — `UPDATE … FROM` join-update (reference
    * All-Tasks-of-SQL.sql:366-372 backfill from dims): orders take their
    * customer's market segment as priority when the customer is in debt.
    * Broadcast the small update source; fact table never shuffles. */
  val q33 = QueryDef(
    "q33_update_from_join",
    """SELECT o_orderkey,
      |  CASE WHEN c.c_acctbal < 0 THEN c.c_mktsegment ELSE o.o_orderpriority END AS o_orderpriority
      |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val updates = Tables.customer(s, d)
      .select(col("c_custkey").as("o_custkey"), col("c_acctbal"), col("c_mktsegment"))
    Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_orderpriority")
      .join(broadcast(updates), Seq("o_custkey"), "left")
      .select(col("o_orderkey"),
        when(col("c_acctbal") < 0, col("c_mktsegment")).otherwise(col("o_orderpriority")).as("o_orderpriority"))
      .orderBy("o_orderkey")
  }

  /** §2.9 D3 + §2.8 C2 — DELETE with FK cascade (reference
    * All-Tasks-of-SQL.sql:123-124 delete supplier relying on ON DELETE;
    * orders CASCADE from customers TC:53): deleting in-debt customers
    * cascades to their orders and those orders' lineitems. Dashboard of
    * surviving counts proves the propagation. */
  val q34 = QueryDef(
    "q34_delete_cascade",
    """WITH doomed AS (SELECT c_custkey FROM customer WHERE c_acctbal < -900)
      |SELECT
      |  (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM doomed)) AS customers_left,
      |  (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM doomed)) AS orders_left,
      |  (SELECT COUNT(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |     WHERE o.o_custkey NOT IN (SELECT c_custkey FROM doomed)) AS lineitems_left""".stripMargin) { (s, d) =>
    val doomed = Tables.customer(s, d).filter(col("c_acctbal") < -900)
      .select(col("c_custkey"))
    val customersLeft = Tables.customer(s, d)
      .join(doomed, Seq("c_custkey"), "left_anti").agg(count(lit(1)).as("customers_left"))
    val survivingOrders = Tables.orders(s, d)
      .join(broadcast(doomed.withColumnRenamed("c_custkey", "o_custkey")), Seq("o_custkey"), "left_anti")
    val ordersLeft = survivingOrders.agg(count(lit(1)).as("orders_left"))
    val lineitemsLeft = Tables.lineitem(s, d).select(col("l_orderkey").as("o_orderkey"))
      .join(survivingOrders.select("o_orderkey"), Seq("o_orderkey"), "left_semi")
      .agg(count(lit(1)).as("lineitems_left"))
    customersLeft.crossJoin(ordersLeft).crossJoin(lineitemsLeft)
  }

  /** §2.1 S5-S7 / §2.9 D5 — INSERT … SELECT with ON CONFLICT DO NOTHING as
    * anti-join + union (reference TablesCreated-Imported.sql:119, 150…).
    * Half the incoming batch collides with existing PKs and is dropped. */
  val q35 = QueryDef(
    "q35_insert_on_conflict",
    """WITH incoming AS (
      |  SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 2 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 10000000 AS k FROM orders WHERE o_orderkey % 2 = 1),
      |merged AS (
      |  SELECT o_orderkey AS k FROM orders
      |  UNION ALL
      |  SELECT k FROM incoming WHERE k NOT IN (SELECT o_orderkey FROM orders))
      |SELECT COUNT(*) AS n_after, CAST(SUM(k) AS BIGINT) AS key_sum FROM merged""".stripMargin) { (s, d) =>
    val existing = Tables.orders(s, d).select(col("o_orderkey").as("k"))
    val incoming = existing.filter(col("k") % 2 === 0)
      .unionByName(existing.filter(col("k") % 2 === 1).select((col("k") + 10000000L).as("k")))
    val inserted = incoming.join(existing, Seq("k"), "left_anti")
    existing.unionByName(inserted)
      .agg(count(lit(1)).as("n_after"), sum(col("k")).as("key_sum"))
  }

  /** §2.9 D4 / §2.5 W1 — dedupe-delete: synthesize duplicate PKs, then the
    * reference's ROW_NUMBER-keep-first delete (All-Tasks-of-SQL.sql:68-77). */
  val q36 = QueryDef(
    "q36_dedupe_delete",
    """WITH dup AS (
      |  SELECT o_orderkey, o_totalprice, 0 AS src FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, o_totalprice + 1, 1 AS src FROM orders WHERE o_orderkey % 10 = 3),
      |ranked AS (
      |  SELECT o_orderkey, o_totalprice,
      |         ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY src) AS rn
      |  FROM dup)
      |SELECT COUNT(*) AS n_rows,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
      |FROM ranked WHERE rn = 1""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
    val dup = o.withColumn("src", lit(0))
      .unionByName(o.filter(col("o_orderkey") % 10 === 3)
        .select(col("o_orderkey"), (col("o_totalprice") + 1).as("o_totalprice"))
        .withColumn("src", lit(1)))
    val w = Window.partitionBy("o_orderkey").orderBy("src")
    dup.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .agg(count(lit(1)).as("n_rows"), out(sum(d2(col("o_totalprice")))).as("price_sum"))
  }

  /** §2.9 D5+ — INSERT … ON CONFLICT DO UPDATE (upsert / MERGE). Unlike
    * q32-q36 this gate drives the REAL engine path: it loads orders into a
    * [[graft.sources.TableStore]], upserts a batch (price bump + priority
    * stamp on every 7th key, brand-new rows for every 13th), and emits the
    * store's final contents — so the oracle checks the store's merge
    * semantics end to end, not just a relational restatement. */
  val q87 = QueryDef(
    "q87_upsert",
    """WITH base AS (
      |  SELECT o_orderkey, o_orderpriority,
      |         CAST(o_totalprice AS DECIMAL(18,2)) AS price
      |  FROM orders),
      |batch AS (
      |  SELECT o_orderkey, 'UPSERTED' AS o_orderpriority,
      |         CAST(price + 100 AS DECIMAL(18,2)) AS price
      |  FROM base WHERE o_orderkey % 7 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 20000000, 'NEWROW', price
      |  FROM base WHERE o_orderkey % 13 = 0),
      |merged AS (
      |  SELECT b.o_orderkey,
      |         CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderpriority
      |              ELSE b.o_orderpriority END AS o_orderpriority,
      |         CASE WHEN u.o_orderkey IS NOT NULL THEN u.price ELSE b.price END AS price
      |  FROM base b LEFT JOIN batch u ON b.o_orderkey = u.o_orderkey
      |  UNION ALL
      |  SELECT o_orderkey, o_orderpriority, price FROM batch
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM base))
      |SELECT o_orderkey, o_orderpriority, CAST(price AS DOUBLE) AS o_totalprice
      |FROM merged ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    Epochs.scratchStore(s, "graft-upsert") { st =>
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          d2(col("o_totalprice")).as("o_totalprice"))
      st.create("orders_t", base,
        Seq(graft.constraints.Constraints.PrimaryKey(Seq("o_orderkey"))))
      val batch = base.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), lit("UPSERTED").as("o_orderpriority"),
          (col("o_totalprice") + 100).cast(Money).as("o_totalprice"))
        .unionByName(base.filter(col("o_orderkey") % 13 === 0)
          .select((col("o_orderkey") + 20000000L).as("o_orderkey"),
            lit("NEWROW").as("o_orderpriority"), col("o_totalprice")))
      st.upsert("orders_t", batch)
      st.table("orders_t")
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy("o_orderkey")
    }
  }

  /** §2.9 D5++ — the FULL 3-clause MERGE (q87 covers the 2-clause upsert):
    * WHEN MATCHED AND src says KILL → DELETE; WHEN MATCHED → UPDATE from
    * source; WHEN NOT MATCHED → INSERT. Drives the real
    * [[graft.sources.TableStore.mergeInto]] engine path end to end — the
    * oracle restates clause precedence relationally (a KILL row must be
    * deleted, never updated). */
  val q116 = QueryDef(
    "q116_merge_full",
    """WITH base AS (
      |  SELECT o_orderkey, o_orderpriority,
      |         CAST(o_totalprice AS DECIMAL(18,2)) AS price
      |  FROM orders),
      |batch AS (
      |  SELECT o_orderkey, 'KILL' AS o_orderpriority, price
      |  FROM base WHERE o_orderkey % 11 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 'MERGED', CAST(price + 50 AS DECIMAL(18,2))
      |  FROM base WHERE o_orderkey % 5 = 0 AND o_orderkey % 11 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 30000000, 'NEWROW', price
      |  FROM base WHERE o_orderkey % 13 = 0),
      |merged AS (
      |  SELECT b.o_orderkey,
      |         CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderpriority
      |              ELSE b.o_orderpriority END AS o_orderpriority,
      |         CASE WHEN u.o_orderkey IS NOT NULL THEN u.price ELSE b.price END AS price
      |  FROM base b LEFT JOIN batch u ON b.o_orderkey = u.o_orderkey
      |  WHERE u.o_orderpriority IS NULL OR u.o_orderpriority <> 'KILL'
      |  UNION ALL
      |  SELECT o_orderkey, o_orderpriority, price FROM batch
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM base))
      |SELECT o_orderkey, o_orderpriority, CAST(price AS DOUBLE) AS o_totalprice
      |FROM merged ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    import graft.sources.TableStore
    Epochs.scratchStore(s, "graft-merge") { st =>
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          d2(col("o_totalprice")).as("o_totalprice"))
      st.create("orders_t", base,
        Seq(graft.constraints.Constraints.PrimaryKey(Seq("o_orderkey"))))
      val source = base.filter(col("o_orderkey") % 11 === 0)
        .select(col("o_orderkey"), lit("KILL").as("o_orderpriority"), col("o_totalprice"))
        .unionByName(base.filter(col("o_orderkey") % 5 === 0 && col("o_orderkey") % 11 =!= 0)
          .select(col("o_orderkey"), lit("MERGED").as("o_orderpriority"),
            (col("o_totalprice") + 50).cast(Money).as("o_totalprice")))
        .unionByName(base.filter(col("o_orderkey") % 13 === 0)
          .select((col("o_orderkey") + 30000000L).as("o_orderkey"),
            lit("NEWROW").as("o_orderpriority"), col("o_totalprice")))
      st.mergeInto("orders_t", source, Seq("o_orderkey"),
        matchedUpdate = Map(
          "o_orderpriority" -> TableStore.src("o_orderpriority"),
          "o_totalprice" -> TableStore.src("o_totalprice")),
        matchedDelete = Some(TableStore.src("o_orderpriority") === "KILL"),
        insertUnmatched = true)
      st.table("orders_t")
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy("o_orderkey")
    }
  }

  /** §2.9 D6+ / CDC — snapshot diff through TIME TRAVEL: load orders,
    * run one 3-clause MERGE (deletes every 13th key, updates every
    * remaining 7th, inserts a shifted row per 11th), then ask the store
    * what changed between the two versions via
    * [[graft.sources.TableStore.snapshotDiff]]. The oracle restates the
    * expected change feed relationally — added/removed/changed rows with
    * old/new values, nothing for untouched keys. */
  val q124 = QueryDef(
    "q124_version_diff",
    """WITH base AS (
      |  SELECT o_orderkey, o_orderpriority,
      |         CAST(o_totalprice AS DECIMAL(18,2)) AS p
      |  FROM orders)
      |SELECT o_orderkey, 'removed' AS change,
      |       o_orderpriority AS old_priority, CAST(NULL AS VARCHAR) AS new_priority,
      |       CAST(p AS DOUBLE) AS old_price, CAST(NULL AS DOUBLE) AS new_price
      |FROM base WHERE o_orderkey % 13 = 0
      |UNION ALL
      |SELECT o_orderkey, 'changed',
      |       o_orderpriority, 'CHANGED',
      |       CAST(p AS DOUBLE), CAST(p + 100 AS DOUBLE)
      |FROM base WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 <> 0
      |UNION ALL
      |SELECT o_orderkey + 30000000, 'added',
      |       CAST(NULL AS VARCHAR), 'NEW',
      |       CAST(NULL AS DOUBLE), CAST(p AS DOUBLE)
      |FROM base WHERE o_orderkey % 11 = 0
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    import graft.sources.TableStore
    Epochs.scratchStore(s, "graft-diff") { st =>
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          d2(col("o_totalprice")).as("o_totalprice"))
      st.create("t", base,
        Seq(graft.constraints.Constraints.PrimaryKey(Seq("o_orderkey"))))
      val v0 = st.liveVersions("t").max
      val source = base.filter(col("o_orderkey") % 7 === 0 || col("o_orderkey") % 13 === 0)
        .select(col("o_orderkey"), lit("CHANGED").as("o_orderpriority"),
          (col("o_totalprice") + 100).cast(Money).as("o_totalprice"))
        .unionByName(base.filter(col("o_orderkey") % 11 === 0)
          .select((col("o_orderkey") + 30000000L).as("o_orderkey"),
            lit("NEW").as("o_orderpriority"), col("o_totalprice")))
      st.mergeInto("t", source, Seq("o_orderkey"),
        matchedUpdate = Map(
          "o_orderpriority" -> TableStore.src("o_orderpriority"),
          "o_totalprice" -> TableStore.src("o_totalprice")),
        matchedDelete = Some(col("o_orderkey") % 13 === 0))
      val v1 = st.liveVersions("t").max
      st.snapshotDiff("t", v0, v1)
        .select(col("o_orderkey"), col("change"),
          col("old_o_orderpriority").as("old_priority"),
          col("new_o_orderpriority").as("new_priority"),
          col("old_o_totalprice").cast("double").as("old_price"),
          col("new_o_totalprice").cast("double").as("new_price"))
        .orderBy("o_orderkey")
    }
  }

  /** q102: incremental materialized-view maintenance — the upsert (q87)
    * put to its real 100 TB use. A per-lang (n_docs, n_tokens) aggregate
    * is built once from the base corpus slice and stored with `lang` as
    * primary key; a new batch then refreshes it by aggregating ONLY the
    * batch, merging the tiny delta into the tiny current MV with a FULL
    * OUTER join (a lang can exist on either side only), and upserting the
    * merged rows back. The corpus is never rescanned on refresh — refresh
    * cost is O(batch) + O(|MV|), which is what makes a materialized
    * aggregate worth storing at scale. The oracle recomputes the aggregate
    * over the whole corpus in one pass: incremental ≡ full recompute.
    * Counts sum exact BIGINTs, so merge order cannot perturb values. */
  val q102 = QueryDef(
    "q102_incremental_mv",
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT) AS n_tokens
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    import graft.functions.TextFunctions.tokens
    Epochs.scratchStore(s, "graft-mv") { st =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("ntok"))
      def agg(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("lang").agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"))
      st.create("mv", agg(docs.filter(col("doc_id") % 10 =!= 0)),
        Seq(graft.constraints.Constraints.PrimaryKey(Seq("lang"))))
      val delta = agg(docs.filter(col("doc_id") % 10 === 0))
        .select(col("lang"), col("n_docs").as("d_docs"), col("n_tokens").as("d_toks"))
      val merged = st.table("mv")
        .join(delta, Seq("lang"), "full_outer")
        .select(col("lang"),
          (coalesce(col("n_docs"), lit(0L)) + coalesce(col("d_docs"), lit(0L))).as("n_docs"),
          (coalesce(col("n_tokens"), lit(0L)) + coalesce(col("d_toks"), lit(0L))).as("n_tokens"))
      st.upsert("mv", merged)
      st.table("mv").orderBy("lang")
    }
  }

  /** q104: schema evolution exercised END TO END through the store — not
    * just spec-tested. Documents land in a table, a `tier` column is added
    * METADATA-ONLY (no data rewrite — SchemaEvolutionSpec proves the file
    * set is untouched), long documents are then tiered by UPDATE (which
    * physically materializes the column for its rewrite), and the final
    * table must equal the oracle's plain CASE projection. Covers the
    * add-default read path AND the materialize-on-write path in one gate. */
  val q104 = QueryDef(
    "q104_schema_evolution",
    """SELECT doc_id,
      |  CASE WHEN len(string_split(trim(text), ' ')) > 120 THEN 'long'
      |       ELSE 'unrated' END AS tier
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    import graft.functions.TextFunctions.tokens
    Epochs.scratchStore(s, "graft-evolve-q") { st =>
      st.create("docs", Tables.documents(s, d)
        .select(col("doc_id"), size(tokens(col("text"))).as("ntok")))
      st.addColumn("docs", "tier", "STRING", "'unrated'")
      st.update("docs", col("ntok") > 120, Map("tier" -> lit("long")))
      st.table("docs").select("doc_id", "tier").orderBy("doc_id")
    }
  }

  val all: Seq[QueryDef] = Seq(q32, q33, q34, q35, q36, q87, q102, q104, q116, q124)
}
