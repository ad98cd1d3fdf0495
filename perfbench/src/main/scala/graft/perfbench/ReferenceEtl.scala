package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, StructType}
import graft.analytics.ReferenceTasks
import graft.constraints.Constraints
import graft.constraints.Constraints._
import graft.ingest.{IngestPipeline, Normalizer}
import graft.ingest.IngestPipeline._
import graft.schema.AmazonFresh
import graft.sources.TableStore

/** The paper's own program, end to end: dirty staging CSVs for the six
  * Amazon Fresh entities are cleaned by IngestPipeline and written into a
  * constrained TableStore in FK order, re-ingested ON CONFLICT DO NOTHING,
  * edited by the DML tasks, normalised to 3NF, queried by every
  * ReferenceTasks function and audited. Each pass writes a fresh store.
  *
  * Inputs (generated from the seed before the program starts) sit under
  * `<inputs>/etl`: one CSV per entity, `reingest_customers.csv` (a seeded
  * sample of the customers file) and `params.properties` (the task
  * parameters the seed chose). */
final class ReferenceEtl extends Workload {

  private val Ingest = "ingest.IngestPipeline"
  private val Store = "sources.TableStore"
  private val Tasks = "analytics.ReferenceTasks"
  private val Checks = "constraints.Constraints"

  private var store: TableStore = _
  private val staged = mutable.LinkedHashMap.empty[String, (DataFrame, IngestResult)]
  private var violations = -1L
  private var auditTotal = -1L
  private var reingested = -1L
  private val inserted = mutable.Map.empty[String, Long]
  private var stagedCounts = Seq.empty[(Long, Long)]

  private def dec(p: Int, s: Int) = AsTyped(DecimalType(p, s))

  /** FK order; each entity's parents are the tables already stored. */
  private val entities: Seq[(String, StructType, String, Map[String, Conform], Map[String, String])] = Seq(
    ("suppliers", AmazonFresh.suppliers, "supplierid", Map("supplierid" -> AsUuid), Map.empty),
    ("products", AmazonFresh.products, "productid", Map("productid" -> AsUuid,
      "supplierid" -> AsUuid, "priceperunit" -> dec(12, 2),
      "stockquantity" -> AsTyped(IntegerType)), Map("supplierid" -> "suppliers")),
    ("customers", AmazonFresh.customers, "customerid", Map("customerid" -> AsUuid,
      "age" -> AsTyped(IntegerType), "signupdate" -> AsDateMdy, "primemember" -> AsBool), Map.empty),
    ("orders", AmazonFresh.orders, "orderid", Map("orderid" -> AsUuid, "customerid" -> AsUuid,
      "orderdate" -> AsDateMdy, "shipdate" -> AsDateMdy, "totalamount" -> dec(12, 2)),
      Map("customerid" -> "customers")),
    ("order_details", AmazonFresh.orderDetails, "orderdetailid", Map("orderdetailid" -> AsUuid,
      "orderid" -> AsUuid, "productid" -> AsUuid, "quantity" -> AsTyped(IntegerType),
      "unitprice" -> dec(12, 2), "discount" -> dec(5, 2)),
      Map("orderid" -> "orders", "productid" -> "products")),
    ("reviews", AmazonFresh.reviews, "reviewid", Map("reviewid" -> AsUuid,
      "productid" -> AsUuid, "customerid" -> AsUuid, "rating" -> AsTyped(IntegerType)),
      Map("productid" -> "products", "customerid" -> "customers")))

  private val pks: Map[String, String] = entities.map(e => e._1 -> e._3).toMap ++ Map(
    "categories" -> "categoryid", "subcategories" -> "subcategoryid", "products_3nf" -> "productid")

  /** SQL CHECK semantics: a NULL predicate passes. */
  private def sqlCheck(label: String, pred: org.apache.spark.sql.Column) =
    Check(label, coalesce(pred, lit(true)))

  private def constraintsFor(entity: String, parents: Map[String, String]): Seq[Constraint] = {
    val fks = parents.toSeq.map { case (c, parent) =>
      ForeignKey(Seq(c), parent, Seq(pks(parent)), if (entity == "products") SetNull else Cascade)
    }
    val checks = entity match {
      case "customers" => Seq(sqlCheck("age > 18", col("age") > 18))
      case "reviews" => Seq(sqlCheck("rating 1..5", col("rating").between(1, 5)))
      case "order_details" => Seq(sqlCheck("quantity > 0", col("quantity") > 0))
      case _ => Nil
    }
    PrimaryKey(Seq(pks(entity))) +: (fks ++ checks)
  }

  private def etlDir(ctx: Ctx) = ctx.inputs.resolve("etl")

  private lazy val params: java.util.Properties = new java.util.Properties()

  private def param(ctx: Ctx, k: String): String = {
    if (params.isEmpty) {
      val in = Files.newInputStream(etlDir(ctx).resolve("params.properties"))
      try params.load(in) finally in.close()
    }
    Option(params.getProperty(k)).getOrElse(sys.error(s"params.properties lacks $k"))
  }

  private def land(ctx: Ctx, file: String, schema: StructType): DataFrame =
    ctx.spark.read.schema(AmazonFresh.staging(schema)).option("header", "true")
      .csv(etlDir(ctx).resolve(file).toString)

  override def beforePass(ctx: Ctx, pass: Int): Unit = {
    store = new TableStore(ctx.spark, ctx.runDir.resolve(s"store/pass$pass").toString)
    staged.clear()
    inserted.clear()
  }

  private def op(name: String, owner: String)(body: => Long): Op =
    Op(name, owner, None, () => body)

  /** Run a task query through the shared build/plan/exec shape. */
  private def task(ctx: Ctx, name: String)(build: => DataFrame): Op =
    Op(s"task.$name", Tasks, None, () => ctx.query(s"task.$name", build))

  def ops(ctx: Ctx): Seq[Op] = {
    val sp = ctx.spans
    def t(name: String) = store.table(name)
    val ingest = entities.map { case (entity, schema, pk, conform, parents) =>
      op(s"ingest.$entity", Ingest) {
        val staging = land(ctx, s"$entity.csv", schema)
        val spec = EntitySpec(entity, pk, conform,
          parents = parents.map { case (c, parent) => c -> (pks(parent), t(parent)) })
        val res = sp(s"$Ingest.run")(IngestPipeline.run(staging, spec))
        staged(entity) = (staging, res)
        // CREATE TABLE, then INSERT … ON CONFLICT DO NOTHING: the batch's
        // duplicate-PK rows keep the first, as the reference does
        sp(s"$Store.create")(store.create(entity, res.clean.limit(0), constraintsFor(entity, parents)))
        inserted(entity) = sp(s"$Store.insert")(store.insert(entity, res.clean, onConflictDoNothing = true))
        inserted(entity)
      }
    }
    val reingest = op("reingest.customers", Store) {
      val again = sp(s"$Ingest.run")(IngestPipeline.run(
        land(ctx, "reingest_customers.csv", AmazonFresh.customers),
        EntitySpec("customers", "customerid", entities(2)._4)))
      reingested = sp(s"$Store.insert")(store.insert("customers", again.clean, onConflictDoNothing = true))
      reingested
    }
    val mod = param(ctx, "batch_mod").toInt
    val pick = param(ctx, "batch_pick").toInt
    def sample(df: DataFrame, key: String) =
      df.filter(pmod(xxhash64(col(key), lit(ctx.seed)), lit(mod.toLong)) === pick)
    val dml = Seq(
      op("dml.update_ages", Store) {
        // Task 4 repair (AT:51-53): age <= 18 becomes 19
        sp(s"$Store.update")(store.update("customers", col("age") <= 18, Map("age" -> lit(19))))
        1L
      },
      op("dml.delete_bad_ratings", Store) {
        sp(s"$Store.delete")(store.delete("reviews",
          col("rating").isNotNull && !col("rating").between(1, 5)))
      },
      op("dml.upsert_prices", Store) {
        val batch = sample(t("products"), "productid")
          .withColumn("priceperunit", (col("priceperunit") * 1.05).cast(DecimalType(12, 2)))
        val (u, i) = sp(s"$Store.upsert")(store.upsert("products", batch))
        u + i
      },
      op("dml.merge_shipmode", Store) {
        val src = sample(t("orders"), "orderid").withColumn("shipmode", upper(col("shipmode")))
        val (u, d, i) = sp(s"$Store.mergeInto")(store.mergeInto("orders", src, Seq("orderid"),
          Map("shipmode" -> TableStore.src("shipmode"))))
        u + d + i
      })
    val normalize = op("normalize.products", "ingest.Normalizer") {
      val n = sp("ingest.Normalizer.normalize")(Normalizer.normalize(t("products")))
      sp(s"$Store.create")(store.create("categories", n.categories,
        Seq(PrimaryKey(Seq("categoryid")))))
      sp(s"$Store.create")(store.create("subcategories", n.subcategories,
        Seq(PrimaryKey(Seq("subcategoryid")),
          ForeignKey(Seq("categoryid"), "categories", Seq("categoryid"), Restrict))))
      sp(s"$Store.create")(store.create("products_3nf", n.products,
        Seq(PrimaryKey(Seq("productid")),
          ForeignKey(Seq("subcategoryid"), "subcategories", Seq("subcategoryid"), Restrict))))
      3L
    }
    val city = param(ctx, "city")
    val minAvg = param(ctx, "min_avg_rating").toDouble
    val minSpent = BigDecimal(param(ctx, "min_spent"))
    val topK = param(ctx, "top_k").toInt
    val tasks = Seq(
      task(ctx, "distinct_cities")(ReferenceTasks.distinctCities(t("customers"))),
      task(ctx, "customers_in_city")(ReferenceTasks.customersInCity(t("customers"), city)),
      task(ctx, "dedupe_by_name")(ReferenceTasks.dedupeCustomersByName(t("customers"))),
      task(ctx, "underage")(ReferenceTasks.underageCustomers(t("customers"))),
      task(ctx, "invalid_ratings")(ReferenceTasks.invalidRatings(t("reviews"))),
      task(ctx, "repair_ages")(ReferenceTasks.repairAges(t("customers"))),
      task(ctx, "well_rated")(ReferenceTasks.wellRatedProducts(t("reviews"), minAvg)),
      task(ctx, "sales_by_product")(ReferenceTasks.salesByProduct(t("order_details"), t("products"))),
      task(ctx, "high_value")(ReferenceTasks.highValueCustomers(t("customers"), t("orders"), minSpent)),
      task(ctx, "ranked_customers")(ReferenceTasks.rankedCustomers(t("customers"), t("orders"))),
      task(ctx, "frequent_customers")(ReferenceTasks.frequentCustomers(t("orders"), topK)),
      task(ctx, "biggest_orders")(ReferenceTasks.biggestOrders(t("orders"))),
      task(ctx, "supplier_shelf")(ReferenceTasks.supplierShelfValue(t("suppliers"), t("products"))),
      task(ctx, "no_orders")(ReferenceTasks.customersWithoutOrders(t("customers"), t("orders"))),
      task(ctx, "top_products")(ReferenceTasks.topProductsByUnits(t("order_details"), t("products"), topK)),
      task(ctx, "prime_by_state")(ReferenceTasks.primePercentageByState(t("customers"))),
      task(ctx, "top_categories")(ReferenceTasks.topCategoriesBySales(t("order_details"),
        t("products_3nf"), t("subcategories"), t("categories"), topK)))
    val audit = Seq(
      op("constraints.validate", Checks) {
        violations = pks.keys.toSeq.sorted.map { name =>
          sp(s"$Checks.validate")(Constraints.validate(t(name), store.constraintsOf(name), t))
            .map(_.count).sum
        }.sum
        violations
      },
      op("constraints.audit", Checks) {
        auditTotal = entities.map { case (entity, _, pk, _, parents) =>
          val fks = parents.toSeq.map { case (c, parent) => (Seq(c), t(parent), Seq(pks(parent))) }
          sp(s"$Checks.auditReport")(Constraints.auditReport(t(entity), Seq(pk), fks)
            .collect().map(_.getLong(1)).sum)
        }.sum
        auditTotal
      })
    ingest ++ Seq(reingest) ++ dml ++ Seq(normalize) ++ tasks ++ audit
  }

  override def afterPass(ctx: Ctx, pass: Int): Seq[(String, Boolean)] = {
    val counts = staged.toSeq.map { case (entity, (staging, res)) =>
      val (clean, quarantined) = res.counts
      (entity, staging.count(), clean, quarantined)
    }
    stagedCounts = counts.map(c => (c._2, c._4))
    counts.map { case (entity, nStaged, clean, quarantined) =>
      s"conserved.$entity" -> (clean + quarantined == nStaged)
    } ++ Seq(
      // no DML step deletes customers, so the stored count must still be
      // what the first ingest inserted
      "reingest_unchanged.customers" -> (store.table("customers").count() == inserted("customers")),
      "reingest_inserts_nothing" -> (reingested == 0L),
      "validate_finds_nothing" -> (violations == 0L),
      "audits_all_zero" -> (auditTotal == 0L))
  }

  override def layer(ctx: Ctx, pass: Int, wallS: Double): Map[String, Double] = {
    val stagedRows = stagedCounts.map(_._1).sum.toDouble
    val csvBytes = entities.map(e => Files.size(etlDir(ctx).resolve(s"${e._1}.csv"))).sum.toDouble
    val storeBytes = Main.treeBytes(ctx.runDir.resolve(s"store/pass$pass")).toDouble
    Map(
      "ingest.rows_per_s" -> stagedRows / wallS,
      "ingest.quarantine_ratio" -> stagedCounts.map(_._2).sum / stagedRows,
      "sources.TableStore.write_amp" -> storeBytes / csvBytes)
  }

  /** A pass's store is only needed until its checks ran. */
  override def afterChecks(ctx: Ctx, pass: Int): Unit =
    graft.operators.EventsOps.rmTree(ctx.runDir.resolve(s"store/pass$pass"))
}
