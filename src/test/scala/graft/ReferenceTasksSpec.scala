package graft

import graft.analytics.ReferenceTasks._
import graft.ingest.Normalizer

class ReferenceTasksSpec extends SparkSpec {
  import spark.implicits._

  private def customers = Seq(
    ("c1", "Alice", Some(30), "Springfield", "IL", Some(true)),
    ("c2", "Bob", Some(17), "Portland", "OR", Some(false)),
    ("c3", "Alice", Some(25), "Austin", "TX", Some(true)),   // duplicate name
    ("c4", "Dave", None, "Portland", "OR", None)
  ).toDF("customerid", "name", "age", "city", "state", "primemember")

  private def orders = Seq(
    ("o1", "c1", BigDecimal("6000.50")), ("o2", "c1", BigDecimal("10.00")),
    ("o3", "c2", BigDecimal("7500.25")), ("o4", "c3", BigDecimal("7500.25"))
  ).toDF("orderid", "customerid", "totalamount")

  private def products = Seq(
    ("p1", "Apples", "Fruits", "Citrus", BigDecimal("2.50"), 100, "s1"),
    ("p2", "Milk", "Dairy", null, BigDecimal("1.20"), 50, "s2")
  ).toDF("productid", "productname", "category", "subcategory", "priceperunit", "stockquantity", "supplierid")

  private def orderDetails = Seq(
    ("d1", "o1", "p1", 4, BigDecimal("2.50")),
    ("d2", "o1", "p2", 2, BigDecimal("1.20")),
    ("d3", "o3", "p1", 10, BigDecimal("2.50"))
  ).toDF("orderdetailid", "orderid", "productid", "quantity", "unitprice")

  private def reviews = Seq(
    ("r1", "p1", Some(5)), ("r2", "p1", Some(4)), ("r3", "p2", Some(1)), ("r4", "p2", Some(7))
  ).toDF("reviewid", "productid", "rating")

  test("task 3: distinct cities and per-city filter") {
    distinctCities(customers).collect().map(_.getString(0)).toSeq shouldBe
      Seq("Austin", "Portland", "Springfield")
    customersInCity(customers, "Portland").count() shouldBe 2
  }

  test("task 4: name dedupe keeps lowest id; constraint scans and repair") {
    dedupeCustomersByName(customers).select("customerid").collect()
      .map(_.getString(0)).sorted.toSeq shouldBe Seq("c1", "c2", "c4")
    underageCustomers(customers).count() shouldBe 2 // Bob 17, Dave null
    repairAges(customers).filter($"customerid" === "c2").head.getInt(2) shouldBe 19
    invalidRatings(reviews).count() shouldBe 1 // rating 7
  }

  test("task 9: well-rated products and sales by product") {
    val rated = wellRatedProducts(reviews, 4.0).collect()
    rated.map(_.getString(0)).toSeq shouldBe Seq("p1") // avg 4.5
    val sales = salesByProduct(orderDetails, products).collect()
      .map(r => r.getString(0) -> r.getDecimal(1)).toMap
    sales("p1").compareTo(new java.math.BigDecimal("35.00")) shouldBe 0 // 4*2.50 + 10*2.50
    sales("p2").compareTo(new java.math.BigDecimal("2.40")) shouldBe 0
  }

  test("task 10/11: high-value, ranked, frequent, ties-at-top") {
    highValueCustomers(customers, orders, BigDecimal(5000))
      .collect().map(_.getString(0)).toSeq shouldBe Seq("c2", "c3", "c1")
    rankedCustomers(customers, orders).head.getLong(2) shouldBe 1L
    frequentCustomers(orders, 1).head.getString(0) shouldBe "c1" // 2 orders
    biggestOrders(orders).collect().map(_.getString(0)).toSeq shouldBe
      Seq("o3", "o4") // tie at 7500.25
  }

  test("task 11/13: supplier shelf value incl. empty, customers w/o orders, top products") {
    val suppliers = Seq(("s1", "FreshCo"), ("s2", "DairyInc"), ("s3", "EmptyCo"))
      .toDF("supplierid", "suppliername")
    val shelf = supplierShelfValue(suppliers, products).collect()
    shelf.map(_.getString(0)).toSeq shouldBe Seq("s1", "s2", "s3")
    shelf.last.getDecimal(2).intValue() shouldBe 0
    customersWithoutOrders(customers, orders).collect().map(_.getString(0)).toSeq shouldBe Seq("c4")
    topProductsByUnits(orderDetails, products, 1).head.getString(2) shouldBe "Apples"
  }

  test("task 14: prime percentage and top categories through normalized dims") {
    val pct = primePercentageByState(customers).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    pct("IL") shouldBe 100.0
    pct("OR") shouldBe 0.0
    val n = Normalizer.normalize(products)
    val top = topCategoriesBySales(orderDetails, n.products, n.subcategories, n.categories, 1)
    top.head.getString(0) shouldBe "fruits"
  }
}
