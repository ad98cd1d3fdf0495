package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's analytics surface (Tasks 3–14, All-Tasks-of-SQL.sql) as
  * named library functions over the amazon-fresh entity frames — the API a
  * reference user calls after switching engines. Each function is a pure
  * DataFrame program; SQL-text equivalents run through the same session
  * views (SURVEY.md §3.1 dual entry points).
  *
  * Frames are passed in (not read from a fixed catalog) so the functions
  * compose with TableStore, ingest output, or test fixtures alike.
  */
object ReferenceTasks {

  /** Task 3 (AT:5-12): distinct customer cities + customers of one city. */
  def distinctCities(customers: DataFrame): DataFrame =
    customers.select(col("city")).distinct().orderBy("city")

  def customersInCity(customers: DataFrame, city: String): DataFrame =
    customers.filter(col("city") === city).orderBy("customerid")

  /** Task 4 (AT:63-77): duplicate-name customers, keep lowest customerid. */
  def dedupeCustomersByName(customers: DataFrame): DataFrame = {
    val w = Window.partitionBy("name").orderBy("customerid")
    customers.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Task 4/8 (AT:44-56, 135-139): constraint-violation scans. */
  def underageCustomers(customers: DataFrame): DataFrame =
    customers.filter(col("age").isNull || col("age") <= 18)

  def invalidRatings(reviews: DataFrame): DataFrame =
    reviews.filter(col("rating").isNull || !col("rating").between(1, 5))

  /** Task 4 repair (AT:51-53): age <= 18 → 19. */
  def repairAges(customers: DataFrame): DataFrame =
    customers.withColumn("age",
      when(col("age").isNotNull && col("age") <= 18, 19).otherwise(col("age")))

  /** Task 9 (AT:163-167): avg rating per product, HAVING avg > threshold. */
  def wellRatedProducts(reviews: DataFrame, minAvg: Double): DataFrame =
    reviews.filter(col("rating").isNotNull)
      .groupBy("productid")
      .agg(avg(col("rating")).as("avg_rating"), count(col("reviewid")).as("n_reviews"))
      .filter(col("avg_rating") > minAvg)
      .orderBy(desc("avg_rating"), col("productid"))

  /** Task 9 (AT:169-176): total sales per product (qty × unit price). */
  def salesByProduct(orderDetails: DataFrame, products: DataFrame): DataFrame =
    orderDetails
      .select(col("productid"), (col("quantity") * col("unitprice")).as("line_total"))
      .groupBy("productid")
      .agg(sum(col("line_total")).as("total_sales"))
      .join(products.select("productid", "productname"), Seq("productid"))
      .orderBy(desc("total_sales"), col("productid"))

  /** Task 10 (AT:192-215): high-value customers — HAVING variant and
    * rank-over-aggregate variant. */
  def highValueCustomers(customers: DataFrame, orders: DataFrame,
                         minSpent: BigDecimal): DataFrame =
    orders.groupBy("customerid")
      .agg(sum(col("totalamount")).as("total_spent"))
      .filter(col("total_spent") > minSpent)
      .join(customers.select("customerid", "name"), Seq("customerid"))
      .orderBy(desc("total_spent"), col("customerid"))

  def rankedCustomers(customers: DataFrame, orders: DataFrame): DataFrame = {
    val spent = orders.groupBy("customerid")
      .agg(sum(col("totalamount")).as("total_spent"))
    spent
      .withColumn("spend_rank", rank().over(Window.orderBy(col("total_spent").desc)).cast("long"))
      .join(customers.select("customerid", "name"), Seq("customerid"))
      .orderBy("spend_rank", "customerid")
  }

  /** Task 11 (AT:246-264): most-frequent customers via CTE + RANK. */
  def frequentCustomers(orders: DataFrame, topK: Int): DataFrame = {
    val counts = orders.groupBy("customerid").agg(count(lit(1)).as("num_orders"))
    counts
      .withColumn("order_rank", rank().over(Window.orderBy(col("num_orders").desc)).cast("long"))
      .filter(col("order_rank") <= topK)
      .orderBy("order_rank", "customerid")
  }

  /** Task 11 (AT:271-280): ties-at-top — all orders at the max amount. */
  def biggestOrders(orders: DataFrame): DataFrame = {
    val mx = orders.agg(max(col("totalamount")).as("mx"))
    orders.join(broadcast(mx), col("totalamount") === col("mx")).drop("mx")
      .orderBy("orderid")
  }

  /** Task 11 (AT:288-296): suppliers incl. productless, COALESCE(sum, 0). */
  def supplierShelfValue(suppliers: DataFrame, products: DataFrame): DataFrame = {
    val perSupplier = products
      .groupBy("supplierid")
      .agg(sum(col("priceperunit") * col("stockquantity")).as("shelf"))
    suppliers.select("supplierid", "suppliername")
      .join(perSupplier, Seq("supplierid"), "left")
      .select(col("supplierid"), col("suppliername"),
        coalesce(col("shelf"), lit(0)).as("shelf_value"))
      .orderBy(desc("shelf_value"), col("supplierid"))
  }

  /** Task 13 (AT:549-555): customers with no orders (anti-join). */
  def customersWithoutOrders(customers: DataFrame, orders: DataFrame): DataFrame =
    customers.join(orders.select("customerid"), Seq("customerid"), "left_anti")
      .orderBy("customerid")

  /** Task 13 (AT:537-544): top-k products by units sold. */
  def topProductsByUnits(orderDetails: DataFrame, products: DataFrame, k: Int): DataFrame =
    orderDetails.groupBy("productid")
      .agg(sum(col("quantity")).cast("long").as("units"))
      .join(products.select("productid", "productname"), Seq("productid"))
      .orderBy(desc("units"), col("productid"))
      .limit(k)

  /** Task 14 (AT:569-576): prime-membership percentage per state. */
  def primePercentageByState(customers: DataFrame): DataFrame =
    customers.groupBy("state")
      .agg(count(lit(1)).as("n_customers"),
        count_if(col("primemember") === true).as("prime_customers"))
      .select(col("state"), col("n_customers"), col("prime_customers"),
        ((col("prime_customers") * 100).cast("double")
          / nullif(col("n_customers"), lit(0)).cast("double")).as("prime_percentage"))
      .orderBy(desc("prime_percentage"), desc("prime_customers"), col("state"))

  /** Task 14 (AT:579-588): top categories by revenue through the
    * normalized dims (4-table chain). */
  def topCategoriesBySales(orderDetails: DataFrame, products: DataFrame,
                           subcategories: DataFrame, categories: DataFrame,
                           k: Int): DataFrame =
    orderDetails
      .select(col("productid"), (col("quantity") * col("unitprice")).as("line_total"))
      .join(products.select("productid", "subcategoryid"), Seq("productid"))
      .join(broadcast(subcategories.select("subcategoryid", "categoryid")), Seq("subcategoryid"))
      .join(broadcast(categories.select("categoryid", "category")), Seq("categoryid"))
      .groupBy("category")
      .agg(sum(col("line_total")).as("total_sales"))
      .orderBy(desc("total_sales"), col("category"))
      .limit(k)
}
