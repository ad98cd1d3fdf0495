package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType}
import graft.constraints.Constraints._
import graft.ingest.IngestPipeline
import graft.ingest.IngestPipeline._
import graft.schema.AmazonFresh
import graft.sources.TableStore

/** SURVEY.md §7.3 end-to-end slice: dirty customers+orders CSVs → land →
  * quarantine/repair/conform → constrained TableStore → idempotent
  * re-ingest → Task-10 high-value-customers analytics → all-zero audits.
  */
class EndToEndSpec extends SparkSpec {

  private val c1 = "898ca408-050f-4a22-9b07-6e5ed27ab101"
  private val c2 = "898ca408-050f-4a22-9b07-6e5ed27ab102"

  test("ingest -> store -> analytics -> audit, idempotent under re-ingest") {
    val dir = tempDir("graft-e2e")
    Files.writeString(dir.resolve("customers.csv"),
      s"""customerid,name,age,gender,city,state,country,signupdate,primemember
         |$c1,Alice,30,F,Springfield,IL,USA,1/5/2024,Yes
         |${c2.toUpperCase},  Bob ,41,M,Portland,OR,USA,12/31/2023,no
         |bad-uuid,Carol,29,F,Austin,TX,USA,3/3/2024,1
         |""".stripMargin)
    Files.writeString(dir.resolve("orders.csv"),
      s"""orderid,customerid,orderdate,shipdate,shipmode,totalamount
         |898ca408-050f-4a22-9b07-6e5ed27ab201,$c1,1/10/2024,1/12/2024,AIR, 6000.50
         |898ca408-050f-4a22-9b07-6e5ed27ab202,$c1,2/1/2024,2/3/2024,GROUND,10.00
         |898ca408-050f-4a22-9b07-6e5ed27ab203,$c2,2/5/2024,2/6/2024,AIR,7500.25
         |898ca408-050f-4a22-9b07-6e5ed27ab204,898ca408-050f-4a22-9b07-6e5ed27ab999,2/9/2024,,AIR,99.99
         |""".stripMargin)

    def land(name: String, schema: org.apache.spark.sql.types.StructType) =
      spark.read.schema(AmazonFresh.staging(schema)).option("header", "true")
        .csv(dir.resolve(s"$name.csv").toString)

    // ingest customers (pk repair for Carol), then orders guarded by the
    // clean customer keys (order 204 is an orphan → quarantined)
    val customers = IngestPipeline.run(land("customers", AmazonFresh.customers),
      EntitySpec("customers", "customerid", Map(
        "customerid" -> AsUuid, "age" -> AsTyped(IntegerType),
        "signupdate" -> AsDateMdy, "primemember" -> AsBool)))
    val orders = IngestPipeline.run(land("orders", AmazonFresh.orders),
      EntitySpec("orders", "orderid", Map(
        "orderid" -> AsUuid, "customerid" -> AsUuid,
        "orderdate" -> AsDateMdy, "shipdate" -> AsDateMdy,
        "totalamount" -> AsTyped(DecimalType(12, 2))),
        parents = Map("customerid" -> ("customerid", customers.clean))))

    customers.clean.count() shouldBe 3
    orders.clean.count() shouldBe 3
    orders.quarantined.count() shouldBe 1

    // constrained store
    val st = new TableStore(spark, tempDir("graft-e2e-store").toString)
    st.create("customers", customers.clean, Seq(PrimaryKey(Seq("customerid"))))
    st.create("orders", orders.clean, Seq(PrimaryKey(Seq("orderid")),
      ForeignKey(Seq("customerid"), "customers", Seq("customerid"), Cascade)))

    // idempotence: re-ingesting the same batch inserts nothing
    st.insert("orders", orders.clean, onConflictDoNothing = true) shouldBe 0
    st.table("orders").count() shouldBe 3

    // Task-10 analytics (reference All-Tasks-of-SQL.sql:207-215):
    // high-value customers by summed order amount, HAVING > 5000
    val high = st.table("orders")
      .groupBy("customerid")
      .agg(sum(col("totalamount")).as("total_spent"))
      .filter(col("total_spent") > 5000)
      .join(st.table("customers").select("customerid", "name"), Seq("customerid"))
      .orderBy(desc("total_spent"))
    val rows = high.collect().map(r => r.getAs[String]("name") -> r.getAs[java.math.BigDecimal]("total_spent"))
    rows.map(_._1).toSeq shouldBe Seq("Bob", "Alice")
    rows.head._2.toString shouldBe "7500.25"

    // audits mirror TC:1139-1176: all zero on the conformed store
    val audit = auditReport(st.table("orders"), Seq("orderid"),
      Seq((Seq("customerid"), st.table("customers"), Seq("customerid"))))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    audit.values.sum shouldBe 0

    // FK cascade: deleting Alice removes her two orders
    st.delete("customers", col("name") === "Alice") shouldBe 1
    st.table("orders").count() shouldBe 1
  }
}
