package graft

import org.apache.spark.sql.types.{DecimalType, IntegerType}
import graft.ingest.IngestPipeline
import graft.ingest.IngestPipeline._
import graft.functions.CleanFunctions.UuidRegex

class IngestPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val goodCust = "898ca408-050f-4a22-9b07-6e5ed27ab101"
  private val upperCust = "898CA408-050F-4A22-9B07-6E5ED27AB102"

  /** Dirty customers fixture covering FIXTURES.md §3 cases. */
  private def dirtyCustomers = Seq(
    (goodCust, "  Alice  ", " 30 ", "1/5/2024", "Yes"),
    (upperCust, "Bob", "41", "12/31/2023", "no"),
    ("not-a-uuid", "Carol", "", "2024-01-15", ""),      // bad pk, blank age, bad date
    ("12345", "Dave", "abc", "Jan 5 2024", "maybe")     // bad pk, garbage age/date/bool
  ).toDF("customerid", "name", "age", "signupdate", "primemember")

  private val custSpec = EntitySpec(
    name = "customers", pk = "customerid",
    conform = Map(
      "customerid" -> AsUuid, "age" -> AsTyped(IntegerType),
      "signupdate" -> AsDateMdy, "primemember" -> AsBool))

  test("pipeline conserves rows: clean + quarantined = input") {
    val r = IngestPipeline.run(dirtyCustomers, custSpec)
    val (c, q) = r.counts
    c + q shouldBe dirtyCustomers.count()
  }

  test("bad PKs are repaired deterministically to canonical uuids") {
    val r1 = IngestPipeline.run(dirtyCustomers, custSpec)
    val r2 = IngestPipeline.run(dirtyCustomers, custSpec)
    val ids1 = r1.clean.select("customerid").collect().map(_.getString(0)).sorted
    val ids2 = r2.clean.select("customerid").collect().map(_.getString(0)).sorted
    ids1 shouldBe ids2 // reproducible repair (uuid5, not gen_random_uuid)
    all(ids1) should fullyMatch regex UuidRegex.drop(1).dropRight(1)
  }

  test("conform produces reference cleaning semantics") {
    val r = IngestPipeline.run(dirtyCustomers, custSpec)
    val byName = r.clean.collect().map(r => r.getString(1) -> r).toMap
    byName("Alice").getInt(2) shouldBe 30                     // trimmed then cast
    byName("Alice").getDate(3).toString shouldBe "2024-01-05" // M/D/YYYY
    byName("Alice").getBoolean(4) shouldBe true
    byName("Bob").getString(0) shouldBe upperCust.toLowerCase // uuid normalized
    byName("Carol").isNullAt(2) shouldBe true                 // blank → NULL
    byName("Carol").isNullAt(3) shouldBe true                 // ISO date rejected by M/D/Y gate
    byName("Carol").getBoolean(4) shouldBe false              // '' → false
    byName("Dave").isNullAt(2) shouldBe true                  // garbage int → NULL
    byName("Dave").isNullAt(4) shouldBe true                  // 'maybe' → NULL
  }

  test("orphan FK rows are quarantined unless healing is enabled") {
    val parents = Seq(goodCust).toDF("customerid")
    val orders = Seq(
      ("898ca408-050f-4a22-9b07-6e5ed27ab201", goodCust, "10.50"),
      ("898ca408-050f-4a22-9b07-6e5ed27ab202", "898ca408-050f-4a22-9b07-6e5ed27ab999", "20.00")
    ).toDF("orderid", "customerid", "totalamount")
    val spec = EntitySpec(
      name = "orders", pk = "orderid",
      conform = Map("orderid" -> AsUuid, "totalamount" -> AsTyped(DecimalType(12, 2))),
      parents = Map("customerid" -> ("customerid", parents)))
    val r = IngestPipeline.run(orders, spec)
    r.clean.count() shouldBe 1
    r.quarantined.count() shouldBe 1
    val healed = IngestPipeline.run(orders, spec.copy(healOrphans = true))
    healed.clean.count() shouldBe 2
  }

  test("healParents keeps and quarantines exactly the per-edge join reference's rows") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    def sameAsReference(df: org.apache.spark.sql.DataFrame, spec: EntitySpec): (Long, Long) = {
      val (keep, quarantined) = IngestPipeline.healParents(df, spec)
      val (refKeep, refQuarantined) = ConstraintsReference.healParents(df, spec)
      keep.columns.toSeq shouldBe refKeep.columns.toSeq
      quarantined.columns.toSeq shouldBe refQuarantined.columns.toSeq
      rows(keep) shouldBe rows(refKeep)
      rows(quarantined) shouldBe rows(refQuarantined)
      (keep.count(), quarantined.count())
    }
    val o1 = "898ca408-050f-4a22-9b07-6e5ed27ab201"
    val o2 = "898ca408-050f-4a22-9b07-6e5ed27ab202"
    val p1 = "898ca408-050f-4a22-9b07-6e5ed27ab301"
    // parent keys as stored: padded, upper-case, repeated
    val customers = Seq(s" ${upperCust} ", goodCust, goodCust).toDF("customerid")
    val orders = Seq(o1, s"  ${o2.toUpperCase}").toDF("orderid")
    val products = Seq(p1).toDF("productid")
    val orderSpec = EntitySpec("orders", "orderid", Map("orderid" -> AsUuid),
      parents = Map("customerid" -> ("customerid", customers)))
    val staged = Seq(
      ("898ca408-050f-4a22-9b07-6e5ed27ab211", "x", goodCust),
      ("898ca408-050f-4a22-9b07-6e5ed27ab212", "y", upperCust.toLowerCase),
      ("898ca408-050f-4a22-9b07-6e5ed27ab213", "z", "898ca408-050f-4a22-9b07-6e5ed27ab999"),
      ("898ca408-050f-4a22-9b07-6e5ed27ab214", "w", null)
    ).toDF("orderid", "note", "customerid")
    sameAsReference(staged, orderSpec) shouldBe ((3L, 1L))
    // two edges, the orphan on either one quarantines the row
    val detailSpec = EntitySpec("order_details", "orderdetailid", Map("orderdetailid" -> AsUuid),
      parents = Map("orderid" -> ("orderid", orders), "productid" -> ("productid", products)))
    val details = Seq(
      ("d1", 2, o1, p1),
      ("d2", 1, o2, p1),
      ("d3", 5, o1, "898ca408-050f-4a22-9b07-6e5ed27ab399"),
      ("d4", 1, "898ca408-050f-4a22-9b07-6e5ed27ab299", p1),
      ("d5", 3, null, null)
    ).toDF("orderdetailid", "quantity", "orderid", "productid")
    sameAsReference(details, detailSpec) shouldBe ((3L, 2L))
    // the dirty customers fixture has no parents: nothing to heal
    sameAsReference(dirtyCustomers, custSpec) shouldBe ((4L, 0L))
  }

  test("verifyCounts emits the staging/clean/quarantine dashboard") {
    val r = IngestPipeline.run(dirtyCustomers, custSpec)
    val counts = IngestPipeline.verifyCounts(dirtyCustomers, r)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    counts("staging") shouldBe 4
    counts("staging") shouldBe counts("clean") + counts("quarantined")
  }
}
