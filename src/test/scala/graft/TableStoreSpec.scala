package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.constraints.Constraints._
import graft.sources.{FileStats, TableStore}

class TableStoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore() =
    new TableStore(spark, tempDir("graft-store").toString)

  test("create/table round-trip and versioned atomic updates") {
    val st = freshStore()
    st.create("t", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    st.table("t").count() shouldBe 2
    st.update("t", col("id") === 1, Map("v" -> lit("z")))
    st.table("t").filter($"v" === "z").count() shouldBe 1
    st.table("t").count() shouldBe 2 // no row loss on rewrite
  }

  test("insert with ON CONFLICT DO NOTHING drops PK collisions, keeps first") {
    val st = freshStore()
    st.create("t", Seq((1, "a"), (2, "b")).toDF("id", "v"),
      Seq(PrimaryKey(Seq("id"))))
    val n = st.insert("t", Seq((2, "dup"), (3, "c"), (3, "dup-in-batch")).toDF("id", "v"),
      onConflictDoNothing = true)
    n shouldBe 1
    val rows = st.table("t").orderBy("id").collect().map(r => (r.getInt(0), r.getString(1)))
    rows.toSeq shouldBe Seq((1, "a"), (2, "b"), (3, "c"))
  }

  test("defaults fill NULLs on insert (reference primemember DEFAULT false)") {
    val st = freshStore()
    st.create("t", Seq((1, Some(true))).toDF("id", "prime"),
      Seq(Default("prime", lit(false))))
    st.insert("t", Seq((2, None: Option[Boolean])).toDF("id", "prime"))
    st.table("t").filter($"id" === 2).head.getBoolean(1) shouldBe false
  }

  test("delete cascades through CASCADE chain and nulls SET NULL children") {
    val st = freshStore()
    st.create("customers", Seq((1, "alice"), (2, "bob")).toDF("cid", "name"),
      Seq(PrimaryKey(Seq("cid"))))
    st.create("orders", Seq((10, 1), (11, 1), (12, 2)).toDF("oid", "cid"),
      Seq(PrimaryKey(Seq("oid")), ForeignKey(Seq("cid"), "customers", Seq("cid"), Cascade)))
    st.create("order_details", Seq((100, 10), (101, 11), (102, 12)).toDF("did", "oid"),
      Seq(PrimaryKey(Seq("did")), ForeignKey(Seq("oid"), "orders", Seq("oid"), Cascade)))
    st.create("reviews", Seq((200, Some(1)), (201, Some(2))).toDF("rid", "cid"),
      Seq(PrimaryKey(Seq("rid")), ForeignKey(Seq("cid"), "customers", Seq("cid"), SetNull)))

    st.delete("customers", col("cid") === 1) shouldBe 1

    st.table("customers").count() shouldBe 1
    st.table("orders").collect().map(_.getInt(0)).toSet shouldBe Set(12)
    st.table("order_details").collect().map(_.getInt(0)).toSet shouldBe Set(102)
    val reviews = st.table("reviews").orderBy("rid").collect()
    reviews(0).isNullAt(1) shouldBe true  // cascaded SET NULL
    reviews(1).getInt(1) shouldBe 2
  }

  test("RESTRICT refuses deletion while children reference the row") {
    val st = freshStore()
    st.create("categories", Seq((1, "fruit")).toDF("catid", "name"),
      Seq(PrimaryKey(Seq("catid"))))
    st.create("subcategories", Seq((10, 1)).toDF("subid", "catid"),
      Seq(ForeignKey(Seq("catid"), "categories", Seq("catid"), Restrict)))
    an[IllegalStateException] should be thrownBy
      st.delete("categories", col("catid") === 1)
  }

  test("updateFrom performs join-update only on matched rows") {
    val st = freshStore()
    st.create("products", Seq((1, "x", "old"), (2, "y", "old")).toDF("pid", "name", "cat"))
    st.updateFrom("products", Seq((1, "new")).toDF("pid", "newcat"),
      Seq("pid"), Map("cat" -> col("newcat")))
    st.table("products").orderBy("pid").collect().map(_.getString(2)).toSeq shouldBe
      Seq("new", "old")
  }

  test("drop cascade removes dependents") {
    val st = freshStore()
    st.create("p", Seq((1, "a")).toDF("id", "v"), Seq(PrimaryKey(Seq("id"))))
    st.create("c", Seq((2, 1)).toDF("id", "pid"),
      Seq(ForeignKey(Seq("pid"), "p", Seq("id"), Cascade)))
    st.drop("p", cascade = true)
    st.exists("p") shouldBe false
    st.exists("c") shouldBe false
  }

  test("analyze reports stats and vacuums superseded versions") {
    val st = freshStore()
    st.create("t", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    st.update("t", col("id") === 1, Map("v" -> lit("z"))) // creates v1
    val stats = st.analyze("t")
    stats.rows shouldBe 2
    stats.version shouldBe 1
    stats.bytes should be > 0L
    st.table("t").count() shouldBe 2 // current version untouched by vacuum
  }

  test("describeCatalog lists tables with constraint metadata (S11)") {
    val st = freshStore()
    st.create("p", Seq((1, "a")).toDF("id", "v"), Seq(PrimaryKey(Seq("id"))))
    st.create("c", Seq((2, 1)).toDF("id", "pid"),
      Seq(ForeignKey(Seq("pid"), "p", Seq("id"), Cascade)))
    val cat = st.describeCatalog().toMap
    cat("p") shouldBe Seq("pk(id)")
    cat("c") shouldBe Seq("fk(pid→p)")
  }

  test("partitioned UPDATE rewrites only touched partitions and reuses the rest") {
    val st = freshStore()
    val df = Seq((1, "click", 10.0), (2, "click", 20.0), (3, "view", 30.0),
      (4, "buy", 40.0)).toDF("id", "etype", "amount")
    st.createPartitioned("ev", df, "etype")
    val ownersV0 = st.partitionOwners("ev")
    ownersV0.keySet shouldBe Set("etype=click", "etype=view", "etype=buy")

    val rewritten = st.updateWherePruned("ev",
      col("etype") === "click" && col("amount") > 15, Map("amount" -> lit(0.0)))
    rewritten shouldBe Seq("click")

    val ownersV1 = st.partitionOwners("ev")
    ownersV1("etype=click") should not be ownersV0("etype=click") // rewritten
    ownersV1("etype=view") shouldBe ownersV0("etype=view")        // reused as-is
    ownersV1("etype=buy") shouldBe ownersV0("etype=buy")
    st.table("ev").filter($"amount" === 0.0).count() shouldBe 1
    st.table("ev").count() shouldBe 4
  }

  test("partitioned DELETE prunes, drops emptied partitions, survives vacuum") {
    val st = freshStore()
    val df = Seq((1, "click", 10.0), (2, "view", 30.0), (3, "buy", 40.0))
      .toDF("id", "etype", "amount")
    st.createPartitioned("ev", df, "etype")
    st.deleteWherePruned("ev", col("etype") === "view") shouldBe Seq("view")
    st.table("ev").count() shouldBe 2
    st.partitionOwners("ev").keySet shouldBe Set("etype=click", "etype=buy")
    // vacuum must keep v0: it still owns the click/buy partitions
    val stats = st.analyze("ev")
    stats.rows shouldBe 2
    st.table("ev").count() shouldBe 2
    // a predicate matching nothing is a no-op (no new version)
    st.deleteWherePruned("ev", col("etype") === "nope") shouldBe Nil
    st.table("ev").count() shouldBe 2
  }

  test("partitioned edge cases: empty-table delete, partition-col SET guard, subdir vacuum") {
    val st = freshStore()
    val df = Seq((1, "click", 10.0), (2, "view", 30.0)).toDF("id", "etype", "amount")
    st.createPartitioned("ev", df, "etype")
    // SET on the partition column is rejected (rows may not move partitions)
    an[IllegalArgumentException] should be thrownBy
      st.updateWherePruned("ev", col("id") === 1, Map("etype" -> lit("view")))
    // deleting everything leaves a readable empty table with its schema
    st.deleteWherePruned("ev", lit(true)) shouldBe Seq("click", "view")
    st.table("ev").count() shouldBe 0
    st.table("ev").columns should contain("etype")
    st.analyze("ev").rows shouldBe 0

    // repeated pruned updates: vacuum reclaims the superseded subdir inside
    // a version dir that still owns OTHER live partitions
    val st2 = freshStore()
    st2.createPartitioned("ev", df, "etype")
    st2.updateWherePruned("ev", col("etype") === "click", Map("amount" -> lit(1.0)))
    val beforeBytes = st2.analyze("ev").bytes
    // v0 still owns etype=view; its dead etype=click subdir must be gone
    st2.partitionOwners("ev")("etype=view") shouldBe "v0"
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(st2.rootDir, "ev", "v0", "etype=click")) shouldBe false
    st2.table("ev").count() shouldBe 2
    beforeBytes should be > 0L
  }

  test("upsert updates matched rows, inserts the rest, refuses dup-PK batches atomically") {
    val st = freshStore()
    st.create("t", Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "v", "x"),
      Seq(PrimaryKey(Seq("id"))))
    st.upsert("t", Seq((2L, "B", 99), (3L, "c", 30)).toDF("id", "v", "x")) shouldBe ((1L, 1L))
    st.table("t").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq shouldBe
      Seq((1L, "a", 10), (2L, "B", 99), (3L, "c", 30))

    // a batch updating the same PK twice is refused BEFORE any write:
    // the published version is untouched (per-statement atomicity)
    an[IllegalArgumentException] should be thrownBy
      st.upsert("t", Seq((4L, "x", 0), (4L, "y", 1)).toDF("id", "v", "x"))
    st.table("t").count() shouldBe 3

    // upsert is PK-addressed; a table without one cannot take it
    st.create("nopk", Seq((1, "a")).toDF("id", "v"))
    an[IllegalArgumentException] should be thrownBy
      st.upsert("nopk", Seq((2, "b")).toDF("id", "v"))
  }

  test("all SET expressions observe the pre-update row (SET a=b, b=a swaps)") {
    val st = freshStore()
    st.create("t", Seq((1, 10, 20), (2, 3, 4)).toDF("id", "a", "b"))
    st.update("t", col("id") === 1, Map("a" -> col("b"), "b" -> col("a")))
    val r = st.table("t").filter($"id" === 1).head
    (r.getInt(1), r.getInt(2)) shouldBe ((20, 10)) // swapped, not (20, 20)
    an[IllegalArgumentException] should be thrownBy
      st.update("t", lit(true), Map("nosuch" -> lit(1)))
  }

  test("pruned DML addresses partition values needing path escaping") {
    val st = freshStore()
    val df = Seq((1, "flash sale", 10.0), (2, "a=b:c", 20.0), (3, "plain", 30.0))
      .toDF("id", "etype", "amount")
    st.createPartitioned("ev", df, "etype")
    val owners0 = st.partitionOwners("ev")
    // subdirs on disk are escaped exactly as partitionBy writes them
    // (Hive-style escaping touches '='/':'/'%' etc. but not spaces)
    owners0.keySet should contain("etype=a%3Db%3Ac")

    st.updateWherePruned("ev", col("etype") === "flash sale",
      Map("amount" -> lit(0.0))) shouldBe Seq("flash sale")
    val owners1 = st.partitionOwners("ev")
    owners1("etype=flash sale") should not be owners0("etype=flash sale")
    owners1("etype=plain") shouldBe owners0("etype=plain") // untouched, reused
    st.table("ev").filter($"amount" === 0.0).count() shouldBe 1
    st.table("ev").count() shouldBe 3

    st.deleteWherePruned("ev", col("etype") === "a=b:c") shouldBe Seq("a=b:c")
    st.table("ev").count() shouldBe 2
    st.table("ev").filter($"etype" === "a=b:c").count() shouldBe 0
  }

  test("validateTable reports PK/FK/CHECK violations") {
    val st = freshStore()
    st.create("parents", Seq((1, "a")).toDF("id", "v"), Seq(PrimaryKey(Seq("id"))))
    st.create("kids",
      Seq((1, 1, 25), (1, 99, 10), (2, 1, 17)).toDF("id", "pid", "age"),
      Seq(PrimaryKey(Seq("id")),
        ForeignKey(Seq("pid"), "parents", Seq("id"), Cascade),
        Check("age > 18", col("age") > 18)))
    val vs = st.validateTable("kids").map(v => v.constraint -> v.count).toMap
    vs("pk-dup(id)") shouldBe 1   // one duplicated key value
    vs("fk(pid→parents)") shouldBe 1
    vs("check(age > 18)") shouldBe 2 // 17 and 10
  }

  test("key constraints survive a store reopen: upsert by PK and FK cascade work") {
    val root = tempDir("graft-reopen").toString
    val st1 = new TableStore(spark, root)
    st1.create("parents", Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      Seq(PrimaryKey(Seq("id"))))
    st1.create("kids", Seq((10L, 1L), (11L, 2L)).toDF("kid", "pid"),
      Seq(PrimaryKey(Seq("kid")),
        ForeignKey(Seq("pid"), "parents", Seq("id"), Cascade)))

    val st2 = new TableStore(spark, root) // fresh session, same root
    // PK survived: upsert merges instead of refusing for lack of a key
    st2.upsert("parents", Seq((2L, "b2"), (3L, "c")).toDF("id", "v"))
    st2.table("parents").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq shouldBe
      Seq((1L, "a"), (2L, "b2"), (3L, "c"))
    // FK graph survived: deleting a parent cascades into kids
    st2.delete("parents", col("id") === 1L)
    st2.table("kids").collect().map(_.getLong(0)).toSeq shouldBe Seq(11L)
    // catalog listing sees both tables with their key constraints
    val cat = st2.describeCatalog().toMap
    cat("parents") should contain("pk(id)")
    cat("kids") should contain("fk(pid→parents)")
    // and the inbound-FK drop guard holds across sessions
    an[IllegalArgumentException] should be thrownBy st2.dropColumn("parents", "id")
  }

  test("a failed CREATE leaves no phantom catalog entry") {
    val root = tempDir("graft-phantom").toString
    val st1 = new TableStore(spark, root)
    st1.create("parents", Seq((1L, "a")).toDF("id", "v"), Seq(PrimaryKey(Seq("id"))))
    // this CREATE fails at write time (ANSI cast of a non-numeric string)
    val bad = Seq("oops").toDF("s").select(col("s").cast("int").as("pid"))
    an[Exception] should be thrownBy
      st1.create("kids", bad, Seq(ForeignKey(Seq("pid"), "parents", Seq("id"), Cascade)))
    // a fresh session must not hydrate the half-created table: the parent
    // stays deletable and the catalog lists only committed tables
    val st2 = new TableStore(spark, root)
    st2.describeCatalog().map(_._1) should not contain "kids"
    st2.delete("parents", col("id") === 1L) // would throw if the phantom FK loaded
    st2.table("parents").count() shouldBe 0
  }

  test("mergeInto: delete clause wins over update; inserts honor the flag; stats exact") {
    val st = freshStore()
    st.create("t", Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("id", "v", "x"),
      Seq(PrimaryKey(Seq("id"))))
    // source: id=1 marked KILL (delete), id=2 updated, id=9 new
    val src = Seq((1L, "KILL", 0), (2L, "B", 99), (9L, "n", 90)).toDF("id", "v", "x")
    val (nUpd, nDel, nIns) = st.mergeInto("t", src, Seq("id"),
      matchedUpdate = Map("v" -> TableStore.src("v"), "x" -> TableStore.src("x")),
      matchedDelete = Some(TableStore.src("v") === "KILL"))
    (nUpd, nDel, nIns) shouldBe ((1L, 1L, 1L))
    st.table("t").orderBy("id").as[(Long, String, Int)].collect() shouldBe
      Seq((2L, "B", 99), (3L, "c", 30), (9L, "n", 90))
  }

  test("mergeInto: insertUnmatched=false drops unmatched source; delete cond can read target") {
    val st = freshStore()
    st.create("t", Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "v", "x"),
      Seq(PrimaryKey(Seq("id"))))
    val src = Seq((1L, "A", 1), (2L, "B", 2), (7L, "g", 7)).toDF("id", "v", "x")
    // delete condition on the TARGET row: x >= 20 dies, smaller x updates
    val (nUpd, nDel, nIns) = st.mergeInto("t", src, Seq("id"),
      matchedUpdate = Map("v" -> TableStore.src("v")),
      matchedDelete = Some(col("x") >= 20), insertUnmatched = false)
    (nUpd, nDel, nIns) shouldBe ((1L, 1L, 0L))
    st.table("t").orderBy("id").as[(Long, String, Int)].collect() shouldBe
      Seq((1L, "A", 10))
  }

  test("snapshotDiff classifies added/removed/changed across versions; requires a PK") {
    val st = freshStore()
    st.create("t", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"),
      Seq(PrimaryKey(Seq("id"))))
    val v0 = st.liveVersions("t").max
    st.delete("t", col("id") === 3L)
    st.upsert("t", Seq((2L, "B"), (9L, "n")).toDF("id", "v"))
    val v1 = st.liveVersions("t").max
    val diff = st.snapshotDiff("t", v0, v1).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getString(3)))).toMap
    diff shouldBe Map(
      2L -> (("changed", "b", "B")),
      3L -> (("removed", "c", null)),
      9L -> (("added", null, "n"))) // key 1 unchanged → absent

    st.create("nopk", Seq((1, "x")).toDF("id", "v"))
    an[IllegalArgumentException] should be thrownBy st.snapshotDiff("nopk", 0, 0)
  }

  test("mergeInto: duplicate-key source is refused before any write") {
    val st = freshStore()
    st.create("t", Seq((1L, "a")).toDF("id", "v"), Seq(PrimaryKey(Seq("id"))))
    val v0 = st.liveVersions("t").max
    an[IllegalArgumentException] should be thrownBy {
      st.mergeInto("t", Seq((1L, "x"), (1L, "y")).toDF("id", "v"), Seq("id"),
        matchedUpdate = Map("v" -> TableStore.src("v")))
    }
    st.liveVersions("t").max shouldBe v0 // version pointer untouched
    st.table("t").as[(Long, String)].collect() shouldBe Seq((1L, "a"))
  }

  /** Run `body` over sidecars without their schema line — the layout of
    * stores written before schemas were recorded — then restore them. */
  private def withoutSchemaLines[A](st: TableStore)(body: => A): A = {
    val sidecars = Files.walk(Paths.get(st.rootDir)).iterator().asScala
      .filter(_.toString.endsWith(".stats")).toSeq
    val saved = sidecars.map(p => p -> Files.readAllBytes(p))
    saved.foreach { case (p, b) =>
      Files.write(p, new String(b).split("\n").filterNot(_.startsWith("S\t")).mkString("\n").getBytes)
    }
    try body finally saved.foreach { case (p, b) => Files.write(p, b) }
  }

  /** `read`'s schema comes from the stats sidecars without a Spark job,
    * and equals the schema Spark infers when the sidecars have none. */
  private def schemaWithoutJobs(st: TableStore)(read: => DataFrame): StructType = {
    var schema: StructType = null
    sparkActivity { schema = read.schema }.jobs shouldBe 0
    val inferred = withoutSchemaLines(st) {
      var s: StructType = null
      sparkActivity { s = read.schema }.jobs should be > 0
      s
    }
    schema shouldBe inferred
    schema
  }

  private val typed = Seq(
    (1, BigDecimal("10.50"), java.sql.Date.valueOf("2024-01-05"), true, "a"),
    (2, BigDecimal("0.01"), null, false, null)
  ).toDF("id", "price", "day", "flag", "name")
    .withColumn("price", col("price").cast("decimal(12,2)"))

  test("table() takes the schema from the stats sidecar: no job, inference's answer") {
    val st = freshStore()
    st.create("t", typed, Seq(PrimaryKey(Seq("id"))))
    val s0 = schemaWithoutJobs(st)(st.table("t"))
    s0 shouldBe spark.read.parquet(s"${st.rootDir}/t/v0").schema
    s0.map(f => f.name -> f.dataType.simpleString) shouldBe Seq("id" -> "int",
      "price" -> "decimal(12,2)", "day" -> "date", "flag" -> "boolean", "name" -> "string")
    st.addColumn("t", "score", "int", "7")
    schemaWithoutJobs(st)(st.table("t")).fieldNames.last shouldBe "score"
    st.insert("t", Seq((3, BigDecimal("1.00"), java.sql.Date.valueOf("2024-02-01"), true, "c", 1))
      .toDF("id", "price", "day", "flag", "name", "score")
      .withColumn("price", col("price").cast("decimal(12,2)")))
    st.dropColumn("t", "flag")
    st.renameColumn("t", "name", "label")
    schemaWithoutJobs(st)(st.table("t")).fieldNames.toSeq shouldBe
      Seq("id", "price", "day", "label", "score")
    st.table("t").orderBy("id").select("label", "score").collect().map(r =>
      (r.getString(0), r.getInt(1))).toSeq shouldBe Seq(("a", 7), (null, 7), ("c", 1))
  }

  test("sidecar schemas hold across append chains, partitions and pinned versions") {
    val st = freshStore()
    st.create("a", typed.limit(1))
    st.appendBatch("a", 0L, typed)
    st.appendBatch("a", 1L, typed.filter(col("id") === 2))
    schemaWithoutJobs(st)(st.table("a"))
    schemaWithoutJobs(st)(st.scanSkipping("a", Seq(FileStats.ColumnRange("id", Some(2), None)))._1)
    st.table("a").count() shouldBe 4

    st.createPartitioned("ev", typed, "name")
    st.updateWherePruned("ev", col("id") === 1, Map("flag" -> lit(false)))
    schemaWithoutJobs(st)(st.table("ev")).fieldNames.last shouldBe "name"

    st.create("p", typed)
    val pinned = st.pinVersion("p", "release")
    st.update("p", col("id") === 1, Map("name" -> lit("z")))
    st.addColumn("p", "extra", "string", "'x'")
    st.analyze("p")
    schemaWithoutJobs(st)(st.tableAt("p", pinned)) shouldBe
      spark.read.parquet(s"${st.rootDir}/p/v$pinned").schema
    schemaWithoutJobs(st)(st.tableAtPin("p", "release"))
    schemaWithoutJobs(st)(st.table("p")).fieldNames.last shouldBe "extra"
  }

  test("a store whose stats sidecars have no schema line still reads") {
    val st = freshStore()
    st.create("t", typed)
    st.appendBatch("t", 0L, typed)
    withoutSchemaLines(st) {
      st.table("t").count() shouldBe 4
      st.insert("t", typed) shouldBe 2
    }
    st.table("t").count() shouldBe 6
  }

  test("DML counts are the same from the stats and from the count() fallback") {
    for (dropStats <- Seq(false, true)) {
      val st = freshStore()
      // a missing sidecar on the snapshot forces the count() fallback
      def snapshot(name: String): Unit =
        if (dropStats) Files.delete(Paths.get(st.rootDir, name, s"v${st.currentVersionOf(name)}.stats"))
      st.create("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq(PrimaryKey(Seq("id"))))
      snapshot("t")
      st.insert("t", Seq((2L, "dup"), (3L, "c"), (3L, "dup-in-batch")).toDF("id", "v"),
        onConflictDoNothing = true) shouldBe 1
      snapshot("t")
      st.insert("t", Seq((4L, "d"), (5L, "e")).toDF("id", "v")) shouldBe 2
      snapshot("t")
      st.upsert("t", Seq((2L, "B"), (6L, "f")).toDF("id", "v")) shouldBe ((1L, 1L))
      snapshot("t")
      st.mergeInto("t", Seq((1L, "KILL"), (3L, "C"), (7L, "g")).toDF("id", "v"), Seq("id"),
        matchedUpdate = Map("v" -> TableStore.src("v")),
        matchedDelete = Some(TableStore.src("v") === "KILL")) shouldBe ((1L, 1L, 1L))
      snapshot("t")
      st.delete("t", col("id") >= 6L) shouldBe 2
      snapshot("t")
      st.delete("t", col("id") === 99L) shouldBe 0
      st.table("t").orderBy("id").as[(Long, String)].collect().toSeq shouldBe
        Seq((2L, "B"), (3L, "C"), (4L, "d"), (5L, "e"))
    }
  }

  test("a refused RESTRICT delete releases its cached rows") {
    val st = freshStore()
    st.create("categories", Seq((1, "fruit")).toDF("catid", "name"),
      Seq(PrimaryKey(Seq("catid"))))
    st.create("subcategories", Seq((10, 1)).toDF("subid", "catid"),
      Seq(ForeignKey(Seq("catid"), "categories", Seq("catid"), Restrict)))
    val before = spark.sparkContext.getPersistentRDDs.size
    an[IllegalStateException] should be thrownBy
      st.delete("categories", col("catid") === 1)
    spark.sparkContext.getPersistentRDDs.size shouldBe before
  }

  test("an empty CREATE commits without a Spark job, and its version reads, inserts, travels and analyzes") {
    val st = freshStore()
    sparkActivity {
      st.create("e", typed.limit(0), Seq(PrimaryKey(Seq("id"))))
    }.jobs shouldBe 0
    // the schema a Spark write of an empty frame records, in the sidecar
    // and in the file's footer
    st.create("s", typed.filter(col("id") < 0))
    st.table("e").schema shouldBe st.table("s").schema
    spark.read.parquet(s"${st.rootDir}/e/v0").schema shouldBe
      spark.read.parquet(s"${st.rootDir}/s/v0").schema
    st.table("e").schema.map(f => f.name -> f.dataType.simpleString) shouldBe Seq("id" -> "int",
      "price" -> "decimal(12,2)", "day" -> "date", "flag" -> "boolean", "name" -> "string")
    // a snapshot of zero rows is a local relation: reading it runs no job
    st.table("e").queryExecution.analyzed shouldBe a[LocalRelation]
    sparkActivity { st.table("e").collect() shouldBe empty }.jobs shouldBe 0
    val stats = st.analyze("e")
    (stats.rows, stats.version) shouldBe ((0L, 0))

    st.insert("e", typed, onConflictDoNothing = true) shouldBe 2
    st.insert("e", typed, onConflictDoNothing = true) shouldBe 0
    st.pinVersion("e", "empty", 0) shouldBe 0
    st.analyze("e").rows shouldBe 2
    st.tableAt("e", 0).collect() shouldBe empty
    st.tableAt("e", 0).schema shouldBe st.table("s").schema
    st.table("e").orderBy("id").select("id", "price").as[(Int, BigDecimal)].collect().toSeq shouldBe
      Seq((1, BigDecimal("10.50")), (2, BigDecimal("0.01")))
  }

  test("pinVersion answers from the record: no job, the same failure for a vacuumed or missing version") {
    val st = freshStore()
    st.create("t", typed)                                              // v0
    st.update("t", col("id") === 1, Map("name" -> lit("z")))           // v1
    // with no recorded schema any planned read would infer one in a job
    withoutSchemaLines(st) {
      sparkActivity { st.pinVersion("t", "first", 0) shouldBe 0 }.jobs shouldBe 0
    }
    st.update("t", col("id") === 2, Map("name" -> lit("y")))           // v2
    st.analyze("t")                                                    // v1 vacuumed
    the[IllegalArgumentException] thrownBy st.pinVersion("t", "gone", 1) should have message
      "requirement failed: t version 1 was vacuumed; time travel only reaches versions " +
        "analyze() has not reclaimed"
    the[IllegalArgumentException] thrownBy st.pinVersion("t", "ahead", 3) should have message
      "requirement failed: t has no version 3 (current: v2)"
    st.tableAtPin("t", "first").filter(col("name") === "z").count() shouldBe 0
  }
}
