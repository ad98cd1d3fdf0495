package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions._
import graft.constraints.Constraints._
import graft.sources.TableStore

/** Metadata-only ALTER TABLE ADD COLUMN (`TableStore.addColumn`): no data
  * rewrite at alter time, defaults visible immediately, later writes
  * materialize physically, time travel stays version-correct.
  */
class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore() =
    new TableStore(spark, tempDir("graft-evolve").toString)

  private def parquetFiles(dir: String): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala
      .filter(f => f.toString.endsWith(".parquet") && Files.isRegularFile(f))
      .toSeq.sorted
  }

  test("add column is metadata-only: same data files, default visible") {
    val st = freshStore()
    st.create("t", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    val before = parquetFiles(st.rootDir)
    st.addColumn("t", "score", "BIGINT", "0")
    parquetFiles(st.rootDir) shouldBe before // not one byte of data rewritten
    val rows = st.table("t").orderBy("id").collect()
    rows.map(_.getLong(2)).toSeq shouldBe Seq(0L, 0L)
    st.table("t").schema("score").dataType.typeName shouldBe "long"
  }

  test("string default, and a second add stacks on the first") {
    val st = freshStore()
    st.create("t", Seq((1, "a")).toDF("id", "v"))
    st.addColumn("t", "lang", "STRING", "'unknown'")
    st.addColumn("t", "weight", "DOUBLE", "1.0")
    val r = st.table("t").head
    r.getString(2) shouldBe "unknown"
    r.getDouble(3) shouldBe 1.0
  }

  test("duplicate name and malformed default are refused") {
    val st = freshStore()
    st.create("t", Seq((1, "a")).toDF("id", "v"))
    an[IllegalArgumentException] should be thrownBy
      st.addColumn("t", "V", "STRING", "''") // case-insensitive collision
    an[Exception] should be thrownBy
      st.addColumn("t", "w", "BIGINT", "not_a_column_or_literal")
  }

  test("a later UPDATE materializes the column; values survive physically") {
    val st = freshStore()
    st.create("t", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    st.addColumn("t", "score", "BIGINT", "0")
    st.update("t", col("id") === 2, Map("score" -> lit(7L)))
    val got = st.table("t").orderBy("id").collect().map(r => (r.getInt(0), r.getLong(2)))
    got.toSeq shouldBe Seq((1, 0L), (2, 7L))
    // the current version dir physically contains the column now
    val cur = spark.read.parquet(s"${st.rootDir}/t/v2")
    cur.columns should contain("score")
  }

  test("time travel is version-correct across the schema change") {
    val st = freshStore()
    st.create("t", Seq((1, "a")).toDF("id", "v")) // v0
    st.addColumn("t", "score", "BIGINT", "0")     // v1 (metadata-only)
    st.update("t", col("id") === 1, Map("score" -> lit(5L))) // v2
    st.tableAt("t", 0).columns should not contain "score"
    st.tableAt("t", 1).head.getLong(2) shouldBe 0L
    st.tableAt("t", 2).head.getLong(2) shouldBe 5L
  }

  test("partitioned table: pruned DML after add rewrites only its partition") {
    val st = freshStore()
    st.createPartitioned("t",
      Seq((1, "us", "a"), (2, "eu", "b"), (3, "eu", "c")).toDF("id", "region", "v"),
      "region")
    st.addColumn("t", "flag", "STRING", "'new'")
    st.updateWherePruned("t", col("region") === "eu", Map("flag" -> lit("set")))
    // untouched partition still owned by the original version dir
    st.partitionOwners("t")("region=us") shouldBe "v0"
    val got = st.table("t").orderBy("id").collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[String]("flag")))
    got.toSeq shouldBe Seq((1, "new"), (2, "set"), (3, "set"))
  }

  test("inserts carry the column; NULL backfills via the registered default") {
    val st = freshStore()
    st.create("t", Seq((1, "a")).toDF("id", "v"))
    st.addColumn("t", "score", "BIGINT", "42")
    st.insert("t", Seq((2, "b", None: Option[Long])).toDF("id", "v", "score"))
    val got = st.table("t").orderBy("id").collect().map(_.getLong(2))
    got.toSeq shouldBe Seq(42L, 42L)
  }

  test("upsert after add merges on the evolved schema") {
    val st = freshStore()
    st.create("t", Seq((1, "a"), (2, "b")).toDF("id", "v"),
      Seq(PrimaryKey(Seq("id"))))
    st.addColumn("t", "score", "BIGINT", "0")
    st.upsert("t", Seq((2, "b2", 9L), (3, "c", 1L)).toDF("id", "v", "score"))
    val got = st.table("t").orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    got.toSeq shouldBe Seq((1, "a", 0L), (2, "b2", 9L), (3, "c", 1L))
  }

  test("drop column is metadata-only and immediate; re-add starts fresh") {
    val st = freshStore()
    st.create("t", Seq((1, "a", 10L), (2, "b", 20L)).toDF("id", "v", "score"))
    val before = parquetFiles(st.rootDir)
    st.dropColumn("t", "score")
    parquetFiles(st.rootDir) shouldBe before
    st.table("t").columns should not contain "score"
    // re-add with a new type: old physical values must NOT resurrect
    st.addColumn("t", "score", "STRING", "'fresh'")
    st.table("t").orderBy("id").collect().map(_.getString(2)).toSeq shouldBe
      Seq("fresh", "fresh")
    // time travel still sees the original values before the drop
    st.tableAt("t", 0).orderBy("id").collect().map(_.getLong(2)).toSeq shouldBe
      Seq(10L, 20L)
  }

  test("drop refuses key and partition columns") {
    val st = freshStore()
    st.create("t", Seq((1, "a")).toDF("id", "v"), Seq(PrimaryKey(Seq("id"))))
    an[IllegalArgumentException] should be thrownBy st.dropColumn("t", "id")
    st.createPartitioned("p", Seq((1, "us")).toDF("id", "region"), "region")
    an[IllegalArgumentException] should be thrownBy st.dropColumn("p", "region")
    an[IllegalArgumentException] should be thrownBy st.dropColumn("t", "nope")
  }

  test("drop refuses CHECK-referenced and inbound-FK-referenced columns") {
    val st = freshStore()
    st.create("t", Seq((1, "a", 5L)).toDF("id", "v", "score"),
      Seq(Check("pos_score", col("score") > 0)))
    an[IllegalArgumentException] should be thrownBy st.dropColumn("t", "score")
    st.create("parent", Seq((1, "x")).toDF("pid", "w"), Seq(PrimaryKey(Seq("pid"))))
    st.create("child", Seq((10, 1)).toDF("cid", "pref"),
      Seq(ForeignKey(Seq("pref"), "parent", Seq("pid"), Restrict)))
    an[IllegalArgumentException] should be thrownBy st.dropColumn("parent", "pid")
  }

  test("non-constant and nondeterministic defaults are refused") {
    val st = freshStore()
    st.create("t", Seq((1, "a")).toDF("id", "v"))
    an[Exception] should be thrownBy st.addColumn("t", "x", "BIGINT", "id + 1")
    an[IllegalArgumentException] should be thrownBy st.addColumn("t", "y", "DOUBLE", "rand()")
  }

  test("drop, re-add, then physical rewrite: re-added values survive reads") {
    val st = freshStore()
    st.create("t", Seq((1, "a", 10L), (2, "b", 20L)).toDF("id", "v", "score"))
    st.dropColumn("t", "score")                      // v1
    st.addColumn("t", "score", "BIGINT", "0")        // v2
    st.update("t", col("id") === 1, Map("score" -> lit(7L))) // v3: materializes
    // the carried [DROP, ADD] deltas must NOT strip the rewritten files'
    // real values and refill defaults (deltas older than the files no-op)
    val got = st.table("t").orderBy("id").collect().map(r => (r.getInt(0), r.getLong(2)))
    got.toSeq shouldBe Seq((1, 7L), (2, 0L))
    st.table("t").orderBy("id").collect() // stable on a second read
      .map(_.getLong(2)).toSeq shouldBe Seq(7L, 0L)
  }

  test("a sidecar pre-written without a version flip is not adopted by the next publish") {
    val st = freshStore()
    st.create("t", Seq((1, "a")).toDF("id", "v"), Seq(PrimaryKey(Seq("id"))))
    // simulate an ALTER that crashed after writing its record but before
    // flipping VERSION: v1.snap exists, VERSION still says 0. The record
    // carries a phantom column, a phantom constraint and a phantom
    // ledger entry
    Files.write(Paths.get(s"${st.rootDir}/t/v1.snap"), Seq(
      "PART\t", "ENTRY\t.\tv0", "ADD\t1\tphantom\tBIGINT\t99",
      "PK\tid", "UNIQUE\tv", "BATCH\tghost\t7").mkString("\n").getBytes)
    // publishes v1 over v0's files too, so an adopted ADD (newer than v0)
    // would fill the phantom column into v0's rows
    st.appendBatch("t", 0L, Seq((2, "b")).toDF("id", "v")) shouldBe true
    st.table("t").columns.toSeq shouldBe Seq("id", "v")
    val reopened = new TableStore(spark, st.rootDir)
    reopened.table("t").columns.toSeq shouldBe Seq("id", "v")
    reopened.constraintsOf("t") shouldBe Seq(PrimaryKey(Seq("id")))
    reopened.batchCommitted("t", 7L, "ghost") shouldBe false
    reopened.batchCommitted("t", 0L) shouldBe true
  }

  test("physical rewrite after a drop leaves the bytes behind for good") {
    val st = freshStore()
    st.create("t", Seq((1, "a", 10L)).toDF("id", "v", "score"))
    st.dropColumn("t", "score")
    st.update("t", col("id") === 1, Map("v" -> lit("z")))
    // the rewritten current version dir physically lacks the column
    spark.read.parquet(s"${st.rootDir}/t/v2").columns should not contain "score"
    st.table("t").head.getString(1) shouldBe "z"
  }

  test("rename column is metadata-only; values survive under the new name") {
    val st = freshStore()
    st.create("t", Seq((1, "a", 10L), (2, "b", 20L)).toDF("id", "v", "score"))
    val before = parquetFiles(st.rootDir)
    st.renameColumn("t", "score", "points")
    parquetFiles(st.rootDir) shouldBe before
    st.table("t").columns.toSeq shouldBe Seq("id", "v", "points")
    st.table("t").orderBy("id").collect().map(_.getLong(2)).toSeq shouldBe Seq(10L, 20L)
    // time travel: the old version still shows the old name
    st.tableAt("t", 0).columns should contain("score")
  }

  test("rename follows the PK: upsert still merges on the renamed key") {
    val st = freshStore()
    st.create("t", Seq((1, "a"), (2, "b")).toDF("id", "v"),
      Seq(PrimaryKey(Seq("id"))))
    st.renameColumn("t", "id", "doc_id")
    st.upsert("t", Seq((2, "b2"), (3, "c")).toDF("doc_id", "v"))
    st.table("t").orderBy("doc_id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq shouldBe
      Seq((1, "a"), (2, "b2"), (3, "c"))
  }

  test("rename refuses collisions, partition columns, and CHECK dependents") {
    val st = freshStore()
    st.create("t", Seq((1, "a", 5L)).toDF("id", "v", "score"),
      Seq(Check("pos", col("score") > 0)))
    an[IllegalArgumentException] should be thrownBy st.renameColumn("t", "v", "score")
    an[IllegalArgumentException] should be thrownBy st.renameColumn("t", "score", "pts")
    an[IllegalArgumentException] should be thrownBy st.renameColumn("t", "nope", "x")
    st.createPartitioned("p", Seq((1, "us")).toDF("id", "region"), "region")
    an[IllegalArgumentException] should be thrownBy st.renameColumn("p", "region", "r")
  }

  test("rename then physical rewrite; a later add may reuse the old name freshly") {
    val st = freshStore()
    st.create("t", Seq((1, "a", 10L)).toDF("id", "v", "score"))
    st.renameColumn("t", "score", "points")                  // v1
    st.update("t", col("id") === 1, Map("points" -> lit(11L))) // v2 materializes
    st.addColumn("t", "score", "STRING", "'fresh'")          // v3: old name, new column
    val r = st.table("t").head
    r.getAs[Long]("points") shouldBe 11L
    r.getAs[String]("score") shouldBe "fresh" // physical old bytes not resurrected
  }

  test("ALTER identifiers that would corrupt the sidecar are refused up front") {
    val st = freshStore()
    st.create("t", Seq((1, "a")).toDF("id", "v"))
    an[IllegalArgumentException] should be thrownBy st.addColumn("t", "a\tb", "BIGINT", "0")
    an[IllegalArgumentException] should be thrownBy st.addColumn("t", "a\nb", "BIGINT", "0")
    an[IllegalArgumentException] should be thrownBy st.renameColumn("t", "v", "x\ty")
    an[IllegalArgumentException] should be thrownBy
      st.addColumn("t", "w", "BIGINT", "0\t-- smuggled")
    st.table("t").columns.toSeq shouldBe Seq("id", "v") // nothing committed
  }

  test("case-only rename is a legitimate rename, not a collision") {
    val st = freshStore()
    st.create("t", Seq((1, "a", 5L)).toDF("id", "v", "score"))
    st.renameColumn("t", "score", "Score")
    st.table("t").columns.toSeq shouldBe Seq("id", "v", "Score")
    st.table("t").head.getAs[Long]("Score") shouldBe 5L
  }

  test("append chain across a schema change: old epochs default, new epochs carry values") {
    val st = freshStore()
    st.create("t", Seq((1L, "a")).toDF("id", "v"))
    st.appendBatch("t", 1L, Seq((2L, "b")).toDF("id", "v"))
    st.addColumn("t", "score", "BIGINT", "0")
    // the post-evolution epoch carries the column physically
    st.appendBatch("t", 2L, Seq((3L, "c", 9L)).toDF("id", "v", "score"))
    val got = st.table("t").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("score")))
    got.toSeq shouldBe Seq((1L, 0L), (2L, 0L), (3L, 9L))
    // replaying an old epoch id stays a no-op across the schema change
    st.appendBatch("t", 1L, Seq((99L, "x", 1L)).toDF("id", "v", "score")) shouldBe false
    st.table("t").count() shouldBe 3
  }

  test("vacuum keeps the shared data alive while the current version needs it") {
    val st = freshStore()
    st.create("t", Seq((1, "a")).toDF("id", "v"))
    st.addColumn("t", "score", "BIGINT", "0")
    st.analyze("t") // must NOT reclaim v0: the v1 manifest references it
    st.table("t").head.getLong(2) shouldBe 0L
  }
}
