package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.constraints.Constraints._

class ConstraintsSpec extends SparkSpec {
  import spark.implicits._

  /** Fused validate answers exactly as the per-check reference: the same
    * violations in the same order, with equal counts and equal row counts
    * of their lazy frames. */
  private def sameAsReference(df: DataFrame, cs: Seq[Constraint],
                              parents: String => DataFrame): Seq[(String, Long)] = {
    val fused = validate(df, cs, parents)
    val ref = ConstraintsReference.validate(df, cs, parents)
    fused.map(v => (v.constraint, v.count, v.rows.count())) shouldBe
      ref.map(v => (v.constraint, v.count, v.rows.count()))
    fused.map(_.rows.columns.toSeq) shouldBe ref.map(_.rows.columns.toSeq)
    fused.map(v => v.constraint -> v.count)
  }

  private def sameAuditAsReference(df: DataFrame, pk: Seq[String],
      fks: Seq[(Seq[String], DataFrame, Seq[String])]): Seq[(String, Long)] = {
    val fused = auditReport(df, pk, fks).collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    fused shouldBe ConstraintsReference.auditReport(df, pk, fks)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    fused
  }

  test("validate finds nulls, dups, orphans, check and unique violations") {
    val parent = Seq(1, 2).toDF("pid")
    val df = Seq(
      (Some(1), 1, 20, "a"),
      (Some(1), 2, 21, "b"),   // dup pk
      (None, 1, 22, "c"),      // null pk
      (Some(3), 9, 17, "a")    // orphan fk, check violation, dup name
    ).toDF("id", "pid", "age", "name")
    val m = sameAsReference(df, Seq(
      PrimaryKey(Seq("id")),
      ForeignKey(Seq("pid"), "parent", Seq("pid"), Cascade),
      Check("age>18", col("age") > 18),
      Unique(Seq("name"))), _ => parent).toMap
    m("pk-null(id)") shouldBe 1
    m("pk-dup(id)") shouldBe 1
    m("fk(pid→parent)") shouldBe 1
    m("check(age>18)") shouldBe 1
    m("unique-dup(name)") shouldBe 1
  }

  test("auditReport mirrors the reference dashboard shape") {
    val parent = Seq(1).toDF("pid")
    val df = Seq((1, 1), (1, 1), (2, 9)).toDF("id", "pid")
    val report = sameAuditAsReference(df, Seq("id"), Seq((Seq("pid"), parent, Seq("pid")))).toMap
    report("duplicate_pk") shouldBe 1
    report("null_pk") shouldBe 0
    report("orphan_fk_0") shouldBe 1
  }

  test("fused checks: composite FK, NULL FK, duplicate parent keys, NOT NULL") {
    // parent keys repeat: a membership test must not multiply child rows
    val parent = Seq((1, "x"), (1, "x"), (2, "y")).toDF("a", "b")
    val df = Seq(
      (10, Some(1), Some("x"), Some("n1")),
      (11, Some(1), Some("y"), None),        // composite orphan, NULL name
      (12, None, Some("x"), Some("n2")),     // NULL FK part: never an orphan
      (13, Some(2), Some("y"), Some("n3")),
      (14, Some(5), None, None)              // NULL FK part, NULL name
    ).toDF("id", "fa", "fb", "name")
    val cs = Seq(PrimaryKey(Seq("id")),
      ForeignKey(Seq("fa", "fb"), "parent", Seq("a", "b"), Cascade),
      NotNullCol("name"), Default("name", lit("?")))
    sameAsReference(df, cs, _ => parent) shouldBe
      Seq("fk(fa,fb→parent)" -> 1L, "notnull(name)" -> 2L)
    sameAuditAsReference(df, Seq("id"),
      Seq((Seq("fa", "fb"), parent, Seq("a", "b")), (Seq("fa"), parent, Seq("a")))) shouldBe
      Seq("duplicate_pk" -> 0L, "null_pk" -> 0L, "orphan_fk_0" -> 1L, "orphan_fk_1" -> 1L)
  }

  test("fused checks: a NULL-PK group of two rows is one duplicate group") {
    val df = Seq((None: Option[Int], "a"), (None: Option[Int], "b"), (Some(1), "c"))
      .toDF("id", "v")
    sameAsReference(df, Seq(PrimaryKey(Seq("id"))), _ => df) shouldBe
      Seq("pk-null(id)" -> 2L, "pk-dup(id)" -> 1L)
    sameAuditAsReference(df, Seq("id"), Nil) shouldBe
      Seq("duplicate_pk" -> 1L, "null_pk" -> 2L)
    // no PK at all: the flags still run as one aggregate
    sameAsReference(df, Seq(NotNullCol("id"), Check("v<>b", col("v") =!= "b")), _ => df) shouldBe
      Seq("notnull(id)" -> 2L, "check(v<>b)" -> 1L)
    sameAsReference(df.limit(0), Seq(PrimaryKey(Seq("id"))), _ => df) shouldBe Nil
  }

  test("validate runs one fused action for a table without UNIQUE") {
    val parent = Seq(1, 2).toDF("pid")
    val df = Seq((1, 1, 20), (1, 9, 17), (2, 2, 30)).toDF("id", "pid", "age")
    val cs = Seq(PrimaryKey(Seq("id")),
      ForeignKey(Seq("pid"), "parent", Seq("pid"), Cascade),
      Check("age>18", col("age") > 18))
    val vs = sparkActivity(validate(df, cs, _ => parent).map(_.count))
    vs.sqlExecutions shouldBe 1
  }

  test("applyDefaults fills only NULLs") {
    val df = Seq((1, Some(true)), (2, None: Option[Boolean])).toDF("id", "prime")
    val out = applyDefaults(df, Seq(Default("prime", lit(false))))
      .orderBy("id").collect().map(_.getBoolean(1))
    out.toSeq shouldBe Seq(true, false)
  }
}
