package graft

import org.apache.spark.sql.functions._
import graft.functions.CleanFunctions
import graft.operators.Similarity
import graft.operators.NativeOps

class ExpressionSpec extends SparkSpec {
  import spark.implicits._

  test("native uuid5 expression matches the built-in composition bit-for-bit") {
    val df = Seq("a", "b", "key-42").toDF("k")
    val rows = df.select(
      CleanFunctions.uuid5("ns", col("k")).as("composed"),
      expr("uuid5('ns', k)").as("native")).collect()
    rows.foreach(r => r.getString(0) shouldBe r.getString(1))
  }

  test("native dot_f64 fuses into codegen and matches a manual dot product") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val d = df.select(expr("dot_f64(a, b)")).head.getDouble(0)
    d shouldBe (1.0 * 4 + 2.0 * 5 + 3.0 * 6) +- 1e-12
    // codegen path over a real scan (literals get constant-folded):
    // the projection executes inside WholeStageCodegen without fallback
    val scan = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .selectExpr("vec_id", "dot_f64(embedding, embedding) AS nrm")
    scan.collect().length shouldBe 500
    val plan = scan.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    plan should include("codegen id :")
  }

  test("stop_hits rejects malformed word lists with a clear message (ADVICE r10)") {
    val df = Seq("the quick fox").toDF("t")
      .select(split(col("t"), " ").as("toks"), col("t"))
    // null element in the folded literal list
    val e1 = intercept[Exception] {
      df.select(expr("stop_hits(toks, array('a', CAST(NULL AS STRING)))")).collect()
    }
    e1.getMessage should include("NULL element")
    // wrong element type in the word list
    val e2 = intercept[Exception] {
      df.select(expr("stop_hits(toks, array(1, 2))")).collect()
    }
    e2.getMessage should include("ARRAY<STRING>")
    // non-array token column: clear analysis-time error, not a cast crash
    val e3 = intercept[Exception] {
      df.select(expr("stop_hits(t, array('a'))")).collect()
    }
    e3.getMessage should include("ARRAY<STRING>")
    // NULL list
    val e4 = intercept[Exception] {
      df.select(expr("stop_hits(toks, CAST(NULL AS ARRAY<STRING>))")).collect()
    }
    e4.getMessage should include("NULL")
    // the happy path still counts
    df.select(expr("stop_hits(toks, array('the', 'fox'))")).head.getInt(0) shouldBe 2
  }

  test("parquet footer row count matches a real count without a scan job") {
    val sf = "/root/testdata/sf0.001"
    graft.core.Tables.parquetRowCount(spark, s"$sf/documents.parquet") shouldBe
      graft.core.Tables.documents(spark, sf).count()
    graft.core.Tables.parquetRowCount(spark, s"$sf/nation.parquet") shouldBe 25L
  }

  test("native cosine top-k ranks identically to the exact-decimal variant") {
    val sf = "/root/testdata/sf0.001"
    val exact = Similarity.q50.build(spark, sf)
      .select("query_id", "neighbor_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val native = NativeOps.q57.build(spark, sf)
      .select("query_id", "neighbor_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    native shouldBe exact
  }
}
