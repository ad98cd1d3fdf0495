package graft

import org.apache.spark.sql.functions._
import graft.sources.{FileStats, TableStore}
import graft.sources.FileStats.ColumnRange

/** File-level min/max data skipping (VERDICT r2 next-round #4): selective
  * predicates must read FEWER FILES, not just fewer partitions, and the
  * skipped scan must stay exactly equivalent to a full filter. */
class DataSkippingSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore() =
    new TableStore(spark, tempDir("graft-skip").toString)

  test("selective range reads only overlapping files; result matches full filter") {
    val st = freshStore()
    val df = spark.range(0, 4000).toDF("id")
      .withColumn("name", concat(lit("user"), format_string("%05d", col("id"))))
      .repartitionByRange(4, col("id")) // 4 files with disjoint id ranges
    st.create("t", df)

    val (scan, rep) = st.scanSkipping("t", Seq(ColumnRange("id", Some(1500L), Some(1600L))))
    rep.filesTotal shouldBe 4
    rep.filesRead should be <= 2 // the range straddles at most a boundary
    scan.count() shouldBe 101
    scan.agg(sum("id")).head.getLong(0) shouldBe (1500L to 1600L).sum

    // string equality prunes on UTF-8-ordered string stats
    val (scan2, rep2) = st.scanSkipping("t",
      Seq(ColumnRange("name", Some("user00042"), Some("user00042"))))
    rep2.filesRead shouldBe 1
    scan2.select("id").head.getLong(0) shouldBe 42L

    // a range beyond every file's max reads nothing, schema intact
    val (scan3, rep3) = st.scanSkipping("t", Seq(ColumnRange("id", Some(99999L), None)))
    rep3.filesRead shouldBe 0
    scan3.count() shouldBe 0
    scan3.columns.toSeq shouldBe Seq("id", "name")

    // conjunction: both ranges must overlap for a file to survive
    val (_, rep4) = st.scanSkipping("t", Seq(
      ColumnRange("id", Some(0L), Some(100L)),
      ColumnRange("name", Some("user03900"), None)))
    rep4.filesRead shouldBe 0
  }

  test("stats follow pruned DML across mixed version dirs and survive vacuum") {
    val st = freshStore()
    val df = (0 until 1000)
      .map(i => (i.toLong, if (i % 2 == 0) "even" else "odd", i * 1.0))
      .toDF("id", "par", "x")
    st.createPartitioned("ev", df, "par")

    st.updateWherePruned("ev", col("par") === "even" && col("id") < 10,
      Map("x" -> lit(-1.0))) shouldBe Seq("even")

    // snapshot now spans v0 (odd, reused) and v1 (even, rewritten); the
    // skipped scan must consult BOTH versions' stats and stay exact
    def check(): Unit = {
      val (scan, rep) = st.scanSkipping("ev", Seq(ColumnRange("id", Some(0L), Some(9L))))
      scan.count() shouldBe 10
      scan.filter($"x" === -1.0).count() shouldBe 5
      rep.filesRead should be < rep.filesTotal
    }
    check()
    st.analyze("ev") // vacuum must not delete stats of still-referenced dirs
    check()
  }

  test("files without a recorded stat for the column are conservatively read") {
    val st = freshStore()
    st.create("t", Seq((1L, Array[Byte](1, 2))).toDF("id", "blob"))
    // binary columns carry no recorded stats → range on blob keeps the file
    val (_, rep) = st.scanSkipping("t", Seq(ColumnRange("id", Some(1L), Some(1L))))
    rep.filesRead shouldBe rep.filesTotal
  }

  test("clustered write makes skipping effective; unclustered stats overlap everywhere") {
    val st = freshStore()
    // deterministic interleaved order: every file of a naive write holds
    // the full id range, so its min/max prune nothing
    val df = spark.range(0, 8000).toDF("seq")
      .withColumn("id", (col("seq") * 2654435761L) % 8000)
      .drop("seq")
    st.create("messy", df.repartition(8))
    st.createClustered("clustered", df, Seq("id"), files = 8)

    val r = Seq(ColumnRange("id", Some(1000L), Some(1999L)))
    val (_, repMessy) = st.scanSkipping("messy", r)
    val (scan, repClus) = st.scanSkipping("clustered", r)
    repMessy.filesRead shouldBe repMessy.filesTotal // overlapping stats: no skip
    repClus.filesTotal shouldBe 8
    // range boundaries are sampled, so the 1/8-range query may straddle a
    // couple of them — but never the whole table
    repClus.filesRead should be <= 3
    scan.count() shouldBe 1000 // and still exactly the right rows
  }

  test("z-order clustering skips on EVERY cluster dimension; 1-D sort only on its own") {
    val st = freshStore()
    // two independent uniform dimensions (decorrelated via multiplicative
    // hashing) — the workload where a single-column sort helps only one
    // predicate and z-order helps both
    val df = spark.range(0, 16000).toDF("seq")
      .withColumn("a", (col("seq") * 2654435761L) % 4000)
      .withColumn("b", (col("seq") * 40503L) % 4000)
      .drop("seq")
    st.createClustered("by_a", df, Seq("a"), files = 16)
    st.createZOrdered("zord", df, Seq("a", "b"), files = 16)

    val onA = Seq(ColumnRange("a", Some(0L), Some(499L)))   // 1/8 of dim a
    val onB = Seq(ColumnRange("b", Some(0L), Some(499L)))   // 1/8 of dim b

    val (_, aOnA) = st.scanSkipping("by_a", onA)
    val (_, aOnB) = st.scanSkipping("by_a", onB)
    aOnA.filesRead should be <= 4        // sorted dim: strong skipping
    aOnB.filesRead shouldBe aOnB.filesTotal // other dim: none at all

    val (za, zOnA) = st.scanSkipping("zord", onA)
    val (zb, zOnB) = st.scanSkipping("zord", onB)
    // the z-curve trades perfect 1-D skipping for partial skipping in BOTH
    zOnA.filesRead should be < zOnA.filesTotal
    zOnB.filesRead should be < zOnB.filesTotal
    za.count() shouldBe 2000 // 500 values × 4 occurrences each
    zb.count() shouldBe 2000
  }

  test("optimizeZOrder re-clusters an existing messy table: skipping restored, rows identical") {
    val st = freshStore()
    val df = spark.range(0, 16000).toDF("seq")
      .withColumn("a", (col("seq") * 2654435761L) % 4000)
      .withColumn("b", (col("seq") * 40503L) % 4000)
      .drop("seq")
    st.create("t", df.repartition(16)) // interleaved: stats overlap everywhere
    val onA = Seq(ColumnRange("a", Some(0L), Some(499L)))
    val onB = Seq(ColumnRange("b", Some(0L), Some(499L)))
    val (_, before) = st.scanSkipping("t", onA)
    before.filesRead shouldBe before.filesTotal

    val sum0 = st.table("t").agg(org.apache.spark.sql.functions.sum(col("a") + col("b")))
      .head().getLong(0)
    st.optimizeZOrder("t", Seq("a", "b"), files = 16)

    val (sa, afterA) = st.scanSkipping("t", onA)
    val (sb, afterB) = st.scanSkipping("t", onB)
    afterA.filesRead should be < afterA.filesTotal
    afterB.filesRead should be < afterB.filesTotal
    sa.count() shouldBe 2000
    sb.count() shouldBe 2000
    st.table("t").count() shouldBe 16000 // same multiset, new layout
    st.table("t").agg(org.apache.spark.sql.functions.sum(col("a") + col("b")))
      .head().getLong(0) shouldBe sum0
  }

  test("optimizeZOrder refuses partitioned tables rather than destroying their layout") {
    val st = freshStore()
    st.createPartitioned("p",
      Seq((1L, "a"), (2L, "b")).toDF("id", "par"), "par")
    an[IllegalArgumentException] should be thrownBy
      st.optimizeZOrder("p", Seq("id"), files = 2)
    st.table("p").count() shouldBe 2 // untouched
  }

  test("unnormalizable bounds keep files that HAVE stats on the column") {
    val st = freshStore()
    st.create("t", Seq((1L, java.sql.Date.valueOf("2021-06-01")),
      (2L, java.sql.Date.valueOf("2022-06-01"))).toDF("id", "d"))
    // java.time.LocalDate is valid for lit() and the exact predicate but
    // not a type norm() understands; the documented contract is "unknown
    // answers yes" — a present-but-unnormalizable bound must behave like
    // no bound, not like an always-false one that skips every file
    val (scan, rep) = st.scanSkipping("t",
      Seq(ColumnRange("d", Some(java.time.LocalDate.of(2022, 1, 1)), None)))
    rep.filesRead shouldBe rep.filesTotal
    // the exact-predicate re-filter still applies underneath
    scan.select("id").as[Long].collect().toSeq shouldBe Seq(2L)
  }

  test("NaN/Infinity double values neither break DML nor cause wrong skips") {
    val st = freshStore()
    val df = Seq(
      (1L, Double.NaN), (2L, Double.PositiveInfinity),
      (3L, Double.NegativeInfinity), (4L, 1.5), (5L, 2.5)
    ).toDF("id", "x").repartition(1)
    st.create("t", df) // collectStats on ±Inf/NaN bounds must not throw
    // the x column's bounds include non-finite values → no stats recorded,
    // every range on x keeps the file
    val (scan, rep) = st.scanSkipping("t", Seq(ColumnRange("x", Some(2.0), None)))
    rep.filesRead shouldBe rep.filesTotal
    // Spark orders NaN greater than any double, so NaN, +Inf and 2.5 all
    // satisfy x >= 2.0 — exactly why a file with NaN must never be skipped
    scan.count() shouldBe 3
    // DML on the table (rewrites files, re-collects stats) must also work
    st.update("t", col("id") === 4L, Map("x" -> lit(9.5)))
    st.table("t").filter(col("x") === 9.5).count() shouldBe 1
  }

  test("float bounds inside the decimal-print gap do not skip matching files") {
    val st = freshStore()
    val f = 1.1f // binary value 1.10000002384185791015625
    st.create("t", Seq((1L, f), (2L, 0.5f)).toDF("id", "x").repartition(1))
    // a double bound between decimal 1.1 and the binary float: with
    // shortest-roundtrip-string stats ("1.1") this file would be skipped
    val lo = 1.100000001
    val (scan, rep) = st.scanSkipping("t", Seq(ColumnRange("x", Some(lo), None)))
    rep.filesRead shouldBe rep.filesTotal
    scan.count() shouldBe 1 // the 1.1f row matches x >= 1.100000001
  }

  test("mightContainAnyId: binary-search keep test over sorted probe ids") {
    import FileStats.{ColStat, FileStat}
    def fs(mn: Long, mx: Long) = FileStat("f", 1,
      Map("id" -> ColStat("num", hasNonNull = true, mn.toString, mx.toString)))
    val ids = Array(5L, 40L, 1000L)
    FileStats.mightContainAnyId(fs(0, 4), "id", ids) shouldBe false
    FileStats.mightContainAnyId(fs(0, 5), "id", ids) shouldBe true // hi edge
    FileStats.mightContainAnyId(fs(5, 5), "id", ids) shouldBe true // point
    FileStats.mightContainAnyId(fs(6, 39), "id", ids) shouldBe false // gap
    FileStats.mightContainAnyId(fs(39, 41), "id", ids) shouldBe true
    FileStats.mightContainAnyId(fs(1001, 9999), "id", ids) shouldBe false
    // unknown column / non-integer stats / all-NULL column
    FileStats.mightContainAnyId(fs(0, 4), "other", ids) shouldBe true
    FileStats.mightContainAnyId(FileStat("f", 1,
      Map("id" -> ColStat("num", hasNonNull = true, "1.5", "2.5"))),
      "id", ids) shouldBe true // conservative on non-long bounds
    FileStats.mightContainAnyId(FileStat("f", 1,
      Map("id" -> ColStat("num", hasNonNull = false, "", ""))),
      "id", ids) shouldBe false // all NULL: equality matches nothing
    FileStats.mightContainAnyId(fs(0, 100), "id", Array.empty[Long]) shouldBe false
  }

  test("scanSkippingIds: candidate-id file prune reads only files holding an id") {
    val st = freshStore()
    // 8 files with disjoint contiguous id ranges of 500
    st.create("t", spark.range(0, 4000).toDF("id")
      .withColumn("v", col("id") * 2)
      .repartitionByRange(8, col("id")).sortWithinPartitions("id"))
    // ids scattered over 3 of the 8 ranges
    val ids = Array(12L, 777L, 3500L)
    val (scan, rep) = st.scanSkippingIds("t", Nil, "id", ids)
    rep.filesTotal shouldBe 8
    // ≤ 3 files hold the 3 scattered ids (range boundaries are sampled,
    // so two ids can share a file); the other ≥ 5 are skipped
    rep.filesRead should be <= 3
    // the scan is a SUPERSET contract: all rows of kept files (a strict
    // subset of the table), exactly the id rows after the caller's own
    // restriction
    scan.count() should be < 4000L
    scan.filter(col("id").isin(ids.map(Long.box): _*)).count() shouldBe 3
    // composed with a range: the range prunes further and IS applied
    val (scan2, rep2) = st.scanSkippingIds("t",
      Seq(ColumnRange("id", Some(3000L), None)), "id", ids)
    rep2.filesRead should be <= 1
    scan2.filter(col("id") < 3000).count() shouldBe 0L
    scan2.filter(col("id") === 3500L).count() shouldBe 1L
    // empty probe set reads nothing
    val (scan3, rep3) = st.scanSkippingIds("t", Nil, "id", Array.empty[Long])
    rep3.filesRead shouldBe 0
    scan3.count() shouldBe 0L
  }

  test("compactClustered restores pruning a plain compact destroys") {
    val st = freshStore()
    st.create("t", spark.range(0, 1000).toDF("id")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id"))
    // append chain: each epoch its own sorted files over a new id range
    (1 to 4).foreach { e =>
      st.appendBatch("t", e.toLong,
        spark.range(e * 1000L, e * 1000L + 1000).toDF("id")
          .repartitionByRange(4, col("id")).sortWithinPartitions("id"))
    }
    val ids = Array(42L, 2042L, 4042L)
    val (_, before) = st.scanSkippingIds("t", Nil, "id", ids)
    before.filesRead should be < before.filesTotal
    // plain compact: value-correct but stats-spanning files → no pruning
    st.compact("t")
    val (flat, afterPlain) = st.scanSkippingIds("t", Nil, "id", ids)
    flat.filter(col("id").isin(ids.map(Long.box): _*)).count() shouldBe 3
    afterPlain.filesRead shouldBe afterPlain.filesTotal
    // clustered compact: chain collapsed AND disjoint ranges restored
    st.compactClustered("t", Seq("id"), minFiles = 8)
    val (scan, after) = st.scanSkippingIds("t", Nil, "id", ids)
    after.filesTotal shouldBe 8
    after.filesRead should be < after.filesTotal
    scan.filter(col("id").isin(ids.map(Long.box): _*)).count() shouldBe 3
    st.table("t").count() shouldBe 5000
    // the batch ledger survives: a replayed epoch still no-ops
    st.appendBatch("t", 4L, spark.range(9000L, 9010L).toDF("id"))
    st.table("t").count() shouldBe 5000
  }

  test("band prune key: order-aligned (band, bv-prefix) longs prune a grown band region") {
    import graft.operators.Dedup
    val st = freshStore()
    // a grown store's band region: 4000 band rows over 4 bands with
    // md5 hex band values, laid out the way the dedup stores write them
    // — range-clustered on (kind, bkt, doc_id). The r14 design hashed
    // (band, bv) into 64 fixed buckets, so any probe with ≥ ~270 keys
    // covered every bucket and nothing pruned; the prune key's
    // resolution must instead scale with FILE count.
    val rows = spark.range(0, 4000).toDF("doc_id")
      .withColumn("kind", lit(3))
      .withColumn("band", pmod(col("doc_id"), lit(4)).cast("int"))
      .withColumn("bv", md5(concat(col("doc_id").cast("string"), lit("x"))))
      .withColumn("bkt", Dedup.bandBucket(col("band"), col("bv")))
    st.create("state", rows
      .repartitionByRange(64, col("kind"), col("bkt"), col("doc_id"))
      .sortWithinPartitions("kind", "bkt", "doc_id"))

    // order alignment: the packed long sorts exactly like (band, bv)
    val sample = rows.limit(500).select("band", "bv", "bkt").collect()
    val byKey = sample.sortBy(r => (r.getInt(0), r.getString(1))).map(_.getLong(2))
    byKey.toSeq shouldBe byKey.sorted.toSeq

    // an epoch probing 6 band keys reads ~6 of the 64 files however the
    // keys scatter over the value space
    val probe = rows.filter(col("doc_id")
        .isin(3L, 777L, 1500L, 2222L, 3001L, 3999L))
      .select("band", "bv", "bkt").collect()
    val keys = probe.map(_.getLong(2)).distinct.sorted
    val (scan, rep) = st.scanSkippingIds("state",
      Seq(ColumnRange("kind", Some(3), Some(3))), "bkt", keys)
    rep.filesTotal shouldBe 64
    rep.filesRead should be <= keys.length + 2 // boundary straddle slack
    // lossless superset: every probed (band, bv) row survives the read
    val got = scan.select("band", "bv").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    probe.foreach(p => got should contain((p.getInt(0), p.getString(1))))
  }
}
