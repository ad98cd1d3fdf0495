package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._

/** Invariants for the time-series operators over the real sf0.001 tables —
  * properties the DuckDB oracle cannot state (it only proves equality, not
  * that both engines compute a *sensible* series).
  */
class EventsOpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q153 gap fill: per-user spine is contiguous and conserves event counts") {
    val rows = operators.EventsOps.q153.build(spark, dir)
      .select("user_id", "n_events", "cum_events").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val perUserEvents = graft.core.Tables.events(spark, dir)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byUser = rows.groupBy(_._1)
    byUser.keySet shouldBe perUserEvents.keySet
    byUser.foreach { case (uid, rs) =>
      // cum is the running sum of the filled series and ends at the true total
      rs.map(_._2).sum shouldBe perUserEvents(uid)
      rs.map(_._3).max shouldBe perUserEvents(uid)
      // the spine actually fills gaps: rows ≥ distinct active hours
      rs.length.toLong should be >= rs.count(_._2 > 0).toLong
    }
    // gap filling is real on this data: at least one zero-hour exists
    rows.count(_._2 == 0L) should be > 0
  }

  test("streaming gates leave /tmp flat: staging dirs cleaned up across repeated runs") {
    def stageDirs(): Set[String] = {
      val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
      val s = java.nio.file.Files.list(tmp)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => Seq("graft-stream", "graft-late", "graft-outer", "graft-scd2",
          "graft-stage", "graft-admit", "graft-enrich", "graft-q", "graft-upsert",
          "graft-merge", "graft-diff", "graft-mv", "graft-evolve-q", "graft-skip",
          "graft-shard-store").exists(n.startsWith))
        .toSet
      finally s.close()
    }
    val before = stageDirs()
    Seq(operators.DmlQueries.q87, operators.DmlQueries.q116, operators.DmlQueries.q124,
      operators.DmlQueries.q102, operators.DmlQueries.q104, operators.Extras.q127,
      operators.CorpusOps.q196).foreach(_.build(spark, dir).collect()) // store roots cleaned
    operators.EventsOps.q132.build(spark, dir).collect()
    operators.EventsOps.q145.build(spark, dir).collect()
    operators.EventsOps.q148.build(spark, dir).collect() // partials dir cleaned
    operators.EventsOps.q149.build(spark, dir).collect() // partials dir cleaned
    operators.EventsOps.q183.build(spark, dir).collect()
    operators.EventsOps.q183.build(spark, dir).collect() // repeated run: no accumulation
    operators.EventsOps.q167.build(spark, dir).collect()
    operators.EventsOps.q179.build(spark, dir).collect()
    operators.EventsOps.q187.build(spark, dir).collect()
    operators.Warehouse.q188.build(spark, dir).collect() // store root cleaned
    operators.Warehouse.q189.build(spark, dir).collect() // staging + ckpt + store cleaned
    operators.CorpusOps.q191.build(spark, dir).collect() // staging + partials cleaned
    operators.EventsOps.q193.build(spark, dir).collect() // staging + partials cleaned
    stageDirs() shouldBe before
  }

  test("a streaming gate leaves its caller's conf, temp views and streams alone") {
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var running = true
    val poller = new Thread(() => while (running) {
      seen.add(spark.conf.get("spark.sql.shuffle.partitions"))
      Thread.sleep(1)
    })
    poller.start()
    try operators.EventsOps.q167.build(spark, dir).collect()
    finally { running = false; poller.join() }
    seen.asScala.toSet shouldBe Set(width)

    // the caller's own view and stream, named like q145's sink
    val sink = "q145_hourly_sink"
    spark.range(3).createOrReplaceTempView(sink)
    val mine = spark.readStream.format("rate").load().writeStream
      .format("noop").queryName(sink)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 hour"))
      .start()
    try {
      operators.EventsOps.q145.build(spark, dir).collect() should not be empty
      mine.isActive shouldBe true
      spark.streams.active.map(_.id) should contain(mine.id)
      spark.table(sink).count() shouldBe 3L
    } finally {
      mine.stop()
      spark.catalog.dropTempView(sink)
    }
  }

  test("q193 stream-static enrichment conserves facts and matches the batch join") {
    val rows = operators.EventsOps.q193.build(spark, dir).collect()
    val total = graft.core.Tables.events(spark, dir).count()
    // a LEFT enrichment join must never drop or duplicate facts
    rows.map(_.getLong(2)).sum shouldBe total
    val batch = graft.core.Tables.events(spark, dir)
      .join(graft.core.Tables.customer(spark, dir),
        col("user_id") === col("c_custkey"), "left")
      .groupBy(coalesce(col("c_mktsegment"), lit("(none)")).as("segment"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap shouldBe batch
  }

  test("q183 multi-file replay (equal-width batches) equals single-file replay") {
    val single = operators.EventsOps.q183.build(spark, dir).collect().toSeq
    val multi = operators.EventsOps.q183Impl(rowsPerFile = 100L)(spark, dir)
      .collect().toSeq
    multi shouldBe single
    single.size should be > 0
  }

  test("q149 time-sliced replay (strict time-range batches) equals the single-batch replay") {
    // force the 100×-replica shape at test scale: many strict time slices,
    // watermark advancing (and state evicting) between batches — the
    // inner-join output must be identical to the whole-corpus-in-one-batch
    // replay, proving slicing loses no pairs and drops nothing as late
    val single = operators.EventsOps.q149.build(spark, dir).collect().toSeq
    val multi = operators.EventsOps.q149Impl(rowsPerFile = 100L)(spark, dir)
      .collect().toSeq
    multi shouldBe single
    single.size should be > 0
  }

  test("q191 sliced admission replay equals single-batch replay and the batch cumsum") {
    // the carried per-source totals must make sliced admission identical
    // to admitting the whole corpus in one batch — and both must equal a
    // plain batch cumulative-sum selection (the oracle's form)
    val docsDir = "/root/testdata/sf0.001"
    val single = operators.CorpusOps.q191.build(spark, docsDir).collect().toSeq
    val multi = operators.CorpusOps.q191Impl(rowsPerFile = 50L)(spark, docsDir)
      .collect().toSeq
    multi shouldBe single
    import org.apache.spark.sql.functions._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val batch = graft.core.Tables.documents(spark, docsDir)
      .select(col("doc_id"), col("source"),
        org.apache.spark.sql.functions.size(split(trim(col("text")), " "))
          .cast("long").as("ntok"))
      .withColumn("cum_tokens", sum(col("ntok")).over(w))
      .filter(col("cum_tokens") <= operators.CorpusOps.AdmissionBudgetTokens)
      .orderBy("doc_id").collect().toSeq
    single shouldBe batch
    single.size should be > 0
  }

  test("q187 multi-file replay (padded carrier batches) equals single-file replay") {
    // force the 100×-replica staging shape at test scale: events split
    // across several replay files, carrier batches padded with empty
    // files — the outer-join output must be identical to the default
    // single-file three-batch replay
    val single = operators.EventsOps.q187.build(spark, dir).collect().toSeq
    val multi = operators.EventsOps.q187Impl(rowsPerFile = 100L)(spark, dir)
      .collect().toSeq // sf0.001 events ≫ 100 rows
    multi shouldBe single
    single.size should be > 0
  }

  test("q163 seasonal-naive eval agrees with a driver-side recount") {
    val rows = operators.EventsOps.q163.build(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val ev = graft.core.Tables.events(spark, dir)
      .selectExpr("event_type", "unix_seconds(date_trunc('hour', ts)) div 3600 as h")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val lo = ev.map(_._2).min
    val hi = ev.map(_._2).max
    val counts = ev.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    rows.foreach { case (t, nHours, errS, errN, ppm) =>
      val series = (lo to hi).map(h => counts.getOrElse((t, h), 0L))
      val scored = (168 until series.length).map(i =>
        (math.abs(series(i) - series(i - 168)), math.abs(series(i) - series(i - 1))))
      nHours shouldBe scored.length.toLong
      errS shouldBe scored.map(_._1).sum
      errN shouldBe scored.map(_._2).sum
      ppm shouldBe errS * 1000000L / math.max(errN, 1L)
    }
  }

  test("an RDD-backed frame's unknown size plans the floor replay width") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L), Row(2L))),
      StructType(Seq(StructField("id", LongType))))
    val est = operators.EventsOps.planBytes(df)
    operators.EventsOps.replayWidth(est) shouldBe 8
    // q227 adds two estimates: unknown volume must not overflow the sum
    operators.EventsOps.replayWidth(est + est) shouldBe 8
    // a parquet scan keeps its real file bytes
    operators.EventsOps.planBytes(graft.core.Tables.events(spark, dir)) should be > 0L
  }

  test("q155 drift: counts conserve and ppm shares sum to ~1e6 per half") {
    val rows = operators.EventsOps.q155.build(spark, dir).collect()
    val total = graft.core.Tables.events(spark, dir).count()
    val (n1, n2) = (rows.map(_.getLong(1)).sum, rows.map(_.getLong(2)).sum)
    n1 + n2 shouldBe total
    // both halves are populated (the midpoint split is real)
    n1 should be > 0L
    n2 should be > 0L
    // floor-quantized shares lose < 1 ppm per category
    val k = rows.length
    rows.map(_.getLong(3)).sum should (be <= 1000000L and be > (1000000L - k))
    rows.map(_.getLong(4)).sum should (be <= 1000000L and be > (1000000L - k))
  }
}
