package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.sources.TableStore
import graft.streaming.EventStream

/** Exactly-once streaming sink (VERDICT r2 #8): foreachBatch appends into
  * the versioned table store, keyed by epoch id committed atomically with
  * the version pointer — replaying an epoch must never duplicate rows. */
class ExactlyOnceSinkSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore() =
    new TableStore(spark, tempDir("graft-eos").toString)

  test("appendBatch is idempotent per epoch and O(batch) via manifest reuse") {
    val st = freshStore()
    st.create("t", Seq((1L, "a")).toDF("id", "s"))

    st.appendBatch("t", 0L, Seq((2L, "b")).toDF("id", "s")) shouldBe true
    st.table("t").count() shouldBe 2
    // replay of epoch 0 — crash between sink commit and checkpoint commit
    st.appendBatch("t", 0L, Seq((2L, "b")).toDF("id", "s")) shouldBe false
    st.table("t").count() shouldBe 2
    st.appendBatch("t", 1L, Seq((3L, "c")).toDF("id", "s")) shouldBe true
    st.table("t").count() shouldBe 3
    // prior versions' files are REUSED, not rewritten: v1 holds only its
    // batch; the manifest stitches v0..v2 together
    st.table("t").orderBy("id").select("id").as[Long].collect().toSeq shouldBe Seq(1L, 2L, 3L)
  }

  test("interleaved DML carries the ledger: replays still no-op afterwards") {
    val st = freshStore()
    st.create("t", Seq((1L, 10.0)).toDF("id", "x"))
    st.appendBatch("t", 7L, Seq((2L, 20.0)).toDF("id", "x")) shouldBe true
    // a full-rewrite UPDATE between epochs flips a fresh version; the
    // committed-batch ledger must survive the flip
    st.update("t", org.apache.spark.sql.functions.col("id") === 1L,
      Map("x" -> org.apache.spark.sql.functions.lit(11.0)))
    st.appendBatch("t", 7L, Seq((2L, 20.0)).toDF("id", "x")) shouldBe false
    st.table("t").count() shouldBe 2
    st.table("t").filter($"x" === 11.0).count() shouldBe 1
    // vacuum keeps the current ledger, drops superseded sidecars, data intact
    st.analyze("t")
    st.appendBatch("t", 7L, Seq((2L, 20.0)).toDF("id", "x")) shouldBe false
    st.table("t").count() shouldBe 2
  }

  test("compact collapses an append chain and keeps the epoch ledger") {
    val st = freshStore()
    st.create("t", Seq((1L, "a")).toDF("id", "s"))
    (0L until 4L).foreach { e =>
      st.appendBatch("t", e, Seq((10L + e, s"b$e")).toDF("id", "s")) shouldBe true
    }
    st.compact("t")
    st.table("t").count() shouldBe 5
    // one live version dir remains after the rewrite + vacuum
    val dirs = new java.io.File(s"${st.rootDir}/t").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v")).map(_.getName)
    dirs.length shouldBe 1
    // replayed epochs still no-op post-compaction
    st.appendBatch("t", 2L, Seq((12L, "b2")).toDF("id", "s")) shouldBe false
    st.table("t").count() shouldBe 5
    // compact must refuse a partitioned table rather than flatten it
    st.createPartitioned("p", Seq((1L, "a")).toDF("id", "par"), "par")
    an[IllegalArgumentException] should be thrownBy st.compact("p")
  }

  test("time travel reads historical versions until vacuum reclaims them") {
    val st = freshStore()
    st.create("t", Seq((1L, "a")).toDF("id", "s"))                 // v0
    st.appendBatch("t", 0L, Seq((2L, "b")).toDF("id", "s"))        // v1
    st.update("t", org.apache.spark.sql.functions.col("id") === 1L,
      Map("s" -> org.apache.spark.sql.functions.lit("z")))         // v2

    st.tableAt("t", 0).select("s").as[String].collect().toSeq shouldBe Seq("a")
    st.tableAt("t", 1).count() shouldBe 2
    st.tableAt("t", 2).filter($"s" === "z").count() shouldBe 1
    st.liveVersions("t") shouldBe Seq(0, 1, 2)
    an[IllegalArgumentException] should be thrownBy st.tableAt("t", 3)

    st.analyze("t") // vacuum: superseded versions become unreachable, loudly
    st.liveVersions("t") shouldBe Seq(2)
    an[IllegalArgumentException] should be thrownBy st.tableAt("t", 0)
    st.tableAt("t", 2).count() shouldBe 2 // current version always reachable
  }

  test("partitioned appendBatch reuses prior partitions and keeps pruned DML working") {
    val st = freshStore()
    st.createPartitioned("ev", Seq((1L, "2024-01-01", 1.0), (2L, "2024-01-02", 2.0))
      .toDF("id", "day", "x"), "day")
    // epoch 0 appends a new day plus more rows for an existing day
    st.appendBatch("ev", 0L,
      Seq((3L, "2024-01-02", 3.0), (4L, "2024-01-03", 4.0)).toDF("id", "day", "x")) shouldBe true
    st.table("ev").count() shouldBe 4
    // replay no-ops
    st.appendBatch("ev", 0L,
      Seq((3L, "2024-01-02", 3.0)).toDF("id", "day", "x")) shouldBe false
    st.table("ev").count() shouldBe 4
    // prior partitions are REUSED: day=2024-01-01 still lives in v0
    val owners = st.partitionOwners("ev")
    owners("day=2024-01-01") shouldBe "v0"
    // partition-pruned DML still works across the append chain, touching
    // rows of one day that now spans TWO version dirs
    st.updateWherePruned("ev", org.apache.spark.sql.functions.col("day") === "2024-01-02",
      Map("x" -> org.apache.spark.sql.functions.lit(-1.0))) shouldBe Seq("2024-01-02")
    st.table("ev").filter($"x" === -1.0).count() shouldBe 2
    st.table("ev").count() shouldBe 4
    // untouched days still reused after the pruned rewrite + vacuum
    st.analyze("ev")
    st.table("ev").count() shouldBe 4
    st.appendBatch("ev", 1L,
      Seq((5L, "2024-01-04", 5.0)).toDF("id", "day", "x")) shouldBe true
    st.table("ev").count() shouldBe 5
  }

  test("update-mode aggregation streams through exactlyOnceUpsertSink") {
    implicit val sqlCtx = spark.sqlContext
    import graft.constraints.Constraints._
    val st = freshStore()
    st.create("agg",
      Seq.empty[(Timestamp, String, Long, Double)]
        .toDF("hour_start", "event_type", "n_events", "value_sum"),
      Seq(PrimaryKey(Seq("hour_start", "event_type"))))

    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val ckpt = tempDir("graft-eos-agg-ckpt").toString
    val q = EventStream.hourlyRollup(events).writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch(EventStream.exactlyOnceUpsertSink(st, "agg"))
      .start()
    try {
      input.addData((Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0))
      q.processAllAvailable()
      // same window again: the changed aggregate row must REPLACE, not append
      input.addData((Timestamp.valueOf("2024-01-01 10:45:00"), "click", 2.0))
      q.processAllAvailable()
      val rows = st.table("agg").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      rows.toSeq shouldBe Seq(("2024-01-01 10:00:00.0", "click", 2L, 3.0))
      // replayed epoch: upsert must no-op on the committed id
      val lastEpoch = q.lastProgress.batchId
      st.upsertBatch("agg", lastEpoch,
        Seq((Timestamp.valueOf("2024-01-01 10:00:00"), "click", 99L, 99.0))
          .toDF("hour_start", "event_type", "n_events", "value_sum")) shouldBe ((0L, 0L))
      st.table("agg").collect().map(_.getLong(2)).toSeq shouldBe Seq(2L)
    } finally q.stop()
  }

  test("cold restart from checkpoint: ledger + version flip survive a mid-epoch crash") {
    // The crash this proves out: the sink committed epoch N (store version
    // flipped, ledger carries N) but the process died BEFORE Structured
    // Streaming wrote commits/N — on restart the engine re-executes epoch
    // N from offsets/N with the same id. Exactly-once requires the replay
    // to no-op against the on-disk ledger read by a FRESH store handle
    // (the cold-JVM equivalent: nothing in memory survives).
    val st1 = freshStore()
    st1.create("ev", Seq.empty[(Long, Double)].toDF("id", "value"))
    val srcDir = tempDir("graft-crash-src").toString
    val ckpt = tempDir("graft-crash-ckpt").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    def addFile(rows: Seq[(Long, Double)]): Unit =
      rows.toDF("id", "value").coalesce(1).write.mode("append").parquet(srcDir)
    def drain(st: TableStore): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(EventStream.exactlyOnceSink(st, "ev"))
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    addFile(Seq((1L, 1.0), (2L, 2.0)))
    addFile(Seq((3L, 3.0)))
    drain(st1)
    st1.table("ev").count() shouldBe 3

    // crash simulation: drop the newest commit marker so the restarted
    // query replays that epoch (offsets/N exists, commits/N does not)
    val commitFiles = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit))
    commitFiles should not be empty
    val lastEpoch = commitFiles.map(_.getName.toInt).max
    assert(new java.io.File(s"$ckpt/commits/$lastEpoch").delete())
    // the local ChecksumFs keeps a .crc sidecar per commit file; a leftover
    // one fails the re-written commit's atomic rename (HDFS/object stores
    // have no such sidecar, so this is test-env-only cleanup)
    new java.io.File(s"$ckpt/commits/.$lastEpoch.crc").delete()

    // cold restart: new store handle over the same root (reads manifests
    // and ledger from disk only) + new data arriving after the crash
    val st2 = new TableStore(spark, st1.rootDir)
    addFile(Seq((4L, 4.0)))
    drain(st2)

    // zero dupes (replayed epoch no-oped), zero losses (post-crash file landed)
    st2.table("ev").orderBy("id").select("id").as[Long].collect().toSeq shouldBe
      Seq(1L, 2L, 3L, 4L)
    // and the ledger still refuses the replayed epoch id directly
    st2.appendBatch("ev", lastEpoch.toLong,
      Seq((3L, 3.0)).toDF("id", "value")) shouldBe false
    st2.table("ev").count() shouldBe 4
  }

  test("a real stream through exactlyOnceSink lands each epoch exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val st = freshStore()
    st.create("ev", Seq.empty[(Timestamp, Long, Double)].toDF("ts", "user_id", "value"))

    val input = MemoryStream[(Timestamp, Long, Double)]
    val ckpt = tempDir("graft-eos-ckpt").toString
    val q = input.toDF().toDF("ts", "user_id", "value").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(EventStream.exactlyOnceSink(st, "ev"))
      .start()
    try {
      input.addData((Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 1.0))
      q.processAllAvailable()
      input.addData((Timestamp.valueOf("2024-01-01 10:01:00"), 2L, 2.0),
        (Timestamp.valueOf("2024-01-01 10:02:00"), 3L, 3.0))
      q.processAllAvailable()
      st.table("ev").count() shouldBe 3
      // simulate the restart-replay of the final epoch: Structured
      // Streaming re-invokes foreachBatch with the SAME epoch id when the
      // sink committed but the checkpoint didn't — must be a no-op
      val lastEpoch = q.lastProgress.batchId
      EventStream.exactlyOnceSink(st, "ev")(
        Seq((Timestamp.valueOf("2024-01-01 10:02:00"), 3L, 3.0)).toDF("ts", "user_id", "value"),
        lastEpoch)
      st.table("ev").count() shouldBe 3
    } finally q.stop()
  }
}
