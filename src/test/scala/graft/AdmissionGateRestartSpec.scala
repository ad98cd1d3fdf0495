package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** q191 restart idempotence (ADVICE r10 #1): the admission sink's TWO
  * cross-batch effects — the admitted append and the carried per-source
  * totals upsert — must no-op when a restarted micro-batch re-offers a
  * committed epoch id. The injected crash lands in the worst window:
  * after the epoch's store writes committed but before Structured
  * Streaming wrote its commit marker, so the restart genuinely replays
  * the epoch with the same id and data. Without the ledger the replay
  * would double-count carried totals (cutting later docs early) AND
  * duplicate the epoch's admitted rows. */
class AdmissionGateRestartSpec extends SparkSpec {

  test("q191: a replayed admission epoch no-ops on both ledgers") {
    import spark.implicits._
    val docs = (1L to 120L).map { i =>
      (i, s"s${i % 3}", 7L) // every doc 7 tokens; budget cuts mid-stream
    }.toDF("doc_id", "source", "ntok")
    val budget = 100L
    val storeRoot = tempDir("graft-admit-restart")
    val srcDir = tempDir("graft-admit-restart-src")
    val ckpt = tempDir("graft-admit-restart-ckpt")
    try {
      val st = new graft.sources.TableStore(spark, storeRoot.toString)
      operators.CorpusOps.admitCreateTables(st,
        docs.withColumn("text", lit("")).withColumn("lang", lit(""))
          .withColumn("n_chars", lit(0L))
          .select("doc_id", "source", "ntok"))
      val width = operators.Epochs.stageAligned(srcDir,
        operators.EventsOps.slicedStages(docs, col("doc_id"), 1L, 120L, 4), 1)
      var applied = Vector.empty[Long]
      def run(crashAfter: Option[Long]): Unit = {
        // a fresh gate per run: the in-memory totals cache must hydrate
        // from the durable state table, exactly like a restarted JVM
        val gate = new operators.CorpusOps.AdmissionGate(st, budget)
        val q = spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", width.toString).parquet(srcDir.toString)
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt.toString)
          .foreachBatch { (batch: DataFrame, epoch: Long) =>
            gate.admit(batch, epoch)
            applied :+= epoch
            if (crashAfter.contains(epoch))
              throw new RuntimeException("injected crash: stores committed, checkpoint not")
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination()
        catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
      }
      run(crashAfter = Some(1L)) // die after epoch 1 committed, before its marker
      run(crashAfter = None)     // restart: epoch 1 REPLAYS, then 2 and 3 apply
      applied.count(_ == 1L) shouldBe 2 // the replay really happened
      val got = operators.CorpusOps.admittedRows(st)
        .orderBy("doc_id").collect().toSeq
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val truth = docs.withColumn("cum_tokens", sum(col("ntok")).over(w))
        .filter(col("cum_tokens") <= budget)
        .select("doc_id", "source", "ntok", "cum_tokens")
        .orderBy("doc_id").collect().toSeq
      got.size should be > 0
      got shouldBe truth
      // carried state settled at each source's true total (sentinel-row
      // representation: the live value is max(cum_tokens) per source)
      val state = st.table("admission_log").groupBy("source")
        .agg(max(col("cum_tokens")).as("total")).orderBy("source").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      val trueTotals = docs.groupBy("source").agg(sum("ntok").as("t"))
        .orderBy("source").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      state shouldBe trueTotals
    } finally {
      operators.EventsOps.rmTree(srcDir)
      operators.EventsOps.rmTree(ckpt)
      operators.EventsOps.rmTree(storeRoot)
    }
  }
}
