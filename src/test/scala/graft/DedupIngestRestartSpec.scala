package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** q199 restart idempotence: the streaming dedup gate's state IS the
  * signature store — ONE kind-tagged state table whose single per-epoch
  * append (minhash signatures + shingle hashes + cut verdicts) rides the
  * exactly-once epoch ledger. The injected crash lands after an epoch's
  * store commit but before the streaming commit marker, so the restart
  * genuinely replays the epoch. Without the ledger the replay would
  * double-append the batch's signatures (inflating every later Jaccard
  * denominator) and duplicate cut verdicts. */
class DedupIngestRestartSpec extends SparkSpec {

  test("q199: a replayed dedup-ingest epoch no-ops on the store ledger") {
    import spark.implicits._
    // seeded corpus with engineered near-dups across slice boundaries:
    // docs 5/65/95 are verbatim copies of doc 5's text (J = 1.0), doc 40
    // is a near-copy; filler docs are unique
    val base = "the quick brown fox jumps over the lazy dog again and again " * 3
    val rows = (1L to 120L).map { i =>
      val text =
        if (Set(5L, 65L, 95L).contains(i)) base
        else if (i == 40L) base + " tail"
        else s"unique document $i " + Seq.tabulate(12)(j => s"w${i}_$j").mkString(" ")
      (i, text, "en", s"s${i % 3}", text.length.toLong)
    }
    val docs = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft-dedupingest-data")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // truth: the gate's own bounded replay on the same corpus (its
    // equivalence to the monolithic oracle is the q199 correctness gate)
    val truth = operators.Dedup.q199Impl(rowsPerFile = 20L)(spark, dir.toString)
      .collect().map(_.toString).toSeq

    val storeRoot = tempDir("graft-dedupingest-store")
    val srcDir = tempDir("graft-dedupingest-src")
    val ckpt = tempDir("graft-dedupingest-ckpt")
    try {
      val st = new graft.sources.TableStore(spark, storeRoot.toString)
      val staged = docs.select("doc_id", "text")
      operators.Dedup.buildDedupState(st, staged.limit(0))
      val width = operators.Epochs.stageAligned(srcDir,
        operators.EventsOps.slicedStages(staged, col("doc_id"), 1L, 120L, 4), 1)
      var applied = Vector.empty[Long]
      def run(crashAfter: Option[Long]): Unit = {
        val q = spark.readStream.schema(staged.schema)
          .option("maxFilesPerTrigger", width.toString).parquet(srcDir.toString)
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt.toString)
          .foreachBatch { (batch: DataFrame, epoch: Long) =>
            operators.Dedup.dedupIngestEpoch(st)(batch, epoch)
            applied :+= epoch
            if (crashAfter.contains(epoch))
              throw new RuntimeException("injected crash: store committed, marker not")
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination()
        catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
      }
      run(crashAfter = Some(1L))
      run(crashAfter = None)
      applied.count(_ == 1L) shouldBe 2 // the replay really happened
      val cuts = operators.Dedup.stateCuts(st.table("state")).distinct()
      val got = core.Tables.documents(spark, dir.toString)
        .join(cuts, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"),
          org.apache.spark.sql.functions.size(
            graft.functions.TextFunctions.tokens(col("text")))
            .cast("long").as("n_tokens"))
        .orderBy("doc_id").collect().map(_.toString).toSeq
      got shouldBe truth
      // the engineered dups were actually cut: first occurrence (5) kept,
      // later copies (40, 65, 95) cut
      val cutIds = cuts.collect().map(_.getLong(0)).toSet
      cutIds should contain allOf (40L, 65L, 95L)
      cutIds should not contain 5L
      // no double-appended signatures after the replay: one sig row per doc
      val sigCounts = operators.Dedup.stateSig(st.table("state"))
        .groupBy("doc_id").count().filter(col("count") > 1).count()
      sigCounts shouldBe 0L
    } finally {
      operators.EventsOps.rmTree(srcDir)
      operators.EventsOps.rmTree(ckpt)
      operators.EventsOps.rmTree(storeRoot)
    }
  }
}
