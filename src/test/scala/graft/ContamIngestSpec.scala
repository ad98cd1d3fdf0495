package graft

import org.apache.spark.sql.functions._
import graft.operators.CorpusOps
import graft.sources.TableStore

/** Incremental decontamination (q213): verdict rows appended per epoch
  * through the ledger, parity with the monolithic q63, replay no-ops,
  * and the live foreachBatch sink. */
class ContamIngestSpec extends SparkSpec {
  import spark.implicits._

  // 12-token docs: doc 10 is a benchmark doc; docs 60 and 75 copy its
  // text (8-gram overlap), doc 61 shares a 7-gram tail only (no hit)
  private def mkDocs: org.apache.spark.sql.DataFrame = {
    val benchText = (1 to 12).map(i => s"b$i").mkString(" ")
    val rows: Seq[(Long, String)] = (Seq(10L -> benchText) ++
      (11L to 49L).map(i => i -> (s"bench filler $i " + (1 to 9).map(j => s"x${i}_$j").mkString(" "))) ++
      Seq(60L -> benchText, 75L -> (benchText + " tail"),
        61L -> ((6 to 12).map(i => s"b$i").mkString(" ") + " y1 y2 y3 y4 y5")) ++
      (62L to 74L).map(i => i -> ((1 to 12).map(j => s"u${i}_$j").mkString(" "))))
    rows.toDF("doc_id", "text")
  }

  private def monolithic(docs: org.apache.spark.sql.DataFrame) = {
    import graft.functions.TextFunctions._
    val sh = docs.withColumn("t", tokens(col("text")))
      .withColumn("g", explode(shinglesN("t", 8)))
      .select("doc_id", "g").distinct().cache()
    val bench = broadcast(sh.filter(col("doc_id") < 50).toDF("bench_id", "g"))
    sh.filter(col("doc_id") >= 50).join(bench, Seq("g"))
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("n_shared_grams"))
      .orderBy("doc_id", "bench_id")
  }

  test("epoch appends accumulate to the monolithic verdict set; replays no-op") {
    val docs = mkDocs
    val (bench, prune) = CorpusOps.benchGramSet(docs)
    val st = new TableStore(spark, tempDir("graft-contam-spec").toString)
    try {
      st.create("contam", docs.limit(0).select(col("doc_id"),
        col("doc_id").as("bench_id"), col("doc_id").as("n_shared_grams")))
      val corpus = docs.filter(col("doc_id") >= 50)
      (0 until 3).foreach { e =>
        CorpusOps.decontamIngestEpoch(st, bench, prune)(corpus.filter(
          col("doc_id") >= 50 + e * 10L && col("doc_id") < 50 + (e + 1) * 10L),
          e.toLong)
      }
      val got = st.table("contam").orderBy("doc_id", "bench_id")
        .collect().map(_.toSeq).toSeq
      got shouldBe monolithic(docs).collect().map(_.toSeq).toSeq
      // the engineered hits were flagged the moment their epochs landed
      got.map(r => (r(0), r(1))) should contain allOf ((60L, 10L), (75L, 10L))
      got.map(_(0)) should not contain 61L // 7-gram overlap is not contamination

      // a replayed epoch no-ops on the ledger
      val rows = st.table("contam").count()
      CorpusOps.decontamIngestEpoch(st, bench, prune)(corpus, 1L)
      st.table("contam").count() shouldBe rows
    } finally bench.unpersist()
  }

  test("the live foreachBatch sink flags contamination as batches arrive") {
    implicit val sqlCtx = spark.sqlContext
    val docs = mkDocs
    val (bench, prune) = CorpusOps.benchGramSet(docs)
    val st = new TableStore(spark, tempDir("graft-contam-live").toString)
    try {
      st.create("contam", docs.limit(0).select(col("doc_id"),
        col("doc_id").as("bench_id"), col("doc_id").as("n_shared_grams")))
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val ckpt = tempDir("graft-contam-ckpt").toString
      val q = input.toDF().toDF("doc_id", "text").writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(graft.streaming.ContamIngest.contamIngestSink(st, bench, prune))
        .start()
      try {
        val rows = docs.filter(col("doc_id") >= 50)
          .collect().map(r => (r.getLong(0), r.getString(1)))
        input.addData(rows.take(13).toIndexedSeq: _*)
        q.processAllAvailable()
        // doc 60's verdict is already visible mid-stream
        st.table("contam").filter(col("doc_id") === 60L).count() shouldBe 1L
        input.addData(rows.drop(13).toIndexedSeq: _*)
        q.processAllAvailable()
        st.table("contam").orderBy("doc_id", "bench_id")
          .collect().map(_.toSeq).toSeq shouldBe
          monolithic(docs).collect().map(_.toSeq).toSeq
      } finally q.stop()
    } finally bench.unpersist()
  }

  test("a replayed contam epoch no-ops on the ledger after a crash-restart") {
    val docs = mkDocs
    val (bench, prune) = CorpusOps.benchGramSet(docs)
    val corpus = docs.filter(col("doc_id") >= 50)
    val storeRoot = tempDir("graft-contam-restart-store")
    val srcDir = tempDir("graft-contam-restart-src")
    val ckpt = tempDir("graft-contam-restart-ckpt")
    try {
      val st = new TableStore(spark, storeRoot.toString)
      st.create("contam", docs.limit(0).select(col("doc_id"),
        col("doc_id").as("bench_id"), col("doc_id").as("n_shared_grams")))
      val staged = corpus.select("doc_id", "text")
      val width = graft.operators.Epochs.stageAligned(srcDir,
        graft.operators.EventsOps.slicedStages(staged, col("doc_id"), 50L, 75L, 3), 1)
      var applied = Vector.empty[Long]
      def run(crashAfter: Option[Long]): Unit = {
        val q = spark.readStream.schema(staged.schema)
          .option("maxFilesPerTrigger", width.toString).parquet(srcDir.toString)
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt.toString)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, epoch: Long) =>
            graft.streaming.ContamIngest.contamIngestSink(st, bench, prune)(batch, epoch)
            applied :+= epoch
            if (crashAfter.contains(epoch))
              throw new RuntimeException("injected crash: store committed, marker not")
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination()
        catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
      }
      run(crashAfter = Some(0L))
      run(crashAfter = None)
      applied.count(_ == 0L) shouldBe 2 // the replay really happened
      // no duplicated verdicts, and the accumulated table is exactly the
      // monolithic result
      st.table("contam").groupBy("doc_id", "bench_id").count()
        .filter(col("count") > 1).count() shouldBe 0L
      st.table("contam").orderBy("doc_id", "bench_id")
        .collect().map(_.toSeq).toSeq shouldBe
        monolithic(docs).collect().map(_.toSeq).toSeq
    } finally {
      bench.unpersist()
      graft.operators.EventsOps.rmTree(srcDir)
      graft.operators.EventsOps.rmTree(ckpt)
      graft.operators.EventsOps.rmTree(storeRoot)
    }
  }

  test("q213 matches the monolithic q63 on real data") {
    val dir = "/root/testdata/sf0.001"
    val inc = CorpusOps.q213.build(spark, dir).collect().map(_.toSeq)
    val mono = CorpusOps.q63.build(spark, dir).collect().map(_.toSeq)
    inc should not be empty
    inc.toSeq shouldBe mono.toSeq
  }

  test("q219: the writeStream-driven verdict store matches the monolithic q63") {
    val dir = "/root/testdata/sf0.001"
    val streamed = CorpusOps.streamedContamImpl(rowsPerFile = 200L, slices = 3)(spark, dir)
      .collect().map(_.toSeq)
    val mono = CorpusOps.q63.build(spark, dir).collect().map(_.toSeq)
    streamed should not be empty
    streamed.toSeq shouldBe mono.toSeq
  }
}
