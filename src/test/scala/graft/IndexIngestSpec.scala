package graft

import org.apache.spark.sql.functions._
import graft.obs.Trace
import graft.operators.SearchOps
import graft.sources.TableStore

/** Incremental retrieval-index maintenance (q206/q207): read-free
  * per-epoch appends into the kind-tagged index store, term-pruned
  * serving reads, and score parity with the monolithic recomputation. */
class IndexIngestSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("maintained BM25 and conjunctive serving match the monolithic recomputation") {
    val dir = "/root/testdata/sf0.001"
    val inc206 = SearchOps.q206.build(spark, dir).collect().map(_.toSeq)
    val mono101 = SearchOps.q101.build(spark, dir).collect().map(_.toSeq)
    inc206 should not be empty
    inc206.toSeq shouldBe mono101.toSeq

    val inc207 = SearchOps.q207.build(spark, dir).collect().map(_.getLong(0))
    val mono99 = SearchOps.q99.build(spark, dir).collect().map(_.getLong(0))
    inc207 should not be empty
    inc207.toSeq shouldBe mono99.toSeq
  }

  test("epochs append read-free and replay as no-ops; serving reads term-prune the store") {
    val st = new TableStore(spark, tempDir("graft-index").toString)
    SearchOps.buildSearchIndex(st, docsDf().limit(0))
    // four epochs with token ranges spread across the alphabet, so
    // kind-0 files carry genuinely disjoint term ranges; the lowered
    // auto-compaction trigger makes the POLICY fire mid-loop (never the
    // test), collapsing the chain with the layout-preserving compaction
    val confKey = "spark.graft.state.autoCompactVersions"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey, "3")
    try {
      (0 until 4).foreach { e =>
        val batch = docsDf((0 until 6).map { i =>
          val id = e * 10L + i
          (id, (0 until 8).map(j => f"w${(e * 6 + i) % 24}%02d_$j").mkString(" ") + " shared")
        }: _*)
        SearchOps.indexIngestEpoch(st)(batch, e.toLong)
      }
    } finally prev match {
      case Some(v) => spark.conf.set(confKey, v)
      case None => spark.conf.unset(confKey)
    }
    // the policy compacted at least once: the chain is shorter than the
    // number of appended epochs
    st.chainLength("index") should be < 4
    val rows = st.table("index").count()

    // replay: the epoch ledger no-ops a committed epoch
    SearchOps.indexIngestEpoch(st)(docsDf(99L -> "never lands"), 3L)
    st.table("index").count() shouldBe rows

    // a one-term probe schedules strictly fewer kind-0 files than the
    // snapshot holds (string min/max pruning is REAL, and it survived
    // the policy compaction above)
    val (df, rep) = st.scanSkippingIn("index",
      Seq(graft.sources.FileStats.ColumnRange("kind", Some(0), Some(0))),
      "w", Seq("w00_0"))
    rep.filesRead should be < rep.filesTotal
    df.filter(col("w") === "w00_0").select("doc_id").as[Long].collect() should not be empty

    // the serving path's doc-length read prunes to the MATCHED docs —
    // both traced reads schedule fewer files than the snapshot holds
    val (served, events) =
      Trace.capture(SearchOps.bm25FromIndex(st, Seq("w00_0"), 5).collect())
    served should not be empty
    val reads = storeReads(events)
    reads.map(_._1).sorted shouldBe Seq("index.doclen", "index.postings")
    reads.foreach { case (tag, total, read) =>
      withClue(s"$tag $read/$total: ") { read should be < total }
    }

    // the maintained stats partials sum to the corpus truth
    val stats = st.table("index").filter(col("kind") === 2)
      .agg(sum("n_docs"), sum("sum_dl")).head()
    stats.getLong(0) shouldBe 24L
    stats.getLong(1) shouldBe 24L * 9L
  }

  test("a live stream maintains the index through the foreachBatch sink") {
    implicit val sqlCtx = spark.sqlContext
    val st = new TableStore(spark, tempDir("graft-index-stream").toString)
    SearchOps.buildSearchIndex(st, docsDf().limit(0))
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val ckpt = tempDir("graft-index-ckpt").toString
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(graft.streaming.IndexIngest.indexIngestSink(st))
      .start()
    try {
      input.addData(1L -> "alpha beta gamma", 2L -> "beta delta")
      q.processAllAvailable()
      input.addData(3L -> "beta epsilon zeta")
      q.processAllAvailable()
      // df(beta) spans both micro-batches; the shortest doc ranks first,
      // the two equal-length docs tiebreak by id
      val hits = SearchOps.bm25FromIndex(st, Seq("beta"), 3).collect()
      hits.map(_.getLong(0)).toSeq shouldBe Seq(2L, 1L, 3L)
    } finally q.stop()
  }

  test("a replayed index-ingest epoch no-ops on the store ledger after a crash-restart") {
    val docs = docsDf((1L to 24L).map { i =>
      (i, (0 until 6).map(j => f"t${i % 12}%02d_$j").mkString(" ") + " shared")
    }: _*)
    val storeRoot = tempDir("graft-index-restart-store")
    val srcDir = tempDir("graft-index-restart-src")
    val ckpt = tempDir("graft-index-restart-ckpt")
    try {
      val st = new TableStore(spark, storeRoot.toString)
      SearchOps.buildSearchIndex(st, docs.limit(0))
      val width = graft.operators.Epochs.stageAligned(srcDir,
        graft.operators.EventsOps.slicedStages(docs, col("doc_id"), 1L, 24L, 4), 1)
      var applied = Vector.empty[Long]
      def run(crashAfter: Option[Long]): Unit = {
        val q = spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", width.toString).parquet(srcDir.toString)
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt.toString)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, epoch: Long) =>
            graft.streaming.IndexIngest.indexIngestSink(st)(batch, epoch)
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
      // no double-appended rows: one doc-length row per doc, stats
      // partials sum to the corpus truth, not truth + a replayed batch
      st.table("index").filter(col("kind") === 1)
        .groupBy("doc_id").count().filter(col("count") > 1).count() shouldBe 0L
      val stats = st.table("index").filter(col("kind") === 2)
        .agg(sum("n_docs"), sum("sum_dl")).head()
      stats.getLong(0) shouldBe 24L
      stats.getLong(1) shouldBe 24L * 7L
    } finally {
      graft.operators.EventsOps.rmTree(srcDir)
      graft.operators.EventsOps.rmTree(ckpt)
      graft.operators.EventsOps.rmTree(storeRoot)
    }
  }

  test("q211/q212 serve q119/q125 exactly, and their plans scan only the store") {
    val dir = "/root/testdata/sf0.001"
    def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
      def walk(p: SparkPlan): Seq[String] = {
        val self = p match {
          case f: FileSourceScanExec =>
            f.relation.location.rootPaths.map(_.toString)
          case _ => Nil
        }
        val nested = p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
          case c: InMemoryTableScanExec => walk(c.relation.cachedPlan)
          case _ => Nil
        }
        self ++ nested ++ p.children.flatMap(walk) ++ p.subqueries.flatMap(walk)
      }
      walk(df.queryExecution.executedPlan)
    }
    val inc211 = SearchOps.q211.build(spark, dir)
    inc211.collect().map(_.toSeq).toSeq shouldBe
      SearchOps.q119.build(spark, dir).collect().map(_.toSeq).toSeq
    val p211 = scanPaths(inc211)
    p211 should not be empty
    // serving never touches corpus text: every file scan is store-rooted
    all(p211) should include("graft-search-index")

    val inc212 = SearchOps.q212.build(spark, dir)
    inc212.collect().map(_.toSeq).toSeq shouldBe
      SearchOps.q125.build(spark, dir).collect().map(_.toSeq).toSeq
    val p212 = scanPaths(inc212)
    p212 should not be empty
    all(p212) should include("graft-search-index")
  }

  test("q215: the maintained chunk index serves q165's exact passages, term-pruned") {
    val dir = "/root/testdata/sf0.001"
    val inc = SearchOps.q215.build(spark, dir).collect().map(_.toSeq)
    val mono = SearchOps.q165.build(spark, dir).collect().map(_.toSeq)
    inc should not be empty
    inc.toSeq shouldBe mono.toSeq
  }

  test("chunk-index epochs replay as no-ops, serve through the live sink, and prune both reads") {
    implicit val sqlCtx = spark.sqlContext
    val st = new TableStore(spark, tempDir("graft-chunk-spec").toString)
    SearchOps.buildChunkIndex(st, docsDf().limit(0))
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val ckpt = tempDir("graft-chunk-ckpt").toString
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(graft.streaming.IndexIngest.chunkIndexIngestSink(st))
      .start()
    try {
      // long docs (>64 tokens) so chunking genuinely splits; the probe
      // term sits in ONE chunk of doc 1 and nowhere in doc 2
      val mk = (id: Long, inject: String, at: Int) => {
        val toks = (0 until 150).map(j => f"tok${id}_$j").updated(at, inject)
        (id, toks.mkString(" "))
      }
      input.addData(mk(1L, "needle", 100), mk(2L, "hay", 10))
      q.processAllAvailable()
      input.addData(mk(3L, "needle", 5))
      q.processAllAvailable()
      val hits = SearchOps.chunkBm25FromIndex(st, Seq("needle"), 5).collect()
      // 0-based token 100 sits in BOTH overlapping chunks 1 (48..111)
      // and 2 (96..149) of doc 1; token 5 in chunk 0 of doc 3
      hits.map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
        Set((1L, 1L), (1L, 2L), (3L, 0L))
      val rows = st.table("chunkindex").count()
      // direct replay of a committed epoch no-ops on the ledger
      SearchOps.chunkIndexIngestEpoch(st)(
        Seq(99L -> "never lands").toDF("doc_id", "text"), 1L)
      st.table("chunkindex").count() shouldBe rows
      // both serving reads schedule fewer files than the snapshot holds
      val (_, events) =
        Trace.capture(SearchOps.chunkBm25FromIndex(st, Seq("needle"), 5).collect())
      val reads = storeReads(events).filter(_._1.startsWith("chunkindex."))
      reads.map(_._1).sorted shouldBe Seq("chunkindex.lens", "chunkindex.postings")
      reads.foreach { case (tag, total, read) =>
        withClue(s"$tag $read/$total: ") { read should be < total }
      }
    } finally q.stop()
  }

  test("q216: a time-travel snapshot serves the index exactly as it stood after its epoch") {
    val dir = "/root/testdata/sf0.001"
    val snap = SearchOps.q216.build(spark, dir).collect().map(_.toSeq)
    snap should not be empty
    // monolithic recomputation over the same 2-epoch corpus prefix: stage
    // the prefix as its own corpus dir and run the q101 gate on it
    val docs = core.Tables.documents(spark, dir)
    val r = docs.agg(min("doc_id"), max("doc_id")).head()
    val cut = r.getLong(0) + 2 * ((r.getLong(1) - r.getLong(0)) / 4 + 1)
    val prefixDir = tempDir("graft-tt-prefix")
    docs.filter(col("doc_id") < cut)
      .write.mode("overwrite").parquet(s"$prefixDir/documents.parquet")
    val mono = SearchOps.q101.build(spark, prefixDir.toString)
      .collect().map(_.toSeq)
    snap.toSeq shouldBe mono.toSeq
  }

  test("q209: the writeStream-driven index store serves q101's exact results") {
    val dir = "/root/testdata/sf0.001"
    val streamed = SearchOps.streamedIndexImpl(rowsPerFile = 200L, slices = 3)(spark, dir)
      .collect().map(_.toSeq)
    val mono = SearchOps.q101.build(spark, dir).collect().map(_.toSeq)
    streamed should not be empty
    streamed.toSeq shouldBe mono.toSeq
  }

  test("q218: the writeStream-driven chunk store serves q165's exact passages") {
    val dir = "/root/testdata/sf0.001"
    val streamed = SearchOps.streamedChunkIndexImpl(rowsPerFile = 200L, slices = 3)(spark, dir)
      .collect().map(_.toSeq)
    val mono = SearchOps.q165.build(spark, dir).collect().map(_.toSeq)
    streamed should not be empty
    streamed.toSeq shouldBe mono.toSeq
  }

  test("a BM25 serve bounds its matched-doc collect in one job") {
    val st = SearchOps.maintainedIndex(spark, "/root/testdata/sf0.001")
    val terms = Seq("dup", "window")
    val warm = SearchOps.bm25FromIndex(st, terms, 20).collect()
    warm should not be empty
    // matched doc ids are read once, bounded at the ceiling + 1, instead
    // of a count() and then a collect() of the same frame (4 SQL
    // executions and 13 jobs before)
    val serve = sparkActivity(SearchOps.bm25FromIndex(st, terms, 20).collect())
    serve.sqlExecutions shouldBe 3
    serve.jobs should be <= 10
  }
}
