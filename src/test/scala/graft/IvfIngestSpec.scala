package graft

import org.apache.spark.sql.functions._
import graft.obs.Trace
import graft.operators.Similarity
import graft.sources.TableStore

/** Maintained IVF index (q208): read-free list appends, the probed-
  * cluster file prune, layout-preserving compaction, and parity with
  * the monolithic q51 probe. */
class IvfIngestSpec extends SparkSpec {
  import spark.implicits._

  test("maintained probe matches the monolithic q51 across epochs and a mid-build compaction") {
    val dir = "/root/testdata/sf0.001"
    val inc = Similarity.q208.build(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val mono = Similarity.q51.build(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    inc should not be empty
    inc.toSeq shouldBe mono.toSeq
  }

  test("epochs replay as no-ops and the probe reads only the queried clusters' files") {
    val st = new TableStore(spark, tempDir("graft-ivf-spec").toString)
    val empty = Seq.empty[(Long, Int, Array[Float])].toDF("vec_id", "label", "embedding")
    Similarity.buildIvfStore(st, empty)
    // 4 epochs × 8 vectors across 8 labels, 64 dims, deterministic values
    (0 until 4).foreach { e =>
      val batch = (0 until 8).map { i =>
        val id = e * 8L + i
        (id, (id % 8).toInt,
          Array.tabulate(64)(j => ((id * 31 + j * 7) % 97).toFloat / 97f))
      }.toDF("vec_id", "label", "embedding")
      Similarity.ivfIngestEpoch(st)(batch, e.toLong)
    }
    val rows = st.table("ivf").count()

    // replay of a committed epoch no-ops on the ledger
    Similarity.ivfIngestEpoch(st)(
      Seq((99L, 0, Array.fill(64)(0f))).toDF("vec_id", "label", "embedding"), 3L)
    st.table("ivf").count() shouldBe rows

    // the 2 query vectors land in 2 of the 8 labels, so the probe must
    // schedule strictly fewer files than the snapshot holds (the
    // inverted-list seek is REAL file skipping, not a post-scan filter)
    val (out, events) = Trace.capture(Similarity.ivfProbe(st, nQueries = 2, k = 3).collect())
    out should not be empty
    val probe = storeReads(events).filter(_._1 == "ivf.lists")
    probe should have size 1
    val (_, total, read) = probe.head
    withClue(s"ivf.lists $read/$total: ") { read should be < total }

    // layout-preserving compaction: chain collapses, results and the
    // prune both survive
    st.compactClustered("ivf", Seq("kind", "label", "vec_id", "i"), 8)
    val before = Similarity.ivfProbe(st, nQueries = 2, k = 3).collect().toSeq
    val (after, compactedEvents) =
      Trace.capture(Similarity.ivfProbe(st, nQueries = 2, k = 3).collect().toSeq)
    after shouldBe before
    val compactedProbe = storeReads(compactedEvents).filter(_._1 == "ivf.lists")
    val (_, cTotal, cRead) = compactedProbe.head
    withClue(s"post-compact ivf.lists $cRead/$cTotal: ") { cRead should be < cTotal }
  }

  private def vecRows(ids: Seq[Long]) = ids.map { id =>
    (id, (id % 8).toInt,
      Array.tabulate(64)(j => ((id * 31 + j * 7) % 97).toFloat / 97f))
  }

  test("a live stream maintains the IVF lists through the foreachBatch sink") {
    implicit val sqlCtx = spark.sqlContext
    val st = new TableStore(spark, tempDir("graft-ivf-live").toString)
    val empty = Seq.empty[(Long, Int, Array[Float])].toDF("vec_id", "label", "embedding")
    Similarity.buildIvfStore(st, empty)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Int, Array[Float])]
    val ckpt = tempDir("graft-ivf-live-ckpt").toString
    val q = input.toDF().toDF("vec_id", "label", "embedding").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(graft.streaming.IndexIngest.ivfIngestSink(st))
      .start()
    try {
      input.addData(vecRows(0L until 8L): _*)
      q.processAllAvailable()
      input.addData(vecRows(8L until 16L): _*)
      q.processAllAvailable()
      // every vector landed exactly once across the two micro-batches
      st.table("ivf").filter(col("kind") === 1).count() shouldBe 16L
      val out = Similarity.ivfProbe(st, nQueries = 2, k = 3).collect()
      out.map(_.getLong(0)).distinct.sorted.toSeq shouldBe Seq(0L, 1L)
    } finally q.stop()
  }

  test("a replayed IVF-ingest epoch no-ops on the store ledger after a crash-restart") {
    val vecs = vecRows(0L until 32L).toDF("vec_id", "label", "embedding")
    val storeRoot = tempDir("graft-ivf-restart-store")
    val srcDir = tempDir("graft-ivf-restart-src")
    val ckpt = tempDir("graft-ivf-restart-ckpt")
    try {
      val st = new TableStore(spark, storeRoot.toString)
      Similarity.buildIvfStore(st, vecs.limit(0))
      val width = graft.operators.Epochs.stageAligned(srcDir,
        graft.operators.EventsOps.slicedStages(vecs, col("vec_id"), 0L, 31L, 4), 1)
      var applied = Vector.empty[Long]
      def run(crashAfter: Option[Long]): Unit = {
        val q = spark.readStream.schema(vecs.schema)
          .option("maxFilesPerTrigger", width.toString).parquet(srcDir.toString)
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt.toString)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, epoch: Long) =>
            graft.streaming.IndexIngest.ivfIngestSink(st)(batch, epoch)
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
      // no double-appended rows: one directory row per vector, and the
      // probe equals a store built by direct (never-crashed) epoch calls
      st.table("ivf").filter(col("kind") === 1)
        .groupBy("vec_id").count().filter(col("count") > 1).count() shouldBe 0L
      val direct = new TableStore(spark, tempDir("graft-ivf-restart-direct").toString)
      Similarity.buildIvfStore(direct, vecs.limit(0))
      (0 until 4).foreach { e =>
        Similarity.ivfIngestEpoch(direct)(
          vecs.filter(col("vec_id") >= e * 8L && col("vec_id") < (e + 1) * 8L),
          e.toLong)
      }
      Similarity.ivfProbe(st, nQueries = 2, k = 3).collect().toSeq shouldBe
        Similarity.ivfProbe(direct, nQueries = 2, k = 3).collect().toSeq
    } finally {
      graft.operators.EventsOps.rmTree(srcDir)
      graft.operators.EventsOps.rmTree(ckpt)
      graft.operators.EventsOps.rmTree(storeRoot)
    }
  }

  test("q210: the writeStream-driven IVF store serves q51's exact results") {
    val dir = "/root/testdata/sf0.001"
    val streamed = Similarity.streamedIvfImpl(rowsPerFile = 200L, slices = 3)(spark, dir)
      .collect().map(_.toSeq)
    val mono = Similarity.q51.build(spark, dir).collect().map(_.toSeq)
    streamed should not be empty
    streamed.toSeq shouldBe mono.toSeq
  }

  test("q223: the maintained store reproduces q89's multi-probe sweep, recall included") {
    val dir = "/root/testdata/sf0.001"
    val served = Similarity.q223.build(spark, dir).collect()
    val mono = Similarity.q89.build(spark, dir).collect()
    served should not be empty
    served.map(_.toSeq).toSeq shouldBe mono.map(_.toSeq).toSeq
    // probe-everything must reproduce the exact baseline — the corpus-
    // structure-independent invariant (q89's contract, on the store path)
    val maxNp = served.map(_.getAs[Int]("nprobe")).max
    served.filter(_.getAs[Int]("nprobe") == maxNp)
      .foreach(r => r.getAs[Double]("recall5") shouldBe 1.0)
  }

  test("kind-2 centroid partials recompose the exact per-label mean across epochs") {
    val st = new TableStore(spark, tempDir("graft-ivf-cent").toString)
    val empty = Seq.empty[(Long, Int, Array[Float])].toDF("vec_id", "label", "embedding")
    Similarity.buildIvfStore(st, empty)
    (0 until 3).foreach { e =>
      Similarity.ivfIngestEpoch(st)(vecRows(e * 8L until (e + 1) * 8L)
        .toDF("vec_id", "label", "embedding"), e.toLong)
    }
    // recomposed centroids (sum of per-epoch partials) ≡ direct mean over
    // the union of all kind-0 component rows, bit-for-bit
    val el = st.table("ivf").filter(col("kind") === 0)
    val direct = el.groupBy("label", "i")
      .agg((sum(col("xd")).cast("double") / count(lit(1)))
        .cast("decimal(9,7)").as("cd"))
      .orderBy("label", "i").collect().map(_.toSeq)
    val fromPartials = st.table("ivf").filter(col("kind") === 2)
      .groupBy("label", "i")
      .agg((sum(col("sxd")).cast("double") / sum(col("cnt")))
        .cast("decimal(9,7)").as("cd"))
      .orderBy("label", "i").collect().map(_.toSeq)
    fromPartials.toSeq shouldBe direct.toSeq
  }

  test("reclusterIvf re-assigns drifted lists, rewrites all three kinds, and keeps the ledger") {
    val st = new TableStore(spark, tempDir("graft-ivf-recl").toString)
    val empty = Seq.empty[(Long, Int, Array[Float])].toDF("vec_id", "label", "embedding")
    Similarity.buildIvfStore(st, empty)
    // epoch 0 clean, epoch 1 drifted: every vector of epoch 1 arrives in
    // the WRONG list (label + 1 mod 8) while its values are unchanged
    Similarity.ivfIngestEpoch(st)(vecRows(0L until 8L)
      .toDF("vec_id", "label", "embedding"), 0L)
    Similarity.ivfIngestEpoch(st)(vecRows(8L until 16L)
      .map { case (id, lab, emb) => (id, (lab + 1) % 8, emb) }
      .toDF("vec_id", "label", "embedding"), 1L)
    val rowsBefore = st.table("ivf").count()
    val dirBefore = st.table("ivf").filter(col("kind") === 1)
      .select("vec_id", "label").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

    Similarity.reclusterIvf(st)

    // same row multiset SHAPE (one list row per component, one directory
    // row per vector, consolidated partials ≤ the epoch-stacked count)
    st.table("ivf").filter(col("kind") === 0).count() shouldBe 16 * 64
    st.table("ivf").filter(col("kind") === 1).count() shouldBe 16
    st.table("ivf").count() should be < rowsBefore // partials consolidated
    // the directory CHANGED (lists were re-membered), and the new
    // assignment is exactly nearest-centroid over the pre-recluster
    // centroids, so kind-0 membership matches kind-1 row for row
    val dirAfter = st.table("ivf").filter(col("kind") === 1)
      .select("vec_id", "label").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    dirAfter should not equal dirBefore
    val listLabels = st.table("ivf").filter(col("kind") === 0)
      .select("vec_id", "label").distinct()
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    listLabels shouldBe dirAfter
    // partials recompose to the means of the NEW lists
    val el = st.table("ivf").filter(col("kind") === 0)
    val direct = el.groupBy("label", "i")
      .agg((sum(col("xd")).cast("double") / count(lit(1)))
        .cast("decimal(9,7)").as("cd"))
      .orderBy("label", "i").collect().map(_.toSeq)
    val fromPartials = st.table("ivf").filter(col("kind") === 2)
      .groupBy("label", "i")
      .agg((sum(col("sxd")).cast("double") / sum(col("cnt")))
        .cast("decimal(9,7)").as("cd"))
      .orderBy("label", "i").collect().map(_.toSeq)
    fromPartials.toSeq shouldBe direct.toSeq
    // the batch ledger survived the rewrite: a replayed epoch no-ops
    val rowsAfter = st.table("ivf").count()
    Similarity.ivfIngestEpoch(st)(
      Seq((99L, 0, Array.fill(64)(0f))).toDF("vec_id", "label", "embedding"), 1L)
    st.table("ivf").count() shouldBe rowsAfter
  }

  test("a pin taken before recluster serves the pre-retrain partition afterwards") {
    // rewriteClustered is a SEMANTIC rewrite (list membership changes),
    // and pins must hold across it exactly as across compaction:
    // "yesterday's partition" stays readable after today's retrain
    val st = new TableStore(spark, tempDir("graft-ivf-pin-recl").toString)
    val empty = Seq.empty[(Long, Int, Array[Float])].toDF("vec_id", "label", "embedding")
    Similarity.buildIvfStore(st, empty)
    Similarity.ivfIngestEpoch(st)(vecRows(0L until 8L)
      .toDF("vec_id", "label", "embedding"), 0L)
    Similarity.ivfIngestEpoch(st)(vecRows(8L until 16L)
      .map { case (id, lab, emb) => (id, (lab + 1) % 8, emb) }
      .toDF("vec_id", "label", "embedding"), 1L)
    def dirOf(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("kind") === 1).select("vec_id", "label")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val before = dirOf(st.table("ivf"))
    st.pinVersion("ivf", "pre-recluster")
    Similarity.reclusterIvf(st)
    // the head was retrained (and its vacuum reclaimed unpinned
    // neighbors), yet the pinned snapshot still serves the old lists
    dirOf(st.table("ivf")) should not equal before
    dirOf(st.tableAtPin("ivf", "pre-recluster")) shouldBe before
  }

  test("iterated recluster converges: a post-convergence iteration reassigns nothing") {
    val st = new TableStore(spark, tempDir("graft-ivf-conv").toString)
    val empty = Seq.empty[(Long, Int, Array[Float])].toDF("vec_id", "label", "embedding")
    Similarity.buildIvfStore(st, empty)
    // heavily drifted: EVERY second-epoch vector mislabeled by 3 clusters
    Similarity.ivfIngestEpoch(st)(vecRows(0L until 8L)
      .toDF("vec_id", "label", "embedding"), 0L)
    Similarity.ivfIngestEpoch(st)(vecRows(8L until 16L)
      .map { case (id, lab, emb) => (id, (lab + 3) % 8, emb) }
      .toDF("vec_id", "label", "embedding"), 1L)
    def dir() = st.table("ivf").filter(col("kind") === 1)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // run Lloyd to a fixpoint (16 points / 8 seeds converge in <= 4)
    Similarity.reclusterIvf(st, iters = 4)
    val converged = dir()
    // one MORE iteration from the converged store must be the identity:
    // centroids recompose from the rewritten partials, every vector is
    // already nearest its own list's centroid
    Similarity.reclusterIvf(st, iters = 1)
    dir() shouldBe converged
  }

  test("a restarted stream replays the recluster stage to a no-op (q235's sink)") {
    // the q235 sink through a crash INJECTED ON THE RECLUSTER STAGE:
    // stage 2's append commits, the rewrite runs, then the batch
    // "fails" — the restart re-offers stage 2 and BOTH the append (epoch
    // ledger) and the rewrite (same ledger entry, checked pre-append)
    // must no-op, leaving exactly the single-run composite state
    val vecs = vecRows(0L until 32L).toDF("vec_id", "label", "embedding")
    val storeRoot = tempDir("graft-ivf-recl-restart-store")
    val srcDir = tempDir("graft-ivf-recl-restart-src")
    val ckpt = tempDir("graft-ivf-recl-restart-ckpt")
    val st = new TableStore(spark, storeRoot.toString)
    Similarity.buildIvfStore(st, vecs.limit(0))
    val width = graft.operators.Epochs.stageAligned(srcDir,
      graft.operators.EventsOps.slicedStages(vecs, col("vec_id"), 0L, 31L, 4), 1)
    def run(crashAfter: Option[Long]): Unit = {
      val q = spark.readStream.schema(vecs.schema)
        .option("maxFilesPerTrigger", width.toString).parquet(srcDir.toString)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, epoch: Long) =>
          Similarity.streamedReclusterSink(st)(batch, epoch)
          if (crashAfter.contains(epoch))
            throw new RuntimeException("injected crash: store committed, marker not")
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try q.awaitTermination()
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
    }
    run(crashAfter = Some(2L)) // crash right after the rewrite stage
    run(crashAfter = None)
    // no double-appended rows, and the final state equals a direct
    // (never-crashed) build running the same sink per epoch
    st.table("ivf").filter(col("kind") === 1)
      .groupBy("vec_id").count().filter(col("count") > 1).count() shouldBe 0L
    val direct = new TableStore(spark, tempDir("graft-ivf-recl-direct").toString)
    Similarity.buildIvfStore(direct, vecs.limit(0))
    (0 until 4).foreach { e =>
      Similarity.streamedReclusterSink(direct)(
        vecs.filter(col("vec_id") > e * 8L - 1 && col("vec_id") <= (e + 1) * 8L - 1),
        e.toLong)
    }
    st.table("ivf").filter(col("kind") === 1)
      .select("vec_id", "label").collect().map(r => r.getLong(0) -> r.getInt(1))
      .sortBy(_._1).toSeq shouldBe
      direct.table("ivf").filter(col("kind") === 1)
        .select("vec_id", "label").collect().map(r => r.getLong(0) -> r.getInt(1))
        .sortBy(_._1).toSeq
    Similarity.ivfProbe(st, nQueries = 2, k = 3).collect().toSeq shouldBe
      Similarity.ivfProbe(direct, nQueries = 2, k = 3).collect().toSeq
  }

  test("the drift policy never fires on an undrifted corpus (q234's converse)") {
    // the REAL embeddings table, NO drift injection: after the epoch-0
    // bootstrap training, every later epoch arrives nearest-centroid-
    // consistent by construction and moves the means only by sampling
    // noise — the q232 statistic must stay under the q234 threshold at
    // EVERY prefix (measured ceiling 134000 ppm across sf0.001–sf0.1)
    val dir = "/root/testdata/sf0.001"
    val raw = graft.core.Tables.embeddings(spark, dir)
      .select("vec_id", "label", "embedding")
    val r = raw.agg(min("vec_id"), max("vec_id"), count(lit(1))).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val step = (hi - lo) / 4 + 1
    val st = new TableStore(spark, tempDir("graft-ivf-nodrift").toString)
    Similarity.buildIvfStore(st, raw.limit(0))
    val trace = (0 until 4).map { e =>
      val batch = raw.filter(col("vec_id") >= lo + e * step &&
        col("vec_id") < lo + (e + 1) * step)
      Similarity.ivfIngestEpochManaged(st, Some(Similarity.DriftLimitPpm))(
        batch, e.toLong).get
    }
    // bootstrap trained: the epoch-0 post statistic collapsed
    val (_, _, ppm0, _, _, post0) = trace(0)
    withClue(s"epoch 0 pre=$ppm0 post=$post0: ") { post0 should be < ppm0 }
    // and the threshold NEVER fires — undrifted ingest is maintenance-free
    trace.zipWithIndex.foreach { case ((_, _, ppm, fired, _, _), e) =>
      withClue(s"epoch $e ppm=$ppm: ") {
        fired shouldBe false
        if (e > 0) ppm should be < Similarity.DriftLimitPpm
      }
    }
  }

  test("managed epochs release the pinned store-wide assignment") {
    val st = new TableStore(spark, tempDir("graft-ivf-managed-pins").toString)
    Similarity.buildIvfStore(st, vecRows(Nil).toDF("vec_id", "label", "embedding"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // epoch 0 bootstraps (the recluster consumes the assignment); the
    // later epochs only probe it
    (0 until 4).foreach { e =>
      Similarity.ivfIngestEpochManaged(st, Some(Similarity.DriftLimitPpm))(
        vecRows(e * 8L until (e + 1) * 8L).toDF("vec_id", "label", "embedding"),
        e.toLong)
    }
    // ids, not a count: blocks other suites left behind may be cleaned
    // meanwhile, which must not mask a new pin
    (spark.sparkContext.getPersistentRDDs.keySet -- before) shouldBe empty
  }
}
