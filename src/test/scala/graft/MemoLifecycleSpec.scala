package graft

import graft.operators.{Dedup, Extras}

/** Memo lifecycle (VERDICT r5 #6): the localCheckpoint blocks behind the
  * LSH pair memo and the co-purchase graph memo must be releasable — a
  * long-lived service session otherwise accretes executor storage per
  * corpus it ever touched. Release must drop storage back to the
  * pre-build baseline AND a rebuild after release must still work. */
class MemoLifecycleSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.filter(_._2.getStorageLevel.isValid)
      .keySet.toSet

  test("releaseLshCache unpersists the pair memo's blocks back to baseline") {
    Dedup.clearLshCache() // isolate from suites that already built the memo
    val baseline = persistedIds
    val n1 = Dedup.lshVerifiedPairs(spark, sf).count()
    (persistedIds -- baseline) should not be empty
    Dedup.releaseLshCache(sf)
    (persistedIds -- baseline) shouldBe empty
    // rebuild after release still answers, repinning storage
    Dedup.lshVerifiedPairs(spark, sf).count() shouldBe n1
    Dedup.releaseLshCache(sf)
    (persistedIds -- baseline) shouldBe empty
  }

  test("releaseGraphMemo deletes the parquet graph memo and a rebuild still answers") {
    Extras.clearGraphMemo()
    Extras.graphMemoDir(spark, sf) shouldBe None
    val n1 = Extras.q154.build(spark, sf).count()
    // the memo is parquet on local disk (no long-lived JVM storage): the
    // dir exists while memoized and is gone after release
    val memoDir = Extras.graphMemoDir(spark, sf)
    memoDir should not be None
    java.nio.file.Files.exists(memoDir.get) shouldBe true
    // and the build leaves NO persistent RDD blocks behind (the r9 memo
    // pinned block-manager storage; variance fix = zero JVM residency)
    Extras.releaseGraphMemo(sf)
    Extras.graphMemoDir(spark, sf) shouldBe None
    java.nio.file.Files.exists(memoDir.get) shouldBe false
    Extras.q154.build(spark, sf).count() shouldBe n1
    Extras.releaseGraphMemo(sf)
    Extras.graphMemoDir(spark, sf) shouldBe None
  }

  test("graph memo components are lazy: cold q141 builds items but NOT the edge self-join") {
    Extras.clearGraphMemo()
    Extras.q141.build(spark, sf).count() should be > 0L
    val memoDir = Extras.graphMemoDir(spark, sf)
    memoDir should not be None
    java.nio.file.Files.exists(memoDir.get.resolve("items.parquet")) shouldBe true
    // q141 aggregates within-order pairs directly off items; paying the
    // distinct-edge shuffle for it was the r10 100x probes' worst row
    java.nio.file.Files.exists(memoDir.get.resolve("edges.parquet")) shouldBe false
    // an edge consumer then builds edges into the SAME memo dir
    Extras.q161.build(spark, sf).count() should be > 0L
    java.nio.file.Files.exists(memoDir.get.resolve("edges.parquet")) shouldBe true
    Extras.releaseGraphMemo(sf)
  }

  test("store-memo release hooks are idempotent and a rebuild still serves exactly") {
    import graft.operators.{Epochs, SearchOps, Similarity}
    // index store (q206 family): release drops the tempdir-backed memo;
    // the next gate call pays a fresh build and must answer identically
    val before = SearchOps.q206.build(spark, sf).collect().map(_.toSeq)
    Epochs.release(sf)
    Epochs.release(sf) // idempotent on an already-released dir
    SearchOps.q206.build(spark, sf).collect().map(_.toSeq).toSeq shouldBe before.toSeq
    // ivf store (q208): same contract
    val ivfBefore = Similarity.q208.build(spark, sf).collect().map(_.toSeq)
    Epochs.release(sf)
    Epochs.release(sf)
    Similarity.q208.build(spark, sf).collect().map(_.toSeq).toSeq shouldBe ivfBefore.toSeq
    // q90's signature store: release deletes its root too
    val q90Before = Dedup.q90.build(spark, sf).collect().map(_.toSeq)
    val sigRoot = Epochs.memoized(spark, sf).get("graft-sigstore")
    sigRoot should not be None
    java.nio.file.Files.exists(java.nio.file.Paths.get(sigRoot.get)) shouldBe true
    Epochs.release(sf)
    java.nio.file.Files.exists(java.nio.file.Paths.get(sigRoot.get)) shouldBe false
    Epochs.memoized(spark, sf) shouldBe empty
    Dedup.q90.build(spark, sf).collect().map(_.toSeq).toSeq shouldBe q90Before.toSeq
    Epochs.release(sf)
    // releases of a never-memoized dir are safe no-ops
    Epochs.release("/nonexistent")
  }
}
