package graft

import java.nio.file.{Files, Paths}
import graft.core.Resources
import graft.operators.{Dedup, Extras}

/** Memo lifecycle (VERDICT r5 #6): every session memo is a root on disk
  * that one `Resources.release(dir)` deletes — a long-lived service
  * session otherwise accretes storage per corpus it ever touched. A
  * build leaves no executor storage behind, release drops the memo back
  * to the pre-build baseline, and a rebuild after release answers the
  * same. */
class MemoLifecycleSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def root(kind: String): Option[String] = Resources.memoized(spark, sf).get(kind)

  test("the LSH pair memo is a parquet root: no blocks outlive its build") {
    Resources.release(sf) // isolate from suites that already built the memo
    val baseline = persistedRdds
    val n1 = Dedup.lshVerifiedPairs(spark, sf).count()
    // the shingle/minhash caches went with the build
    (persistedRdds -- baseline) shouldBe empty
    val pairs = root("graft-lsh-pairs")
    pairs should not be None
    Files.exists(Paths.get(pairs.get)) shouldBe true
    Resources.release(sf)
    root("graft-lsh-pairs") shouldBe None
    Files.exists(Paths.get(pairs.get)) shouldBe false
    // rebuild after release still answers
    Dedup.lshVerifiedPairs(spark, sf).count() shouldBe n1
    Resources.release(sf)
    (persistedRdds -- baseline) shouldBe empty
  }

  test("release deletes the parquet graph memo and a rebuild still answers") {
    Resources.release(sf)
    root("graft-graph-memo") shouldBe None
    val n1 = Extras.q154.build(spark, sf).count()
    // the memo is parquet on local disk (no long-lived JVM storage): the
    // roots exist while memoized and are gone after release
    val roots = Seq("graft-graph-memo", "graft-graph-edges").map(root)
    roots.foreach { r =>
      r should not be None
      Files.exists(Paths.get(r.get)) shouldBe true
    }
    Resources.release(sf)
    root("graft-graph-memo") shouldBe None
    roots.foreach(r => Files.exists(Paths.get(r.get)) shouldBe false)
    Extras.q154.build(spark, sf).count() shouldBe n1
    Resources.release(sf)
    root("graft-graph-memo") shouldBe None
  }

  test("graph memo components are lazy: cold q141 builds items but NOT the edge self-join") {
    Resources.release(sf)
    Extras.q141.build(spark, sf).count() should be > 0L
    root("graft-graph-memo") should not be None
    // q141 aggregates within-order pairs directly off items; paying the
    // distinct-edge shuffle for it was the r10 100x probes' worst row
    root("graft-graph-edges") shouldBe None
    // an edge consumer then builds edges over the memoized items
    val items = root("graft-graph-memo")
    Extras.q161.build(spark, sf).count() should be > 0L
    root("graft-graph-edges") should not be None
    root("graft-graph-memo") shouldBe items
    Resources.release(sf)
  }

  test("store-memo release hooks are idempotent and a rebuild still serves exactly") {
    import graft.operators.{SearchOps, Similarity}
    // index store (q206 family): release drops the tempdir-backed memo;
    // the next gate call pays a fresh build and must answer identically
    val before = SearchOps.q206.build(spark, sf).collect().map(_.toSeq)
    Resources.release(sf)
    Resources.release(sf) // idempotent on an already-released dir
    SearchOps.q206.build(spark, sf).collect().map(_.toSeq).toSeq shouldBe before.toSeq
    // ivf store (q208): same contract
    val ivfBefore = Similarity.q208.build(spark, sf).collect().map(_.toSeq)
    Resources.release(sf)
    Resources.release(sf)
    Similarity.q208.build(spark, sf).collect().map(_.toSeq).toSeq shouldBe ivfBefore.toSeq
    // q90's signature store: release deletes its root too
    val q90Before = Dedup.q90.build(spark, sf).collect().map(_.toSeq)
    val sigRoot = root("graft-sigstore")
    sigRoot should not be None
    Files.exists(Paths.get(sigRoot.get)) shouldBe true
    Resources.release(sf)
    Files.exists(Paths.get(sigRoot.get)) shouldBe false
    Resources.memoized(spark, sf) shouldBe empty
    Dedup.q90.build(spark, sf).collect().map(_.toSeq).toSeq shouldBe q90Before.toSeq
    Resources.release(sf)
    // releases of a never-memoized dir are safe no-ops
    Resources.release("/nonexistent")
  }
}
