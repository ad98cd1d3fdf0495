package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import org.apache.spark.sql.functions._
import graft.sources.TableStore

/** Optimistic concurrency (VERDICT r5 #5): the version-pointer flip is a
  * CAS — a mutation claims the version it targets (snapshot + 1) before
  * writing any data, so of two writers racing from the same snapshot
  * exactly one commits and the other aborts with
  * ConcurrentWriteException. Lost updates (last-write-wins over an
  * unseen commit) must be impossible. */
class ConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def freshStore() =
    new TableStore(spark, tempDir("graft-store").toString)

  test("two writers from one snapshot: exactly one commits, the other aborts, no lost update") {
    val st = freshStore()
    st.create("t", Seq((1, 10L)).toDF("id", "v"))
    val snap = st.currentVersionOf("t")
    val ready = new CountDownLatch(2)
    val pool = Executors.newFixedThreadPool(2)
    def writer(tag: String) = pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
      def call(): Option[Throwable] =
        try {
          ready.countDown(); ready.await(30, TimeUnit.SECONDS)
          st.publishFrom("t", Seq((1, tag)).toDF("id", "v"), expected = snap)
          None
        } catch { case e: Throwable => Some(e) }
    })
    val outcomes = Seq(writer("a"), writer("b")).map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()

    val failures = outcomes.flatten
    withClue(s"outcomes: $outcomes") {
      failures.length shouldBe 1
      failures.head shouldBe a[TableStore.ConcurrentWriteException]
    }
    // exactly one writer's rows are live; the loser wrote nothing
    st.currentVersionOf("t") shouldBe snap + 1
    Seq("a", "b") should contain(st.table("t").head.getString(1))
  }

  test("a stale-snapshot writer conflicts instead of clobbering a newer commit") {
    val st = freshStore()
    st.create("t", Seq((1, "a")).toDF("id", "v"))
    val stale = st.currentVersionOf("t") // v0, pinned before the next commit
    st.update("t", col("id") === 1, Map("v" -> lit("b"))) // advances to v1
    st.table("t").head.getString(1) shouldBe "b"
    // a writer whose transform derived from v0 targets v1 — already
    // claimed by the committed update, so the CAS rejects it
    an[TableStore.ConcurrentWriteException] should be thrownBy
      st.publishFrom("t", Seq((1, "stale")).toDF("id", "v"), expected = stale)
    st.table("t").head.getString(1) shouldBe "b" // commit intact
  }

  test("sequential single-writer flow is unchanged by the CAS") {
    val st = freshStore()
    st.create("t", Seq((1, 1L)).toDF("id", "v"))
    st.insert("t", Seq((2, 2L)).toDF("id", "v"))
    st.update("t", col("id") === 1, Map("v" -> lit(10L)))
    st.delete("t", col("id") === 2)
    st.table("t").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq shouldBe Seq((1, 10L))
    st.currentVersionOf("t") shouldBe 3
  }

  test("abandoned claim wedges writers loudly and releaseAbandonedClaim recovers") {
    val st = freshStore()
    st.create("t", Seq((1, "a")).toDF("id", "v"))
    // simulate a writer that DIED between claim and flip: the claim is on
    // disk but owned by no live thread
    st.plantDeadClaim("t", st.currentVersionOf("t") + 1)
    an[TableStore.ConcurrentWriteException] should be thrownBy
      st.update("t", col("id") === 1, Map("v" -> lit("b")))
    // within the lease the owner might be a live writer in another
    // process — refuse
    st.releaseAbandonedClaim("t") shouldBe false
    // lease expired (0 ms): provably-dead, released
    st.releaseAbandonedClaim("t", leaseMs = 0L) shouldBe true
    st.update("t", col("id") === 1, Map("v" -> lit("b")))
    st.table("t").head.getString(1) shouldBe "b"
  }

  test("a mid-publish claim survives a concurrent releaseAbandonedClaim") {
    val st = freshStore()
    st.create("t", Seq((1, "a")).toDF("id", "v"))
    val next = st.currentVersionOf("t") + 1
    // a LIVE writer's claim (registered in-flight, as during publish)
    st.claimForTest("t", next)
    // even with the lease waived, the in-process liveness check refuses:
    // releasing here would re-open the CAS under the live writer
    st.releaseAbandonedClaim("t", leaseMs = 0L) shouldBe false
    // the claim still guards the version — another writer still conflicts
    an[TableStore.ConcurrentWriteException] should be thrownBy
      st.update("t", col("id") === 1, Map("v" -> lit("x")))
    st.deleteClaimForTest("t", next) // cleanup
  }

  test("vacuum keeps claim tombstones: a stale writer retrying after vacuum still aborts") {
    val st = freshStore()
    st.create("t", Seq((1, "a")).toDF("id", "v")) // v0
    val stale = st.currentVersionOf("t")
    st.update("t", col("id") === 1, Map("v" -> lit("b"))) // v1
    st.update("t", col("id") === 1, Map("v" -> lit("c"))) // v2
    st.analyze("t") // vacuum: drops superseded data, must KEEP v1.claim
    // a writer 2 snapshots stale targets v1 — the freed number a
    // tombstone-sweeping vacuum would have re-opened (r6 lost-update hole)
    an[TableStore.ConcurrentWriteException] should be thrownBy
      st.publishFrom("t", Seq((1, "stale")).toDF("id", "v"), expected = stale)
    st.currentVersionOf("t") shouldBe stale + 2 // pointer never regressed
    st.table("t").head.getString(1) shouldBe "c"
  }

  test("stale writer with a lost tombstone is rejected BEFORE touching live append-chain data") {
    // an append-chain manifest references EVERY version dir, so a stale
    // writer that wins a freed claim and then `overwrite`s its target dir
    // would corrupt data the current snapshot still reads — the claim-time
    // currency pre-check must abort before any write happens
    val st = freshStore()
    st.create("t", Seq((1, "a")).toDF("id", "v")) // v0
    val stale = st.currentVersionOf("t")
    st.appendBatch("t", 1L, Seq((2, "b")).toDF("id", "v")) // v1, manifest refs v0+v1
    st.appendBatch("t", 2L, Seq((3, "c")).toDF("id", "v")) // v2, manifest refs v0+v1+v2
    val before = st.table("t").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    st.deleteClaimForTest("t", stale + 1) // simulate tombstone loss for v1
    an[TableStore.ConcurrentWriteException] should be thrownBy
      st.publishFrom("t", Seq((9, "clobber")).toDF("id", "v"), expected = stale)
    // the live v1 directory was never overwritten: full content survives
    st.table("t").collect().map(r => (r.getInt(0), r.getString(1))).toSet shouldBe before
    st.currentVersionOf("t") shouldBe stale + 2
  }

  test("VERSION flip refuses to regress even if a claim tombstone is lost") {
    val st = freshStore()
    st.create("t", Seq((1, "a")).toDF("id", "v")) // v0
    val stale = st.currentVersionOf("t")
    st.update("t", col("id") === 1, Map("v" -> lit("b"))) // v1
    st.update("t", col("id") === 1, Map("v" -> lit("c"))) // v2
    // simulate tombstone loss (manual cleanup, partial restore): the CAS
    // alone would now admit the stale writer — the flip guard must not
    st.deleteClaimForTest("t", stale + 1)
    an[TableStore.ConcurrentWriteException] should be thrownBy
      st.publishFrom("t", Seq((1, "stale")).toDF("id", "v"), expected = stale)
    st.currentVersionOf("t") shouldBe stale + 2
    st.table("t").head.getString(1) shouldBe "c"
  }
}
