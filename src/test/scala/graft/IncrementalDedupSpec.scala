package graft

import java.nio.file.Files
import graft.operators.Dedup
import graft.sources.TableStore

/** Incremental dedup (VERDICT r2 #6): a new batch dedupes against a
  * PERSISTED signature store — corpus text must not be consulted at
  * query time, and the delta result must agree with the monolithic
  * LSH detector on the same universe. */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def mkDocs(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")

  test("batch near-dups are found against stored signatures and within the batch") {
    val st = new TableStore(spark, tempDir("graft-sig").toString)
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = mkDocs(Seq(
      1L -> base,
      2L -> "completely unrelated text about distributed query engines and shuffles here",
      3L -> "yet another document with no resemblance to anything else written so far"))
    Dedup.buildSignatureStore(st, corpus)

    val batch = mkDocs(Seq(
      10L -> base, // exact dup of stored doc 1
      11L -> "fresh content that matches nothing in the corpus or in this batch",
      12L -> "brand new shared sentence repeated verbatim in one more batch document",
      13L -> "brand new shared sentence repeated verbatim in one more batch document"))
    val pairs = Dedup.incrementalLshPairs(spark, st, batch)
      .orderBy("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    pairs.map(p => (p._1, p._2)).toSeq shouldBe Seq((1L, 10L), (12L, 13L))
    pairs.foreach(_._3 shouldBe 1.0) // exact dups: hashed Jaccard 1.0
  }

  test("the delta plan scans only the signature store, never corpus text") {
    val st = new TableStore(spark, tempDir("graft-sig2").toString)
    Dedup.buildSignatureStore(st, mkDocs(Seq(1L -> "alpha beta gamma delta epsilon zeta")))
    val batch = mkDocs(Seq(10L -> "alpha beta gamma delta epsilon zeta"))
    // the production path returns an eager checkpoint (planless), so
    // inspect the kernel's raw dataflow via the shape seam: every file
    // location it would read must live under the store root — no path
    // back to corpus documents (which never even existed as files)
    val (newSig, newTh) = Dedup.signatureFrames(batch)
    val k = Dedup.incrementalLshKernel(spark, st.table("sig"), st.table("shh"),
      newSig, newTh, materialize = false)
    val plan = k.pairs.queryExecution.executedPlan.toString
    val locs = "file:[^\\]\\s,]*".r.findAllIn(plan).toSeq.filterNot(_.isEmpty)
    locs should not be empty // stored sig + shh parquet are really read
    locs.foreach(_ should include("graft-sig2"))
  }

  test("q90 delta pairs equal the monolithic LSH pairs restricted to the batch") {
    val delta = Dedup.q90.build(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mono = Dedup.q48.build(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => p._1 % 5 == 0 || p._2 % 5 == 0).toSet
    delta shouldBe mono
  }


  test("broadcast-guard fallback: un-hinted candidate prune returns identical pairs") {
    // ADVICE r12: above MaxBroadcastCandidateDocs the kernel must DROP the
    // forced broadcast hint (band-value skew can make candidates grow with
    // the corpus — collecting them to the driver is the OOM). Force the
    // fallback with a zero ceiling and check the result is unchanged.
    val docs = graft.core.Tables.documents(spark, sf).select("doc_id", "text")
    val (sig, th) = Dedup.signatureFrames(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 5 =!= 0))
    val (nsig, nth) = Dedup.signatureFrames(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 5 === 0))
    nsig.persist(); nth.persist()
    try {
      def run(ceiling: Long): Set[(Long, Long)] = {
        val k = Dedup.incrementalLshKernel(spark, sig, th, nsig, nth,
          maxBroadcastCand = ceiling)
        try k.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        finally k.release()
      }
      val hinted = run(graft.core.Resources.MaxBroadcastCandidateDocs)
      val fallback = run(0L)
      hinted should not be empty
      fallback shouldBe hinted
    } finally { nsig.unpersist(); nth.unpersist(); () }
  }

  test("compactSignatureStore keeps delta results and restores file pruning") {
    val st = new TableStore(spark, tempDir("graft-sigcompact").toString)
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    Dedup.buildSignatureStore(st, mkDocs(Seq(
      1L -> base,
      2L -> "completely unrelated text about distributed query engines and shuffles here")))
    // grow the store the way the sink does: several epochs of appends
    (1 to 3).foreach { e =>
      val keep = mkDocs((0 until 6).map { i =>
        val id = e * 100L + i
        (id, s"epoch $e doc $i " + Seq.tabulate(10)(j => s"w${id}_$j").mkString(" "))
      })
      val (sig, shh) = Dedup.signatureFrames(keep)
      st.appendBatch("shh", e.toLong, Dedup.sinkShhLayout(shh))
      st.appendBatch("bands", e.toLong, Dedup.sinkBandsLayout(sig))
      st.appendBatch("sig", e.toLong, sig)
    }
    val batch = mkDocs(Seq(
      900L -> base, // near-dup of the seeded doc 1
      901L -> "fresh content that matches nothing stored anywhere at all"))
    def pairsNow() = Dedup.incrementalLshPairs(spark, st, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = pairsNow()
    before shouldBe Set((1L, 900L))
    Dedup.compactSignatureStore(st, minFiles = 8)
    // chain collapsed: every table back to a single live version's files
    val (after, events) = graft.obs.Trace.capture(pairsNow())
    after shouldBe before
    val shh = storeReads(events).filter(_._1 == "shh")
    shh should not be empty
    // the compacted store still file-prunes: the 2 candidate docs hit
    // a strict subset of the 8 clustered files
    shh.foreach { case (_, total, read) =>
      withClue(s"shh skip $read/$total: ") { read should be < total }
    }
    // the ledger survived: a replayed sink epoch still no-ops
    val n = st.table("sig").count()
    st.appendBatch("sig", 3L, Dedup.signatureFrames(batch)._1)
    st.table("sig").count() shouldBe n
  }
}
