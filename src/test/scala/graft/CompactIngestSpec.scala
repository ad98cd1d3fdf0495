package graft


/** q200's mechanics, pinned at the store level: a mid-chain compaction
  * must collapse the per-epoch file chain without changing a row, the
  * epoch ledger must survive it (a committed epoch replayed AFTER
  * compaction still no-ops), and ingest must continue on the compacted
  * chain. */
class CompactIngestSpec extends SparkSpec {

  test("compact under an append chain: rows stable, ledger survives, ingest continues") {
    import spark.implicits._
    val root = tempDir("graft-compactingest")
    try {
      val st = new graft.sources.TableStore(spark, root.toString)
      def batch(e: Int) =
        (1 to 50).map(i => (e * 1000L + i, s"v$e")).toDF("id", "tag")
      st.create("t", batch(0).limit(0))
      st.appendBatch("t", 0L, batch(0).repartition(4))
      st.appendBatch("t", 1L, batch(1).repartition(4))
      val filesBefore = st.fileCount("t")
      st.compact("t")
      val filesAfter = st.fileCount("t")
      filesAfter should be < filesBefore
      st.table("t").count() shouldBe 100L
      // a committed epoch replayed AFTER compaction must still no-op
      st.appendBatch("t", 1L, batch(1)) shouldBe false
      st.table("t").count() shouldBe 100L
      // ingest continues on the compacted chain
      st.appendBatch("t", 2L, batch(2)) shouldBe true
      st.table("t").count() shouldBe 150L
      // per-writer ledgers survive compaction independently too
      st.appendBatch("t", 0L, batch(3), appId = "other") shouldBe true
      st.appendBatch("t", 0L, batch(3), appId = "other") shouldBe false
      st.table("t").count() shouldBe 200L
    } finally operators.EventsOps.rmTree(root)
  }
}
