package graft

import org.apache.spark.sql.functions._
import graft.core.Resources
import graft.operators.{Dedup, DedupClusters, SearchOps}

/** The driver's resources for a session: a scoped pin gives its blocks
  * back, the bounded collect is bounded in bytes as well as rows, and
  * repeated serves and streamed epochs leave pinned blocks and temp dirs
  * as they found them. */
class ResourcesSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("a scoped pin releases its blocks when its body returns or throws") {
    val df = spark.range(0, 50).toDF("id").withColumn("v", col("id") * 2)
    val before = persistedRdds
    Resources.pinned(df) { p =>
      (persistedRdds -- before).size shouldBe 1
      // a pinned frame pins as itself: no second checkpoint
      Resources.pin(p) should be theSameInstanceAs p
      p.agg(sum("v")).head.getLong(0)
    } shouldBe (0L until 50L).map(_ * 2).sum
    (persistedRdds -- before) shouldBe empty
    intercept[IllegalStateException] {
      Resources.pinned(df)(_ => throw new IllegalStateException("boom"))
    }
    (persistedRdds -- before) shouldBe empty
  }

  test("a collect under the row ceiling but over the byte budget returns None") {
    // band rows as the dedup kernel collects them: (doc_id, n, band, md5)
    def bands(n: Long) = spark.range(n).select(col("id").as("doc_id"), col("id").as("n"),
      (col("id") % 4).cast("int").as("band"), md5(col("id").cast("string")).as("bv"))
    // 8 + 8 + 4 + 20 B (a string's default width) a row, under the 4M-id
    // ceiling at 8 B an id
    val fit = Resources.MaxBroadcastCandidateDocs * 8L / 40L
    Resources.collectUnder(bands(fit + 1), Resources.MaxBroadcastCandidateDocs) shouldBe None
  }

  test("repeated BM25 serves and streamed cluster epochs leave blocks and temp dirs flat") {
    val n = 3
    val st = SearchOps.maintainedIndex(spark, sf) // the memo root outlives the window
    val (blocks0, tmp0) = (persistedRdds, tmpEntries("graft-"))
    // q209 (a streamed scratch store serving BM25) and the hybrid gates'
    // BM25 leg over the maintained index. The serves stay reachable until
    // the checks: a pin nothing releases would otherwise only go at the
    // ContextCleaner's next GC
    val serves = (1 to n).flatMap(_ => Seq(SearchOps.q209.build(spark, sf),
      SearchOps.bm25FromIndex(st, Seq("dup", "window"), 50)))
    serves.foreach(df => Resources.pinned(df)(_.collect()).length should be > 0)
    // q224's streamed cluster store over n epochs
    Resources.pinned(DedupClusters.streamedClusterServe(slices = n,
        sinkName = "resources_flat_sink")(spark, sf)(Dedup.clusterLabels))(_.collect())
      .length should be > 0
    (persistedRdds -- blocks0) shouldBe empty
    (tmpEntries("graft-") -- tmp0) shouldBe empty
    serves.size shouldBe 2 * n
  }
}
